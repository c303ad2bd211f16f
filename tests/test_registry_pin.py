"""Pin the query registry: its names and every ``oracle_sql()`` string.

The driver hashes each registered query against its oracle, so a module
move or a clean-up that silently drops an entry or edits an oracle changes
what the gate certifies. The digest below is one sha256 over the sorted
``name\\0oracle`` lines of ``workload.REGISTRY``; a deliberate oracle change
or a retired/replaced entry updates it in the same commit, with the reason.
"""

from __future__ import annotations

import ast
import hashlib
from pathlib import Path

from h2outility_spark import workload

REGISTRY_SIZE = 227
REGISTRY_DIGEST = "03bb1a1c5a27456412b7a3304fcca53df709295f149d04e369288d8ec4b2db26"


def _digest() -> str:
    lines = sorted(f"{name}\0{spec.oracle}" for name, spec in workload.REGISTRY.items())
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def test_registry_names_and_oracles_are_pinned():
    assert len(workload.REGISTRY) == REGISTRY_SIZE
    assert _digest() == REGISTRY_DIGEST


# -- registry layout (AST only) ----------------------------------------------
#
# The registry is ``workload.py`` (the mechanics) plus one module per query
# family. A family module imports other registry modules only at its top, so
# there is no cycle to dodge with a function-local or mid-module import, and
# no entry is patched after registration.

ROOT = Path(__file__).resolve().parents[1]
REGISTRY_MODULES = sorted((ROOT / "h2outility_spark").glob("workload*.py"))
FAMILY_OF_PREFIX = {
    "tpch_": "workload_tpch",
    "txtable_": "workload_txtable",
    "stream_": "workload_streaming",
}


def _imports_registry_module(node: ast.AST) -> bool:
    if isinstance(node, ast.ImportFrom):
        if node.module == "h2outility_spark":
            return any(a.name.startswith("workload") for a in node.names)
        return (node.module or "").startswith("h2outility_spark.workload")
    if isinstance(node, ast.Import):
        return any(a.name.startswith("h2outility_spark.workload") for a in node.names)
    return False


def test_registry_modules_import_each_other_only_at_the_top():
    bad = []
    for path in REGISTRY_MODULES:
        tree = ast.parse(path.read_text())
        body = tree.body
        header_end = next(
            (
                i
                for i, node in enumerate(body)
                if not isinstance(node, (ast.Import, ast.ImportFrom))
                and not (i == 0 and isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant))
            ),
            len(body),
        )
        for node in ast.walk(tree):
            if not _imports_registry_module(node):
                continue
            if node not in body:
                bad.append(f"{path.name}:{node.lineno} imports a registry module inside a block")
            elif body.index(node) > header_end and not (
                path.name == "workload.py" and node.module == "h2outility_spark"
            ):
                bad.append(f"{path.name}:{node.lineno} imports a registry module after the header")
    assert not bad, bad


def test_only_query_writes_registry_entries():
    files = [
        *(ROOT / "h2outility_spark").rglob("*.py"),
        *(ROOT / "scripts").glob("*.py"),
        *(ROOT / "perfbench").glob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    bad = []

    def writes_registry(target: ast.AST) -> bool:
        return any(
            isinstance(n, ast.Subscript)
            and (
                (isinstance(n.value, ast.Name) and n.value.id == "REGISTRY")
                or (isinstance(n.value, ast.Attribute) and n.value.attr == "REGISTRY")
            )
            for n in ast.walk(target)
        )

    for path in files:
        tree = ast.parse(path.read_text())
        allowed = set()
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and fn.name == "query" and path.name == "workload.py":
                allowed.update(id(n) for n in ast.walk(fn))
        for node in ast.walk(tree):
            if isinstance(node, (ast.Assign, ast.Delete)):
                targets = node.targets
            elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
                targets = [node.target]
            else:
                continue
            if any(writes_registry(t) for t in targets) and id(node) not in allowed:
                bad.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert not bad, f"REGISTRY written outside workload.query: {bad}"


def test_family_prefixed_queries_live_in_their_family_module():
    bad = []
    for path in REGISTRY_MODULES:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.FunctionDef):
                continue
            for deco in node.decorator_list:
                if not (
                    isinstance(deco, ast.Call)
                    and isinstance(deco.func, ast.Name)
                    and deco.func.id == "query"
                    and deco.args
                    and isinstance(deco.args[0], ast.Constant)
                ):
                    continue
                name = deco.args[0].value
                for prefix, module in FAMILY_OF_PREFIX.items():
                    if name.startswith(prefix) and path.stem != module:
                        bad.append(f"{name} in {path.name}, expected {module}.py")
    assert not bad, bad


# -- cache ownership (AST only) ----------------------------------------------
#
# A frame that a function persists is released by that function (for a
# method: by its class), or it goes through ``session.query_cache``, which
# releases it when the session's next query starts. A persist that neither
# does stays cached for the life of the session.


def _released_names(owner: ast.AST) -> set[str]:
    """What ``owner`` unpersists: each ``.unpersist()`` receiver, and what
    flows into one through a ``for`` loop, a list or tuple, or ``.append``."""
    names = {
        ast.unparse(n.func.value)
        for n in ast.walk(owner)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == "unpersist"
    }
    while True:
        more = set(names)
        for n in ast.walk(owner):
            if isinstance(n, ast.For) and ast.unparse(n.target) in names:
                more.add(ast.unparse(n.iter))
            elif isinstance(n, (ast.List, ast.Tuple)) and ast.unparse(n) in names:
                more.update(ast.unparse(e) for e in n.elts)
            elif (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "append"
                and ast.unparse(n.func.value) in names
            ):
                more.update(ast.unparse(a) for a in n.args)
        if more == names:
            return names
        names = more


def unreleased_persists() -> list[str]:
    bad = []

    def visit(node: ast.AST, owner: ast.AST, assigned: list[str], path: Path) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, child if isinstance(owner, ast.Module) else owner, [], path)
                continue
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, owner if isinstance(owner, ast.ClassDef) else child, [], path)
                continue
            targets = assigned
            if isinstance(child, ast.Assign):
                targets = [ast.unparse(t) for t in child.targets]
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("cache", "persist")
                and getattr(owner, "name", None) != "query_cache"
                and not set(targets) & _released_names(owner)
            ):
                bad.append(f"{path.relative_to(ROOT)}:{child.func.end_lineno}")
            visit(child, owner, targets, path)

    for path in sorted((ROOT / "h2outility_spark").rglob("*.py")):
        tree = ast.parse(path.read_text())
        visit(tree, tree, [], path)
    return bad


def test_every_persist_is_released_or_query_cached():
    bad = unreleased_persists()
    assert not bad, f"persisted and never released (unpersist it, or use session.query_cache): {bad}"
