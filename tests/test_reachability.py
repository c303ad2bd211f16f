"""Every package definition is reached from an entry point.

The entry points are the registry behind ``__spark_entry__.py``, the CLI
(``h2outility_spark/__main__.py``), ``bench.py`` with ``perfbench/``, and
``scripts/``. A top-level function, class or method in ``h2outility_spark/``
is reached if a non-test file names it outside its own definition, in code
or as a string literal (``perfbench/spans.py`` names its hook targets as
strings), or if it is ``@query``-registered. A name used only inside an
unreached definition does not count, so reachability is propagated from the
module-level code of every non-test file until it finds nothing new.

Unreached definitions fail the test unless ``KEEP`` names them with the
reason they stay. AST only; no Spark.
"""

from __future__ import annotations

import ast
import functools
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "h2outility_spark"

_SPARK_CALLBACK = "a Python DataSource callback: Spark calls it"
KEEP = {
    "sinks.annotated_header.build_series_file_header":
        "the byte-exact reference header (SURVEY S5); the export writes the generic "
        "header, which perfbench's CSV checks pin",
    "sources.parquet.load_dialect_table": "the reference's four-dialect ODM connect (SURVEY S1)",
    "sinks.rest_sink.RestUploader": "the HydroShare upload verbs (SURVEY S12)",
    "edit_session.EditSession.recorded_script": "the op-list that `qc-apply` consumes",
    "sources.txtable_source.TxTableStreamDataSource.streamReader": _SPARK_CALLBACK,
    "sources.txtable_source.TxTableCdcDataSource.streamReader": _SPARK_CALLBACK,
    "sources.txtable_source._TxVersionOffsets.initialOffset": _SPARK_CALLBACK,
    "sources.txtable_source._TxVersionOffsets.latestOffset": _SPARK_CALLBACK,
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IDENT_PATH = re.compile(r"[A-Za-z_][\w.:]*")


def _entry_files() -> list[Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for sub in ("h2outility_spark", "perfbench", "scripts"):
        files += sorted((ROOT / sub).rglob("*.py"))
    return [f for f in files if f.exists()]


def _is_query(fn: ast.AST) -> bool:
    for d in getattr(fn, "decorator_list", []):
        target = d.func if isinstance(d, ast.Call) else d
        if isinstance(target, ast.Name) and target.id == "query":
            return True
    return False


def _docstring_nodes(tree: ast.AST) -> set[int]:
    """ids of the docstring constants: prose, not references."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, *_DEFS)) and ast.get_docstring(node, clean=False) is not None:
            out.add(id(node.body[0].value))
    return out


def _names(node: ast.AST, skip: set[int]):
    """Identifiers that ``node`` names: Name, Attribute, and identifier-path strings."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in skip:
            if _IDENT_PATH.fullmatch(n.value):
                yield from re.split(r"[.:]", n.value)


def _kept(key: str, keep) -> bool:
    return any(key == k or key.startswith(k + ".") for k in keep)


@functools.cache
def _index():
    """Parse every non-test file once.

    Returns ({definition: bare name}, {method: its class}, {owner: names it
    uses}, @query definitions). An owner is a definition, or None for
    module-level code and every file outside the package.
    """
    defs: dict[str, str] = {}
    parent: dict[str, str] = {}
    refs: dict[str | None, set[str]] = {None: set()}
    roots: set[str] = set()
    for path in _entry_files():
        tree = ast.parse(path.read_text(), str(path))
        skip = _docstring_nodes(tree)
        if not path.is_relative_to(PACKAGE):
            refs[None].update(_names(tree, skip))
            continue
        mod = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        top = {s.name for s in tree.body if isinstance(s, _DEFS)}
        for stmt in tree.body:
            if not isinstance(stmt, _DEFS):
                # ``f = guard(f)`` is part of f's own definition.
                own = [t.id for t in getattr(stmt, "targets", []) if isinstance(t, ast.Name) and t.id in top]
                refs.setdefault(f"{mod}.{own[0]}" if own else None, set()).update(_names(stmt, skip))
                continue
            key = f"{mod}.{stmt.name}"
            defs[key] = stmt.name
            if _is_query(stmt):
                roots.add(key)
            owned = refs.setdefault(key, set())
            if not isinstance(stmt, ast.ClassDef):
                owned.update(_names(stmt, skip))
                continue
            for node in stmt.decorator_list + stmt.bases + stmt.keywords:
                owned.update(_names(node, skip))
            for item in stmt.body:
                if isinstance(item, _DEFS):
                    mkey = f"{key}.{item.name}"
                    defs[mkey], parent[mkey] = item.name, key
                    refs[mkey] = set(_names(item, skip))
                else:
                    owned.update(_names(item, skip))
    return defs, parent, refs, roots


def reached(keep=KEEP) -> set[str]:
    """The reached definitions; a kept one counts as reached, and so does what it names."""
    defs, parent, refs, roots = _index()
    live = set(roots) | {k for k in defs if _kept(k, keep)}
    while True:
        new = set()
        for key, name in defs.items():
            if key in live or (key in parent and parent[key] not in live):
                continue
            dunder = name.startswith("__") and name.endswith("__")
            # A definition does not reach itself: skip the names its own body uses.
            if dunder or any(name in names for owner, names in refs.items()
                             if owner != key and (owner is None or owner in live)):
                new.add(key)
        if not new:
            return live
        live |= new


def test_every_package_definition_is_reached_or_kept():
    unreached = sorted(set(_index()[0]) - reached())
    assert not unreached, (
        "package definitions that no entry point reaches (delete them, or add "
        f"them to KEEP with a reason): {unreached}"
    )


def test_keep_list_is_tight():
    """Each KEEP entry keeps something that nothing else reaches."""
    defs = _index()[0]
    stale = []
    for k in KEEP:
        covered = {d for d in defs if _kept(d, [k])}
        if not covered or covered <= reached({x for x in KEEP if x != k}):
            stale.append(k)
    assert not stale, f"KEEP entries that are reached anyway or name nothing: {stale}"
