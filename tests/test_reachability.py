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
reason they stay.

The same holds for options, counted by value. Across the calls in non-test
files, a defaulted parameter of a package function (or a defaulted
dataclass field) takes the literal a call passes (``ast.literal_eval``), by
keyword or by position, and its default at each call that omits it. It is
set only when it takes two or more distinct values. A bare name that the
calling module binds to a literal at top level, and nowhere else, passes
that literal. Any other non-literal argument (a name, an expression) can
take any value, so it sets the parameter, and a call that passes ``*args``
or ``**kwargs`` sets every parameter of its callee. Calls resolve by bare
name, a class name to its ``__init__`` and ``super().__init__`` to the
bases' ``__init__``. An option with one value in use is a constant: write
that value into the body, or name the option in ``KEEP_PARAMS`` with the
reason it stays. The accepted reasons: a test substitutes a fake codec; a
test lowers a threshold so fixture-scale data takes the large-input path;
the test session sets ``shuffle_partitions``; ``encode_jpeg``'s options
generate inputs the decoder must accept from outside; ``perfbench/``
passes it. "Only a test sets it" is not a reason.
Outside input is exempt: the QC ops in ``plans/oplist.OPS`` and the
``EditSession`` methods that record them (a plan JSON sets their
arguments), ``OUTSIDE_INPUT``, and the definitions that only ``KEEP`` keeps
(no entry point calls them).

Every module of the package (but ``__init__.py``), ``scripts/``,
``bench.py`` and ``__spark_entry__.py`` reads each name it imports; an
import kept for its side effect is marked ``# noqa: F401``.

AST only; no Spark.
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


# --- options -----------------------------------------------------------------

_FAKE = "a test substitutes a fake for the real codec"
_THRESHOLD = "a test lowers the threshold so fixture-scale data takes the large-input path"
_JPEG = "generates the 4:2:0 and restart-marker inputs that the decoder must accept from outside"
KEEP_PARAMS = {
    "operators.multimodal.extract_image_features.decode_fn": _FAKE,
    "operators.multimodal.resize_images.resize_fn": _FAKE,
    "operators.ivm.maintain_grouped_minmax.max_broadcast_keys": _THRESHOLD,
    "storage_tx.TxTable.compact_files.target_bytes": _THRESHOLD,
    "codecs.encode_jpeg.quality": _JPEG,
    "codecs.encode_jpeg.subsampling": _JPEG,
    "codecs.encode_jpeg.restart_interval": _JPEG,
    "session.get_spark.shuffle_partitions": "the test session (tests/conftest.py) sets it",
    "sinks.csv_sink.write_annotated_chunks_distributed.chunk_col":
        "perfbench/workloads.py passes it by position, so it cannot become a constant there",
}

_DEPLOYMENT = "a deployment setting of the HydroShare endpoint"
OUTSIDE_INPUT = {
    "__main__.main.argv": "the CLI's argument vector",
    "jobs.ManagedResource": "the fields of a `--resources` spec that the CLI's `export` reads",
    "sinks.rest_sink.post_json_partitions.auth_token": _DEPLOYMENT,
    "sinks.rest_sink.post_json_partitions.timeout": _DEPLOYMENT,
}


def _defaults(fn: ast.FunctionDef) -> tuple[list[str], dict[str, ast.expr]]:
    """(positional parameter names, {defaulted parameter name: its default})."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    kwonly = {p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}
    return pos, dict(zip(pos[len(pos) - len(a.defaults):], a.defaults)) | kwonly


def _ops_and_recorders() -> set[str]:
    """The oplist.OPS functions and the EditSession methods that record them."""
    out = set()
    for node in ast.walk(ast.parse((PACKAGE / "plans" / "oplist.py").read_text())):
        if isinstance(node, ast.AnnAssign) and getattr(node.target, "id", None) == "OPS":
            out |= {f"operators.qc.{v.attr}" for v in node.value.values}
    for node in ast.parse((PACKAGE / "edit_session.py").read_text()).body:
        if isinstance(node, ast.ClassDef) and node.name == "EditSession":
            for m in node.body:
                if any(isinstance(c, ast.Call) and getattr(c.func, "attr", None) == "_record"
                       for c in ast.walk(m)):
                    out.add(f"edit_session.EditSession.{m.name}")
    return out


def _is_dataclass(cls: ast.ClassDef) -> bool:
    return any(getattr(d, "id", None) == "dataclass" for d in cls.decorator_list)


def _dataclass_fields(cls: ast.ClassDef) -> tuple[list[str], dict[str, ast.expr]]:
    """A dataclass's fields are the parameters of its generated ``__init__``."""
    fields = [s for s in cls.body if isinstance(s, ast.AnnAssign) and isinstance(s.target, ast.Name)]
    return [f.target.id for f in fields], {f.target.id: f.value for f in fields if f.value is not None}


@functools.cache
def _options():
    """{function key: (positional names, defaulted names, self offset)} and the bare-name index.

    A class name indexes its ``__init__`` (a dataclass: its fields, under the class key).
    """
    funcs: dict[str, tuple[list[str], dict[str, ast.expr], int]] = {}
    by_name: dict[str, list[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        mod = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        for stmt in ast.parse(path.read_text(), str(path)).body:
            key = f"{mod}.{stmt.name}" if isinstance(stmt, _DEFS) else None
            if isinstance(stmt, _DEFS[:2]):
                funcs[key] = (*_defaults(stmt), 0)
                by_name.setdefault(stmt.name, []).append(key)
            elif isinstance(stmt, ast.ClassDef) and _is_dataclass(stmt):
                funcs[key] = (*_dataclass_fields(stmt), 0)
                by_name.setdefault(stmt.name, []).append(key)
            elif isinstance(stmt, ast.ClassDef):
                for m in stmt.body:
                    if not isinstance(m, _DEFS[:2]):
                        continue
                    static = any(getattr(d, "id", None) == "staticmethod" for d in m.decorator_list)
                    funcs[f"{key}.{m.name}"] = (*_defaults(m), 0 if static else 1)
                    by_name.setdefault(stmt.name if m.name == "__init__" else m.name, []).append(f"{key}.{m.name}")
    return funcs, by_name


def _calls(tree: ast.AST):
    """(callee bare names, call) for every call; ``super().m`` resolves through the class's bases."""
    bases: dict[int, list[str]] = {}
    for cls in ast.walk(tree):
        if isinstance(cls, ast.ClassDef):
            names = [getattr(b, "id", None) or getattr(b, "attr", None) for b in cls.bases]
            bases.update({id(n): names for n in ast.walk(cls)})
    for call in ast.walk(tree):
        if not isinstance(call, ast.Call):
            continue
        f = call.func
        if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Call) and getattr(f.value.func, "id", None) == "super":
            yield (bases.get(id(call), []) if f.attr == "__init__" else [f.attr]), call
        else:
            yield [getattr(f, "id", None) or getattr(f, "attr", None)], call


_ANY = object()  # what a non-literal argument passes: any value


def _literal(node: ast.AST, consts: dict[str, str] | None = None) -> str | None:
    """repr of the literal ``node`` spells, or of the module constant it names; None otherwise."""
    if isinstance(node, ast.Name):
        return consts.get(node.id) if consts else None
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return None


def _constants(tree: ast.Module) -> dict[str, str]:
    """{name: repr} for each name the module binds to a literal at top level and nowhere else."""
    binds = [n.id for n in ast.walk(tree) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)]
    binds += [a.arg for a in ast.walk(tree) if isinstance(a, ast.arg)]
    out = {}
    for stmt in tree.body:
        target = stmt.targets[0] if isinstance(stmt, ast.Assign) and len(stmt.targets) == 1 else None
        if isinstance(target, ast.Name) and binds.count(target.id) == 1:
            lit = _literal(stmt.value)
            if lit is not None:
                out[target.id] = lit
    return out


def _set_options() -> set[str]:
    """``function.parameter`` for every option that takes two or more values across non-test calls."""
    funcs, by_name = _options()
    values: dict[str, set] = {}
    for path in _entry_files():
        tree = ast.parse(path.read_text(), str(path))
        consts = _constants(tree)
        for names, call in _calls(tree):
            for key in (k for n in names for k in by_name.get(n, [])):
                pos, defaults, offset = funcs[key]
                star = any(isinstance(a, ast.Starred) for a in call.args) or any(k.arg is None for k in call.keywords)
                passed = dict(zip(pos[offset:], call.args)) | {k.arg: k.value for k in call.keywords}
                for p, default in defaults.items():
                    if star:
                        v = _ANY
                    elif p in passed:
                        v = _literal(passed[p], consts) or _ANY
                    else:  # a non-literal default is one value of its own
                        v = _literal(default) or ast.unparse(default)
                    values.setdefault(f"{key}.{p}", set()).add(v)
    return {p for p, vs in values.items() if _ANY in vs or len(vs) > 1}


@functools.cache
def _exempt_functions() -> frozenset[str]:
    return frozenset(_ops_and_recorders() | (set(_index()[0]) - reached(keep=())))


def _exempt(param: str) -> bool:
    return _kept(param, OUTSIDE_INPUT) or _kept(param.rsplit(".", 1)[0], _exempt_functions())


def unset_options(keep=KEEP_PARAMS) -> list[str]:
    funcs = _options()[0]
    every = {f"{key}.{p}" for key, (_, defaults, _) in funcs.items() for p in defaults}
    return sorted(p for p in every - _set_options() if p not in keep and not _exempt(p))


def test_every_defaulted_parameter_is_set_or_kept():
    unset = unset_options()
    assert not unset, (
        f"{len(unset)} defaulted parameters with one value in use across the entry points "
        f"(make each a constant, or add it to KEEP_PARAMS with a reason): {unset}"
    )


def test_parameter_keep_list_is_tight():
    """Each KEEP_PARAMS entry names an option that exists and has one value in use."""
    unset = set(unset_options(keep={}))
    stale = sorted(p for p in KEEP_PARAMS if p not in unset)
    assert not stale, f"KEEP_PARAMS entries that an entry point sets, or that name nothing: {stale}"


# --- imports -----------------------------------------------------------------


def _unused_imports(path: Path) -> list[str]:
    """``path:line name`` for each imported name the module never reads."""
    source = path.read_text()
    tree = ast.parse(source, str(path))
    lines = source.splitlines()
    read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)}
    # quoted annotations ("TxTable") name a class as a string
    for n in ast.walk(tree):
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            read.add(n.value)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if re.search(r"#\s*noqa:[\w, ]*\bF401\b", lines[node.lineno - 1]):
            continue
        for alias in node.names:
            bound = alias.asname or alias.name.split(".")[0]
            if bound != "*" and bound not in read:
                out.append(f"{path.relative_to(ROOT)}:{node.lineno} {bound}")
    return out


def test_no_unused_imports():
    files = [f for f in _entry_files() if not f.is_relative_to(ROOT / "perfbench") and f.name != "__init__.py"]
    unused = [u for f in files for u in _unused_imports(f)]
    assert not unused, f"imported names that the module never reads: {unused}"
