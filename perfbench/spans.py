"""Out-of-package tracing for the benchmark's traced run.

``Tracer.install()`` wraps the public functions named in ``TRACED`` in
place: the module attribute, class attribute, and every alias that another
``h2outility_spark`` module bound with ``from x import f``. Each call
records one span (name, layer, start, end, parent) and runs under its own
Spark job group, so the event log can attribute jobs, tasks and shuffle
bytes to the innermost layer that launched them. Spans stay in memory and
are written once, at the end.

``Tracer.active`` switches recording off and on between passes; the
wrappers stay installed and pass straight through when it is off, so the
traced run can time untraced passes in the same process and report the
tracing overhead.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time

#: (module, attribute path, layer). Lazy builders (frames returned without
#: an action) show only their planning time; the span that triggers the
#: action owns the jobs.
TRACED = [
    ("h2outility_spark.sources.parquet", "load_table", "sources.parquet"),
    ("h2outility_spark.operators.catalog", "derive_catalog", "operators.catalog"),
    ("h2outility_spark.jobs", "run_export", "jobs"),
    ("h2outility_spark.jobs", "export_chunk", "jobs"),
    ("h2outility_spark.sinks.csv_sink", "write_annotated_csv", "sinks.csv_sink"),
    ("h2outility_spark.sinks.csv_sink", "write_annotated_chunks_distributed", "sinks.csv_sink"),
    ("h2outility_spark.streaming.incremental", "stream_upsert_to_txtable", "streaming.incremental"),
    ("h2outility_spark.edit_session", "EditSession.frame", "edit_session"),
    ("h2outility_spark.edit_session", "EditSession.save_to_table", "edit_session"),
    ("h2outility_spark.plans.oplist", "apply_plan", "plans.oplist"),
    ("h2outility_spark.storage_tx", "TxTable.merge_upsert", "storage_tx"),
    ("h2outility_spark.storage_tx", "TxTable.overwrite", "storage_tx"),
    ("h2outility_spark.storage_tx", "TxTable.append", "storage_tx"),
    ("h2outility_spark.storage_tx", "TxTable.compact_files", "storage_tx"),
    ("h2outility_spark.storage_tx", "TxTable.vacuum", "storage_tx"),
    ("h2outility_spark.storage_tx", "TxTable.snapshot", "storage_tx"),
    ("h2outility_spark.operators.dedup", "lsh_candidate_pairs", "operators.dedup"),
    ("h2outility_spark.operators.dedup", "connected_components", "operators.dedup"),
    ("h2outility_spark.operators.text", "contamination_overlap", "operators.text"),
    ("h2outility_spark.pipeline", "build_corpus", "pipeline"),
]


class Span:
    __slots__ = ("id", "name", "layer", "start", "end", "parent", "group", "pass_no", "info")

    def __init__(self, sid, name, layer, parent, group, pass_no):
        self.id, self.name, self.layer, self.parent, self.group = sid, name, layer, parent, group
        self.pass_no = pass_no
        self.start = time.perf_counter()
        self.end = None
        self.info: dict = {}

    def to_dict(self, t0: float) -> dict:
        return {
            "id": self.id, "name": self.name, "layer": self.layer, "parent": self.parent,
            "pass": self.pass_no,
            "start_s": round(self.start - t0, 6), "end_s": round((self.end or self.start) - t0, 6),
            **({"info": self.info} if self.info else {}),
        }


class Tracer:
    def __init__(self, spark_getter):
        self._spark = spark_getter
        self.active = False
        self.pass_no = None
        self.spans: list[Span] = []
        self.t0 = time.perf_counter()
        self._tls = threading.local()
        self._next = 0
        self._lock = threading.Lock()
        self._hooks: dict[str, callable] = {}

    # -- span stack (per thread: foreachBatch handlers run on their own) ----

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _set_group(self, group: str | None) -> None:
        self._spark().sparkContext.setLocalProperty("spark.jobGroup.id", group)

    def open(self, name: str, layer: str) -> Span:
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        span = Span(sid, name, layer, parent.id if parent else None, f"pb-{sid}", self.pass_no)
        stack.append(span)
        self.spans.append(span)
        self._set_group(span.group)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        self._set_group(stack[-1].group if stack else None)

    def untimed(self, fn):
        """Run a trace-only measurement (an extra count) outside every
        span's time and job group."""
        self._set_group("pb-extra")
        try:
            return fn()
        finally:
            stack = self._stack()
            self._set_group(stack[-1].group if stack else None)

    def hook(self, name: str, fn) -> None:
        """``fn(span, args, kwargs, result)`` runs after a traced call to
        record trace-only counts; its cost is excluded from span time."""
        self._hooks[name] = fn

    # -- installation ------------------------------------------------------

    def _wrap(self, name: str, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            hook = tracer._hooks.get(name)
            span = tracer.open(name, layer)
            try:
                result = fn(*args, **kwargs)
            except BaseException as e:
                span.info["error"] = type(e).__name__
                tracer.close(span)
                raise
            tracer.close(span)
            if hook:
                tracer.untimed(lambda: hook(span, args, kwargs, result))
            return result

        return wrapper

    def install(self) -> None:
        for mod_name, attr, layer in TRACED:
            mod = importlib.import_module(mod_name)
            owner, leaf = mod, attr
            if "." in attr:
                cls_name, leaf = attr.split(".")
                owner = getattr(mod, cls_name)
            original = getattr(owner, leaf)
            wrapped = self._wrap(attr.split(".")[-1] if owner is mod else attr, layer, original)
            setattr(owner, leaf, wrapped)
            if owner is mod:
                # rebind `from mod import fn` aliases held by other modules
                for other in list(sys.modules.values()):
                    name = getattr(other, "__name__", "") or ""
                    if name.startswith("h2outility_spark") and getattr(other, leaf, None) is original:
                        setattr(other, leaf, wrapped)

    # -- output --------------------------------------------------------------

    def self_times(self, spans: list[Span]) -> dict[str, float]:
        """Seconds per layer not covered by a child span."""
        child_time: dict[int, float] = {}
        for s in spans:
            if s.parent is not None and s.end is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in spans:
            if s.end is None:
                continue
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child_time.get(s.id, 0.0)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": [s.to_dict(self.t0) for s in self.spans], **extra}, f)
