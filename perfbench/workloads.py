"""The benchmark workloads.

Each workload is driven closed-loop from one client thread: an operation
starts when the previous one returns, the way the CLI and the cron
updater run them. A workload has

* ``sf`` - the scale factor of the fixture tables it reads;
* ``prepare(ctx)`` - untimed, seeded choice and staging of its inputs;
* ``run_pass(ctx, p)`` - one pass of operations, each wrapped in
  ``ctx.op(kind, fn)`` so the runner can time it and count failures;
* ``bytes_written(ctx, p)`` - bytes pass ``p`` wrote, counted after the
  pass's clock stopped;
* ``check(ctx)`` - output checks, run after the timed passes; returns
  ``(checks, failed)``;
* ``primary`` - the operation kinds pooled into ``op_p50_s``/``op_p90_s``.

The seed picks only what a user would pick - export sites, edit subsets
and thresholds, the decontamination sample, query order - never the
table contents. All outputs go under ``ctx.work_dir``; the runner removes
it.
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import hashlib
import math
import os

import duckdb

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PAIRS = [(code, m) for code in EVENT_TYPES for m in (1, 2)]
ODM_KEYS = ["SiteID", "VariableCode", "MethodID", "SourceID", "QualityControlLevelID"]
NO_DATA = -9999.0
EPOCH = dt.datetime(1970, 1, 1)
TS_COLS = ("LocalDateTime", "UTCOffset", "DateTimeUTC")
#: Decontamination threshold of the corpus build: fixed, so that the seed
#: changes only the benchmark sample and not how much the stage keeps.
MAX_SHARED_GRAMS = 20


def dir_files(path: str) -> dict[str, int]:
    """Size of every file under ``path``, by path."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            try:
                out[full] = os.path.getsize(full)
            except OSError:
                pass
    return out


def dir_bytes(path: str) -> int:
    return sum(dir_files(path).values())


def table_rows(data_dir: str, table: str, expr: str) -> int:
    path = os.path.join(data_dir, f"{table}.parquet")
    return int(duckdb.connect().execute(f"SELECT {expr} FROM read_parquet(?)", [path]).fetchone()[0])


def _digest(items) -> str:
    return hashlib.sha256("\n".join(sorted(items)).encode()).hexdigest()[:16]


def _read_annotated_csv(path: str) -> tuple[list[str], list[str], list[list[str]]]:
    """(header comment lines, column names, data rows) of one annotated CSV."""
    with open(path, encoding="utf-8") as f:
        lines = f.read().splitlines()
    n = 0
    while n < len(lines) and lines[n].startswith("#"):
        n += 1
    return lines[:n], lines[n].split(","), [line.split(",") for line in lines[n + 1:] if line]


def _value_cells(columns, rows, site, qc, pairs: list[str]) -> list[str]:
    """One item per observed (non-sentinel) cell: site, qc, time, the
    ``code|method`` pair the column names, and the value."""
    value_at = [i for i, c in enumerate(columns) if c not in ("SiteID",) + TS_COLS]
    t_at = columns.index("LocalDateTime")
    out = []
    for row in rows:
        t = (dt.datetime.fromisoformat(row[t_at]) - EPOCH) // dt.timedelta(microseconds=1)
        for j, i in enumerate(value_at):
            v = float(row[i])
            if v != NO_DATA:
                out.append(f"{site}|{qc}|{t}|{pairs[j]}={v:.2f}")
    return out


# ---------------------------------------------------------------------------


class OdmExport:
    """The cron export: ``jobs.run_export`` of seeded single-site managed
    resources (one annotated CSV per QC level), then one fleet export of
    the whole ``SiteID x LocalDateTime`` wide matrix through the
    executor-side chunk sink."""

    primary = ("export",)

    def __init__(self, n_resources: int, sf: float):
        self.n_resources = n_resources
        self.sf = sf

    def prepare(self, ctx) -> None:
        from h2outility_spark.jobs import ManagedResource

        self.data_dir = ctx.data_dir(self.sf)
        n_sites = table_rows(self.data_dir, "events", "max(user_id) + 1")
        self.sites = sorted(ctx.rng.sample(range(n_sites), self.n_resources))
        self.resources = [
            ManagedResource(name=f"res{s}", site_id=s, single_file=True) for s in self.sites
        ]
        self.pass_dirs: list[str] = []

    def run_pass(self, ctx, p: int) -> None:
        from h2outility_spark import jobs
        from h2outility_spark.operators.reshape import fill_no_data, pivot_column_names, pivot_wide
        from h2outility_spark.schema import events_as_datavalues
        from h2outility_spark.sinks import csv_sink
        from h2outility_spark.sources.parquet import load_table

        out = os.path.join(ctx.work_dir, "odm", f"p{p}")
        self.pass_dirs.append(out)
        dv = events_as_datavalues(load_table(ctx.spark, self.data_dir, "events"))
        for res in self.resources:
            ctx.op("export", lambda res=res: jobs.run_export(dv, res, os.path.join(out, "cron")))
        names = pivot_column_names(PAIRS)

        def fleet():
            wide = fill_no_data(
                pivot_wide(dv, ["SiteID", "LocalDateTime"], PAIRS),
                {names[p]: NO_DATA for p in PAIRS},
            )
            return csv_sink.write_annotated_chunks_distributed(
                wide, os.path.join(out, "fleet"), "SiteID", order_by=["LocalDateTime"]
            ).collect()

        ctx.op("fleet", fleet)

    def bytes_written(self, ctx, p: int) -> int:
        return dir_bytes(self.pass_dirs[p])

    def check(self, ctx) -> tuple[int, int]:
        """Per pass: file counts, annotated headers, and an order-insensitive
        digest of every observed CSV cell against the source rows."""
        from pyspark.sql import functions as F

        from h2outility_spark.schema import events_as_datavalues
        from h2outility_spark.sources.parquet import load_table

        dv = events_as_datavalues(load_table(ctx.spark, self.data_dir, "events"))
        rows = [
            tuple(r) for r in dv.select(
                "SiteID", "QualityControlLevelID", F.unix_micros("LocalDateTime"),
                "VariableCode", "MethodID", "DataValue",
            ).collect()
        ]
        chosen = set(self.sites)
        want_cron = (
            len({(s, q) for s, q, *_ in rows if s in chosen}),
            _digest(f"{s}|{q}|{t}|{c}|{m}={v:.2f}" for s, q, t, c, m, v in rows if s in chosen),
        )
        want_fleet = (
            len({s for s, *_ in rows}),
            _digest(f"{s}|*|{t}|{c}|{m}={v:.2f}" for s, q, t, c, m, v in rows),
        )
        fleet_pairs = [f"{c}|{m}" for c, m in PAIRS]
        failed = 0
        for out in self.pass_dirs:
            cron, fleet, bad = [], [], 0
            cron_files = glob.glob(os.path.join(out, "cron", "*.csv"))
            for path in cron_files:
                site, _, _, qc = os.path.basename(path)[:-4].split("_")[:4]
                header, columns, body = _read_annotated_csv(path)
                pairs = [
                    "{VariableCode}|{MethodID}".format(
                        **dict(kv.split("=") for kv in h[len("# Variable: "):].split(", "))
                    )
                    for h in header if h.startswith("# Variable:")
                ]
                bad += not (
                    header[0].startswith("# Generated by") and f"# Site: SiteID={site}" in header
                    and len(pairs) == len(columns) - len(TS_COLS)
                )
                cron += _value_cells(columns, body, site, qc[2:], pairs)
            fleet_files = glob.glob(os.path.join(out, "fleet", "*.csv"))
            for path in fleet_files:
                header, columns, body = _read_annotated_csv(path)
                site = int(body[0][columns.index("SiteID")])
                bad += header[-1] != f"# Chunk: SiteID={site}"
                fleet += _value_cells(columns, body, site, "*", fleet_pairs)
            ok = (
                bad == 0
                and (len(cron_files), _digest(cron)) == want_cron
                and (len(fleet_files), _digest(fleet)) == want_fleet
            )
            if not ok:
                ctx.log(f"export pass {out} differs from the source rows")
            failed += not ok
        return len(self.pass_dirs), failed


# ---------------------------------------------------------------------------


class QcEditCommit:
    """The write path: streaming ingest of the staged DataValues files into
    a fresh TxTable (one micro-batch per file), seeded QC edit sessions
    saved as new versions, then compaction and vacuum."""

    primary = ("save",)

    def __init__(self, n_files: int, n_edits: int, sf: float):
        self.n_files = n_files
        self.n_edits = n_edits
        self.sf = sf

    def prepare(self, ctx) -> None:
        from pyspark.sql import functions as F

        from h2outility_spark.schema import events_as_datavalues
        from h2outility_spark.sources.parquet import load_table

        self.data_dir = ctx.data_dir(self.sf)
        n_sites = table_rows(self.data_dir, "events", "max(user_id) + 1")
        self.n_rows = table_rows(self.data_dir, "events", "count(*)")
        self.edits = [
            (
                sorted(ctx.rng.sample(range(n_sites), max(1, n_sites // 10))),
                round(ctx.rng.uniform(60.0, 140.0), 1),
                ctx.rng.randint(4, 9),
            )
            for _ in range(self.n_edits)
        ]
        self.src = os.path.join(ctx.work_dir, "staged")
        dv = events_as_datavalues(load_table(ctx.spark, self.data_dir, "events"))
        dv.repartitionByRange(self.n_files, F.col("ValueID")).write.parquet(self.src)
        self.schema = ctx.spark.read.parquet(self.src).schema
        self.pass_dirs: list[str] = []
        self.pre_maintain: dict[int, dict[str, int]] = {}

    def _session(self, source, edit):
        from pyspark.sql import functions as F

        from h2outility_spark.edit_session import EditSession

        subset, threshold, qualifier = edit
        s = EditSession(source, ODM_KEYS, series_filter=F.col("SiteID").isin(subset))
        s.select_value_change(threshold).interpolate().flag(qualifier)
        return s

    def run_pass(self, ctx, p: int) -> None:
        from h2outility_spark.storage_tx import TxTable
        from h2outility_spark.streaming import incremental

        out = os.path.join(ctx.work_dir, "qc", f"p{p}")
        table_dir = os.path.join(out, "table")
        self.pass_dirs.append(out)

        def ingest():
            stream = (
                ctx.spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(self.src)
            )
            q = incremental.stream_upsert_to_txtable(
                stream, table_dir, ["ValueID"], "LocalDateTime", os.path.join(out, "ckpt")
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination(30)
            ctx.note_stream(q)

        ctx.op("ingest", ingest)
        table = TxTable(ctx.spark, table_dir, key_cols=["ValueID"])
        for edit in self.edits:
            def save(edit=edit):
                s = self._session(table.snapshot(), edit)
                try:
                    return s.save_to_table(table)
                finally:
                    s.close()

            ctx.op("save", save)
        # vacuum deletes what the merges wrote: list it with the clock paused
        with ctx.paused():
            self.pre_maintain[p] = dir_files(table_dir)

        def maintain():
            table.compact_files(target_rows=self.n_rows)
            table.vacuum(keep_versions=1, retention_seconds=0)

        ctx.op("maintain", maintain)

    def bytes_written(self, ctx, p: int) -> int:
        """Every table file the pass wrote: those present before
        maintenance plus the ones compaction added."""
        before = self.pre_maintain.get(p, {})
        after = dir_files(os.path.join(self.pass_dirs[p], "table"))
        return sum(before.values()) + sum(b for f, b in after.items() if f not in before)

    def _expected_store(self, ctx):
        """The same edits applied in batch form: ``oplist.apply_plan`` (via
        the session frame) and ``mutation.upsert`` over a plain frame."""
        from h2outility_spark.operators import mutation, qc

        store = ctx.spark.read.parquet(self.src)
        for edit in self.edits:
            s = self._session(store, edit)
            edited = s.frame().drop(qc.SEL)
            store = mutation.upsert(store, edited, keys=["ValueID"]).localCheckpoint()
            s.close()
        return store

    def check(self, ctx) -> tuple[int, int]:
        from h2outility_spark.storage_tx import TxTable

        want = ctx.frame_hash(self._expected_store(ctx))
        failed = 0
        for out in self.pass_dirs:
            snap = TxTable(ctx.spark, os.path.join(out, "table"), key_cols=["ValueID"]).snapshot()
            got = ctx.frame_hash(snap)
            if got[0] != self.n_rows or got != want:
                failed += 1
                ctx.log(f"table {out}: {got} differs from the batch-form edits {want}")
        return len(self.pass_dirs), failed


# ---------------------------------------------------------------------------


class CorpusBuild:
    """``pipeline.build_corpus`` over the document corpus with a seeded 1%
    decontamination sample."""

    primary = ("build",)

    def __init__(self, sf: float):
        self.sf = sf

    def prepare(self, ctx) -> None:
        import pyarrow.parquet as pq

        self.data_dir = ctx.data_dir(self.sf)
        docs = pq.read_table(os.path.join(self.data_dir, "documents.parquet")).to_pandas()
        ids = sorted(ctx.rng.sample(range(len(docs)), max(2, len(docs) // 100)))
        self.n_docs = len(docs)
        self.benchmark = ctx.spark.createDataFrame(docs.iloc[ids][["doc_id", "text"]])
        self.stats: list[dict] = []
        self.pass_dirs: list[str] = []
        self.gated = duckdb.connect().execute(
            "SELECT sum(ceil(0.7 * n))::BIGINT FROM (SELECT count(*) AS n FROM read_parquet(?) "
            "WHERE text IS NOT NULL GROUP BY source)",
            [os.path.join(self.data_dir, "documents.parquet")],
        ).fetchone()[0]

    def run_pass(self, ctx, p: int) -> None:
        from h2outility_spark import pipeline

        table_dir = os.path.join(ctx.work_dir, "corpus", f"p{p}")
        self.pass_dirs.append(table_dir)
        stats = ctx.op(
            "build",
            lambda: pipeline.build_corpus(
                ctx.spark, self.data_dir, table_dir,
                benchmark=self.benchmark, max_shared_grams=MAX_SHARED_GRAMS,
            ),
        )
        if stats is not None:
            self.stats.append(stats)

    def bytes_written(self, ctx, p: int) -> int:
        return dir_bytes(self.pass_dirs[p])

    def check(self, ctx) -> tuple[int, int]:
        """The stage counts: input and quality gate against DuckDB, each
        stage narrowing the last, and every pass equal to the first."""
        stages = ["input", "quality_gated", "exact_unique", "near_canonical", "decontaminated"]
        failed = 0
        for st in self.stats:
            counts = [st[k] for k in stages]
            ok = (
                st["input"] == self.n_docs
                and st["quality_gated"] == self.gated
                and all(a >= b for a, b in zip(counts, counts[1:]))
                and st["committed"] == st["decontaminated"] > 0
                and {k: v for k, v in st.items() if k != "version"}
                == {k: v for k, v in self.stats[0].items() if k != "version"}
            )
            failed += not ok
        return len(self.stats), failed


# ---------------------------------------------------------------------------


class BatchJobs:
    """The batch jobs one after another in each pass, on one session: the
    ODM export, the QC edit-commit and the corpus build. Every operation
    keeps its own kind, so the per-job latencies stay apart in the run's
    summary and the traced run's layer metrics."""


    def __init__(self, parts: list):
        self.parts = parts
        self.primary = tuple(k for part in parts for k in part.primary)

    def prepare(self, ctx) -> None:
        for part in self.parts:
            part.prepare(ctx)

    def run_pass(self, ctx, p: int) -> None:
        for part in self.parts:
            part.run_pass(ctx, p)

    def bytes_written(self, ctx, p: int) -> int:
        return sum(part.bytes_written(ctx, p) for part in self.parts)

    def check(self, ctx) -> tuple[int, int]:
        results = [part.check(ctx) for part in self.parts]
        return sum(c for c, _ in results), sum(f for _, f in results)


# ---------------------------------------------------------------------------


def _norm(v) -> str:
    """One cell in the driver-sim convention: floats to 9 significant
    digits, decimals as floats, timestamps as naive UTC."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return str(v)


def _rows_digest(rows, columns) -> tuple[int, list[str], str]:
    """(row count, sorted column names, order-insensitive value digest)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return (
        len(rows),
        sorted(columns),
        _digest("\x1f".join(_norm(row[i]) for i in order) for row in rows),
    )


#: The registry queries query_mix runs: one or two of the headline
#: (``bench=True``) queries per operator family.
QUERIES = [
    "asof_join", "embedding_knn", "tpch_q3", "tpch_q5", "text_stats",
    "series_ohlc", "sessionization", "dedup_exact_docs",
]


class QueryMix:
    """The registry's headline queries end to end: build the frame, run it
    into a parquet sink, cache cleared before each one. The written
    results are checked against each query's DuckDB oracle afterwards."""

    primary = ("query",)

    def __init__(self, names: list[str], sf: float):
        self.names = list(names)
        self.sf = sf

    def prepare(self, ctx) -> None:
        from h2outility_spark import workload

        self.data_dir = ctx.data_dir(self.sf)
        specs = workload.registry()
        self.specs = {n: specs[n] for n in self.names}
        ctx.rng.shuffle(self.names)
        self.pass_dirs: list[str] = []

    def run_pass(self, ctx, p: int) -> None:
        out = os.path.join(ctx.work_dir, "queries", f"p{p}")
        self.pass_dirs.append(out)
        for name in self.names:
            spec = self.specs[name]

            def run(spec=spec, path=os.path.join(out, name)):
                ctx.spark.catalog.clearCache()
                with ctx.span("workload.build", "workload"):
                    df = spec.fn(ctx.spark, self.data_dir)
                if ctx.tracer is not None and ctx.tracer.active:
                    with ctx.span("workload.plan", "workload"):
                        df._jdf.queryExecution().executedPlan()
                with ctx.span("workload.exec", "workload"):
                    df.write.parquet(path)

            ctx.op("query", run, label=name)

    def bytes_written(self, ctx, p: int) -> int:
        return dir_bytes(self.pass_dirs[p])

    def check(self, ctx) -> tuple[int, int]:
        from h2outility_spark.sources.parquet import TABLES

        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        want = {}
        for name in self.names:
            cur = con.execute(self.specs[name].oracle)
            want[name] = _rows_digest(cur.fetchall(), [d[0] for d in cur.description])
        checks = failed = 0
        for out in self.pass_dirs:
            for name in self.names:
                files = glob.glob(os.path.join(out, name, "*.parquet"))
                if not files:
                    continue  # the query failed, which is counted already
                checks += 1
                cur = con.execute("SELECT * FROM read_parquet(?)", [files])
                got = _rows_digest(cur.fetchall(), [d[0] for d in cur.description])
                if got != want[name]:
                    failed += 1
                    ctx.log(f"query {name}: {got} differs from its oracle {want[name]}")
        return checks, failed
