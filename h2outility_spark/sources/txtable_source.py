"""Custom PySpark DataSource (Spark 4 Python DataSource API): stream a
``storage_tx.TxTable``'s append tail as a Structured Streaming source.

Offsets are TABLE VERSIONS — the manifest log IS the write-ahead log, so
the source needs no extra bookkeeping: each micro-batch emits the rows of
the data files ADDED by versions ``(last_seen, latest]``. Replays are
exact (the same immutable files are re-read for the same offset range),
giving end-to-end exactly-once into any checkpointed sink.

Contract: APPEND-ONLY tables. ``append`` versions emit their added files'
rows; ``compact`` versions emit nothing (pure rewrites of already-emitted
rows — the file diff is ignored by op, which is why compaction stays safe
to run under a live tail reader); any other op (merge/overwrite/restore)
raises, because rewritten files would re-emit old rows. This matches the
Kafka-ish ingest shape the table plays in pipelines; the general case —
merge/delete versions emitting row-level changes — is the CDC source
(``TxTableCdcDataSource`` below, the streaming form of the batch
``TxTable.changes()`` feed).

Execution shape: a partition-planning ``DataSourceStreamReader`` — the
driver only diffs manifests (metadata) and plans ONE PARTITION PER ADDED
FILE; executors read the parquet with pyarrow in parallel. Per-batch cost
on the driver is O(changed manifest entries), the data plane scales with
the cluster. This module reads no manifest or segment file itself: the
version list, the manifest read and the per-version file diff are the
session-free readers of ``storage_tx`` (``manifest_versions``,
``read_manifest``, ``file_diff``), the same ones ``TxTable`` uses, so
the segmented manifest format has one reader.

Usage::

    spark.dataSource.register(TxTableStreamDataSource)
    stream = spark.readStream.format("txtable_stream").option("path", dir).load()

Both sources take optional admission-control options: with
``maxVersionsPerBatch``, ``latestOffset`` advances at most that many
versions per micro-batch; with ``maxBytesPerBatch``, it admits versions
until their manifest-stat ADDED bytes spend the budget (always at least
one version, so progress is guaranteed) — either way a catch-up backlog
drains in bounded batches instead of telescoping into one — see
:class:`_TxVersionOffsets`. The byte walk is manifest metadata only,
the same O(changed segments) cost as batch planning itself.
A ``startingVersion`` option (Delta-CDF semantics) starts the feed at an
explicit version read as an incremental diff — changes-only, no snapshot
bootstrap — for replicas whose initial state arrived out-of-band; it
errors loudly if that version's parent manifest was vacuumed.
CAVEAT: ``Trigger.AvailableNow`` latches the FIRST (capped) latestOffset
as the whole drain's target — the Python DataSource API has no
SupportsTriggerAvailableNow hook — so an availableNow drain under a cap
advances at most N versions and stops; each further drain through the
same checkpoint advances the next N. A rate-limited catch-up in one run
needs the default trigger, which keeps planning capped batches until the
source is drained.

The engine drains these sources with
``streaming.incremental.drain_available_now`` (one availableNow run
through a checkpoint, under the bounded-batch shuffle pin); a
``foreachBatch`` handler that applies the feed to state outside the
checkpoint (the CDC replica) commits through
``streaming.incremental.BatchLedger`` so a replayed batch is skipped.

The data plane is vectorized: both readers yield ``pyarrow.RecordBatch``
iterators (pyspark 4's Arrow DataSource path), so rows never materialize
as Python objects between the parquet file and the JVM.
"""

from __future__ import annotations

import os
import warnings
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from h2outility_spark.storage_tx import file_diff, manifest_versions, read_manifest


def _added_files(table_dir: str, v: int, allow_bootstrap: bool = False) -> list[str]:
    """Relative paths of the data files version ``v`` ADDED, enforcing the
    append-only contract (compact → none; other non-append ops → error).
    The diff/vacuum/bootstrap mechanics are shared with the CDC source
    (:func:`_changed_files`); this wrapper only adds the op guard and
    keeps the +1 side (an append never removes files, so the symmetric
    diff IS the added set).

    The guard applies only to versions read as incremental diffs: a
    fresh tail reader whose start version was vacuumed reads the oldest
    retained version as a full SNAPSHOT, and a snapshot is op-agnostic —
    the merges/overwrites that produced it are history the tail never
    replays. Version 0 is ALWAYS a snapshot (the diff from empty —
    nothing previously emitted can be rewritten by it), so its op is
    irrelevant no matter how the reader arrived: a table born by
    merge_upsert (v0 op='merge') streams fine; only a LATER
    merge/overwrite/restore trips the guard."""
    try:
        op = read_manifest(table_dir, v)["op"]
    except FileNotFoundError:
        op = None  # let _changed_files raise the canonical vacuum error
    if (
        v > 0
        and op not in (None, "append", "compact")
        and not (allow_bootstrap and v - 1 not in manifest_versions(table_dir))
    ):
        raise ValueError(
            f"txtable_stream is an append-only tail (version {v} is "
            f"op={op!r}); use TxTable.changes() / the txtable_cdc source "
            "for the general feed"
        )
    return [e["path"] for e, sign in _changed_files(table_dir, v, allow_bootstrap) if sign == 1]


def _latest_schema(table_dir: str) -> str:
    """The schema DDL of the table's latest version (stream start)."""
    versions = manifest_versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    return read_manifest(table_dir, versions[-1])["schema"]


def _int_option(options, name: str) -> int | None:
    """Parse an optional integer DataSource option (options arrive as
    strings); absent = None. Bounds are checked by _TxVersionOffsets."""
    raw = options.get(name)
    if raw is None:
        return None
    try:
        return int(raw)
    except ValueError:
        raise ValueError(f"{name} must be an integer, got {raw!r}") from None


def _offset_options(options) -> dict:
    """The admission-control and start options both sources take, as
    _TxVersionOffsets keyword arguments. ``startingVersion`` absent =
    snapshot-bootstrap from the oldest retained version."""
    return {
        "max_versions_per_batch": _int_option(options, "maxVersionsPerBatch"),
        "starting_version": _int_option(options, "startingVersion"),
        "max_bytes_per_batch": _int_option(options, "maxBytesPerBatch"),
    }


def _added_bytes(table_dir: str, v: int) -> int:
    """Bytes of the data files version ``v`` ADDED, from manifest stats
    alone (no data IO): the +1 side of :func:`_changed_files` for a
    reader allowed to bootstrap. Powers the byte-based admission control.
    A compact version charges 0 (no net change) unless it is read as a
    bootstrap; a vacuumed PARENT charges the FULL file set of ``v``,
    which is exactly what a fresh reader's snapshot bootstrap will emit.
    Version ``v``'s OWN manifest missing charges 0 — the planner raises
    the canonical error later; admission control only has to guarantee
    progress, never correctness."""
    try:
        read_manifest(table_dir, v)
    except FileNotFoundError:
        return 0
    changed = _changed_files(table_dir, v, allow_bootstrap=True)
    return sum(e["bytes"] for e, sign in changed if sign == 1)


def _arrow_batches(abs_path: str, field_names: list[str], arrow_schema, constants=None) -> Iterator:
    """Read one immutable parquet file as pyarrow RecordBatches of
    ``arrow_schema`` (pyspark 4's vectorized DataSource path — the rows
    stay in Arrow end to end, no per-row Python tuples). Runs on
    EXECUTORS. Columns in ``constants`` are filled with that value;
    columns the file predates (add-column schema evolution — reachable
    via startingVersion before the evolution, or a bootstrap over old
    files) are null-filled like snapshot()/changes(). The cast pins the
    exact Arrow types Spark expects for the declared schema (e.g.
    timestamp[us, tz=UTC]) independent of how the parquet writer spelled
    them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    constants = constants or {}
    present = set(pq.read_schema(abs_path).names)
    tbl = pq.read_table(abs_path, columns=[c for c in field_names if c in present])
    n = tbl.num_rows
    arrays = {
        name: pa.repeat(pa.scalar(constants[name], type=typ), n) if name in constants
        else tbl.column(name) if name in present
        else pa.nulls(n, type=typ)
        for name, typ in zip(arrow_schema.names, arrow_schema.types)
    }
    return iter(pa.table(arrays).cast(arrow_schema).to_batches())


class _TxFilePartition(InputPartition):
    def __init__(self, abs_path: str):
        self.abs_path = abs_path


class _TxVersionOffsets:
    """Shared offset discipline for both TxTable stream readers: table
    versions are the offsets, plus optional ADMISSION CONTROL — with
    ``max_versions_per_batch`` set, ``latestOffset`` advances at most that
    many versions past the reader's base, so a catch-up backlog splits into
    bounded micro-batches instead of telescoping into one (the chunked-
    fetch intent of reference src/Common.py:61, series_service.py:436-441).

    The base is driver-side state, safe against every call order Spark
    actually uses (verified against pyspark 4.1.2's MicroBatchExecution):
    on a FRESH stream the engine polls ``latestOffset`` even before
    ``initialOffset``, so a ``None`` base there means fresh start and is
    seeded from the oldest-retained initial position; on ANY checkpoint
    resume the engine first replays the last planned batch through
    ``partitions`` (a (last, last) no-op when the commit log is caught
    up), which re-learns the base before the first poll. ``commit`` and
    every ``latestOffset`` advance it. ``partitions`` additionally
    refuses an end offset behind its start — if a future engine ever
    reorders calls, the failure is loud, never duplicate emission.

    ``starting_version`` (the ``startingVersion`` option, Delta-CDF
    semantics) starts the feed at an EXPLICIT version read as an
    incremental diff — no snapshot bootstrap, the changes-only contract a
    replica wants when its initial state arrived out-of-band. Version
    ``startingVersion`` itself is the first emitted; if its parent
    manifest was vacuumed the stream errors loudly (a diff there is
    unreconstructable and a silent snapshot would duplicate the
    out-of-band state). A value past the current latest is allowed: the
    feed starts empty and picks up once the table reaches it."""

    def __init__(
        self,
        table_dir: str,
        max_versions_per_batch: int | None = None,
        starting_version: int | None = None,
        max_bytes_per_batch: int | None = None,
    ):
        self.table_dir = table_dir
        if max_versions_per_batch is not None and max_versions_per_batch < 1:
            raise ValueError(
                f"maxVersionsPerBatch must be >= 1, got {max_versions_per_batch}"
            )
        if max_bytes_per_batch is not None and max_bytes_per_batch < 1:
            raise ValueError(
                f"maxBytesPerBatch must be >= 1, got {max_bytes_per_batch}"
            )
        if starting_version is not None and starting_version < 0:
            raise ValueError(f"startingVersion must be >= 0, got {starting_version}")
        self.max_versions_per_batch = max_versions_per_batch
        self.max_bytes_per_batch = max_bytes_per_batch
        self.starting_version = starting_version
        self._base: int | None = None  # highest version known planned/committed
        self._warned_capped = False  # one backlog-capped breadcrumb per run

    def _advance_base(self, version: int) -> None:
        if self._base is None or version > self._base:
            self._base = version

    def _initial_version(self) -> int:
        if self.starting_version is not None:
            return self.starting_version - 1
        vs = manifest_versions(self.table_dir)
        return (vs[0] - 1) if vs else -1

    def initialOffset(self) -> dict:
        # Start just below the OLDEST RETAINED version, not -1: on a table
        # whose early manifests were vacuumed, the first batch then
        # bootstraps from the earliest reconstructable snapshot instead of
        # chasing deleted manifests. The bootstrap flag rides in the offset
        # so ONLY a reader starting from this freshly-minted offset may take
        # the full-snapshot branch; a checkpointed offset (minted by
        # latestOffset, no flag) never bootstraps — see _changed_files.
        # With an explicit startingVersion the flag is withheld: the user
        # asked for changes-only from that version, never a snapshot.
        start = self._initial_version()
        self._advance_base(start)
        off = {"version": start}
        if self.starting_version is None:
            off["bootstrap"] = True
        return off

    def latestOffset(self) -> dict:
        vs = manifest_versions(self.table_dir)
        if not vs:
            return {"version": self._initial_version() if self.starting_version is not None else -1}
        latest = vs[-1]
        if self.starting_version is not None and latest < self.starting_version - 1:
            # Feed pinned to start in the future: nothing available yet.
            return {"version": self.starting_version - 1}
        if self.max_versions_per_batch is not None or self.max_bytes_per_batch is not None:
            if self._base is None:
                # Fresh start (any resume seeds the base via partitions
                # first): cap from the same position initialOffset mints.
                self._base = self._initial_version()
            capped = latest
            if self.max_versions_per_batch is not None:
                capped = min(capped, self._base + self.max_versions_per_batch)
            if self.max_bytes_per_batch is not None:
                # Walk the backlog's manifest stats (metadata only),
                # admitting versions until the byte budget is spent —
                # always at least one, so progress is guaranteed even
                # when a single version exceeds the budget.
                total, v = 0, self._base
                while v < capped:
                    nxt = _added_bytes(self.table_dir, v + 1)
                    if v > self._base and total + nxt > self.max_bytes_per_batch:
                        break
                    total += nxt
                    v += 1
                capped = v
            if capped < latest and not self._warned_capped:
                # Visible breadcrumb for the AvailableNow interaction (the
                # docstring caveat): a latched drain stops at this capped
                # offset and leaves the rest of the backlog for later runs.
                self._warned_capped = True
                caps = []
                if self.max_versions_per_batch is not None:
                    caps.append(f"maxVersionsPerBatch={self.max_versions_per_batch}")
                if self.max_bytes_per_batch is not None:
                    caps.append(f"maxBytesPerBatch={self.max_bytes_per_batch}")
                # warnings.warn, not print(): this runs in the Python
                # data-source helper process, whose stdout may never reach
                # the driver log — the warning machinery writes to stderr,
                # which Spark forwards. (It still lands in the python-worker
                # log, not necessarily the driver console.)
                warnings.warn(
                    f"txtable source: backlog extends past the "
                    f"{'/'.join(caps)} cap "
                    f"(capped at v{capped}, latest v{latest}); an "
                    "AvailableNow drain stops HERE — use the default "
                    "trigger or repeated drains to fully catch up",
                    stacklevel=2,
                )
            latest = capped
        self._advance_base(latest)
        return {"version": latest}

    def commit(self, end: dict) -> None:
        # Offsets are durable table versions and the files they name are
        # immutable (vacuum retention is the guard) — nothing to clean up;
        # just advance the admission-control base.
        self._advance_base(end["version"])


class _TxAppendTailReader(_TxVersionOffsets, DataSourceStreamReader):
    def __init__(
        self,
        table_dir: str,
        field_names: list[str],
        arrow_schema,
        max_versions_per_batch: int | None = None,
        starting_version: int | None = None,
        max_bytes_per_batch: int | None = None,
    ):
        super().__init__(
            table_dir, max_versions_per_batch, starting_version, max_bytes_per_batch
        )
        self.field_names = field_names
        self.arrow_schema = arrow_schema  # pa.Schema; picklable, rides to executors

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        if end["version"] < start["version"]:
            raise ValueError(
                f"txtable stream planned end offset {end['version']} behind "
                f"start {start['version']} — refusing (would re-emit rows)"
            )
        self._advance_base(end["version"])  # checkpoint resume re-learns the base
        parts: list[InputPartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            # Only the FIRST version past a fresh initialOffset may
            # snapshot-bootstrap; later versions in the range provably have
            # a retained parent (v-1 was just resolved).
            fresh = bool(start.get("bootstrap")) and v == start["version"] + 1
            parts.extend(
                _TxFilePartition(os.path.join(self.table_dir, rel))
                for rel in _added_files(self.table_dir, v, allow_bootstrap=fresh)
            )
        return parts

    def read(self, partition: _TxFilePartition) -> Iterator:
        return _arrow_batches(partition.abs_path, self.field_names, self.arrow_schema)


class TxTableStreamDataSource(DataSource):
    """``format("txtable_stream")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "txtable_stream"

    def schema(self) -> str:
        return _latest_schema(self.options["path"])

    def streamReader(self, schema) -> _TxAppendTailReader:
        from pyspark.sql.pandas.types import to_arrow_schema

        return _TxAppendTailReader(
            self.options["path"],
            [f.name for f in schema.fields],
            to_arrow_schema(schema),
            **_offset_options(self.options),
        )


# ---------------------------------------------------------------------------
# CDC form: signed change rows for EVERY op (merge/delete/restore included)
# ---------------------------------------------------------------------------
#
# The append tail above deliberately raises on non-append versions; this
# source is the general change feed — the streaming form of the batch
# ``TxTable.changes()`` (reference I2 watermark-append upgraded to
# lakehouse CDC). Per version it emits the rows of files ADDED with
# ``_sign`` +1 and files REMOVED with ``_sign`` −1 (files shared by both
# manifests are immutable, hence changeless, and are never read). Rows
# merely REWRITTEN into new files (compaction survivors, copy-on-write
# carriage) appear once with each sign and cancel in the downstream
# multiset sum — ``net_changes`` turns the signed rows into the Delta-CDF
# '_change_type' shape with ONE combiner-friendly groupBy over just the
# changed rows, the same cancellation ``changes()`` runs as exceptAll.
# Keeping the cancellation OUT of the source keeps the source
# embarrassingly parallel (one immutable parquet file per task, no
# executor-side state) and lets Catalyst plan the shuffle; 'compact'
# versions are skipped entirely by op (zero read, zero shuffle).
#
# Offsets, vacuum discipline and snapshot bootstrap are identical to the
# tail reader: versions are the WAL, a fresh reader whose start version
# was vacuumed bootstraps from the oldest retained snapshot (all +1 — a
# replica built from the feed alone starts with the full state), a
# checkpointed reader refuses the same branch to protect exactly-once
# sinks.


def _changed_files(
    table_dir: str, v: int, allow_bootstrap: bool = False
) -> list[tuple[dict, int]]:
    """(file entry, sign) for version ``v``: +1 = added, −1 = removed.
    THE diff core for both stream sources (the tail keeps the +1 side
    behind an op guard): ``storage_tx.file_diff`` against the parent
    manifest — the same diff ``TxTable.changes()`` reads, O(changed
    segments) — with one vacuum/bootstrap contract for both.

    If version ``v``'s PARENT manifest was vacuumed away, behavior
    depends on ``allow_bootstrap``: a FRESH reader (offset minted by
    ``initialOffset`` this run, which sets the bootstrap flag) emits
    ``v``'s FULL file set as the snapshot bootstrap, whatever its op — it
    has emitted nothing yet, so the snapshot is exactly its backlog. A
    CHECKPOINTED reader resuming mid-stream must NOT take that branch: it
    already emitted every row up to its offset, and the full snapshot
    would re-emit the whole table as duplicates into an exactly-once
    sink — it gets the fresh-checkpoint ValueError instead."""
    try:
        m = read_manifest(table_dir, v)
    except FileNotFoundError:
        raise ValueError(
            f"stream offset points at version {v}, which vacuum has "
            f"removed (oldest retained: {min(manifest_versions(table_dir), default='none')}); "
            "restart the stream from a fresh checkpoint"
        ) from None
    try:
        prev_m = read_manifest(table_dir, v - 1) if v > 0 else None
    except FileNotFoundError:
        if not allow_bootstrap:
            raise ValueError(
                f"version {v}'s parent manifest was vacuumed away beneath a "
                "checkpointed reader; emitting the snapshot here would re-send "
                "already-delivered rows as duplicates — restart the stream "
                "from a fresh checkpoint"
            ) from None
        prev_m = None  # snapshot bootstrap: v's full file set
    else:
        if m["op"] == "compact":
            return []  # pure rewrite: provably no net change, skip by op
    added, removed = file_diff(table_dir, prev_m, m)
    return [(e, 1) for e in added] + [(e, -1) for e in removed]


def _ddl_column_names(ddl: str) -> set[str]:
    """Top-level column names of a DDL string ("`a` int, `b` array<int>")
    without a SparkSession: split on depth-0 commas (angle brackets track
    nested generics), take each entry's first token, strip backticks."""
    parts, depth, cur = [], 0, []
    for ch in ddl:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return {p.strip().split()[0].strip("`") for p in parts if p.strip()}


class _TxSignedFilePartition(InputPartition):
    def __init__(self, abs_path: str, version: int, sign: int):
        self.abs_path = abs_path
        self.version = version
        self.sign = sign


class _TxCdcReader(_TxVersionOffsets, DataSourceStreamReader):
    def __init__(
        self,
        table_dir: str,
        data_field_names: list[str],
        arrow_schema,
        max_versions_per_batch: int | None = None,
        starting_version: int | None = None,
        max_bytes_per_batch: int | None = None,
    ):
        super().__init__(
            table_dir, max_versions_per_batch, starting_version, max_bytes_per_batch
        )
        self.data_field_names = data_field_names
        # Full return schema (data columns + _commit_version + _sign) as a
        # pa.Schema; picklable, rides to executors.
        self.arrow_schema = arrow_schema

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        if end["version"] < start["version"]:
            raise ValueError(
                f"txtable_cdc planned end offset {end['version']} behind "
                f"start {start['version']} — refusing (would re-emit rows)"
            )
        self._advance_base(end["version"])  # checkpoint resume re-learns the base
        parts: list[InputPartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            fresh = bool(start.get("bootstrap")) and v == start["version"] + 1
            parts.extend(
                _TxSignedFilePartition(os.path.join(self.table_dir, e["path"]), v, sign)
                for e, sign in _changed_files(self.table_dir, v, allow_bootstrap=fresh)
            )
        return parts

    def read(self, partition: _TxSignedFilePartition) -> Iterator:
        return _arrow_batches(
            partition.abs_path,
            self.data_field_names,
            self.arrow_schema,
            {"_commit_version": partition.version, "_sign": partition.sign},
        )


class TxTableCdcDataSource(DataSource):
    """``format("txtable_cdc")`` — signed change-row stream; see the CDC
    section comment above. Schema = destination table schema plus
    ``_commit_version bigint`` (the version that produced the row) and
    ``_sign int`` (+1 added / −1 removed)."""

    @classmethod
    def name(cls) -> str:
        return "txtable_cdc"

    def schema(self) -> str:
        data_schema = _latest_schema(self.options["path"])
        # The metadata columns are reserved: a table that already owns one
        # would silently have it shadowed by the per-partition metadata in
        # read() AND excluded from net_changes' groupBy — corrupt feed, so
        # refuse loudly at stream start instead. Column names are parsed
        # from the DDL by hand: schema() runs in the data-source helper
        # process where no SparkSession exists for StructType.fromDDL.
        clash = _ddl_column_names(data_schema) & {"_commit_version", "_sign"}
        if clash:
            raise ValueError(
                f"txtable_cdc reserves column names {sorted(clash)}; rename "
                "the table column(s) before streaming the change feed"
            )
        return data_schema + ", _commit_version bigint, _sign int"

    def streamReader(self, schema) -> _TxCdcReader:
        from pyspark.sql.pandas.types import to_arrow_schema

        data = [f.name for f in schema.fields if f.name not in ("_commit_version", "_sign")]
        return _TxCdcReader(
            self.options["path"], data, to_arrow_schema(schema), **_offset_options(self.options)
        )


def net_changes(signed):
    """Collapse signed change rows into the Delta-CDF shape: data columns
    + ``_change_type`` ('insert' | 'delete'), with exact multiset
    multiplicities. The multiset sum TELESCOPES across versions — net over
    rows spanning (v_a, v_b] equals ``TxTable.changes(v_a, v_b)`` — so a
    micro-batch covering several commits collapses to the end-to-end
    delta before any downstream work (an upsert immediately overwritten
    within the batch costs nothing). One hash aggregate over only the
    changed rows (map-side combine does the cancellation early); rewritten
    rows cancel to net 0 and vanish."""
    from pyspark.sql import functions as F

    data_cols = [c for c in signed.columns if c not in ("_commit_version", "_sign")]
    counts = (
        signed.groupBy(*data_cols)
        .agg(F.sum("_sign").alias("_net"))
        .filter(F.col("_net") != 0)
    )
    # |net| copies per row keeps exact multiset semantics (duplicates in
    # the table stay duplicates in the feed); |net| is almost always 1.
    rep = counts.withColumn("_i", F.explode(F.sequence(F.lit(1), F.abs(F.col("_net")))))
    return rep.select(
        *data_cols,
        F.when(F.col("_net") > 0, F.lit("insert")).otherwise(F.lit("delete")).alias(
            "_change_type"
        ),
    )
