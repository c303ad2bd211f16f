"""Snapshot-isolated transactional tables on plain parquet — manifest
commits, copy-on-write MERGE, time travel, rollback.

Reference analog: the RDBMS commit/rollback the reference leans on for its
edit sessions (``odmservices/edit_service.py:371-373`` in /root/reference —
``self._session.commit()`` / ``rollback()``) and the exists-check save
(M1/M2, W8/W9 in SURVEY.md §2). This container has no Delta/Iceberg jars,
so this module implements the same guarantees with the primitives those
formats are built from:

  * **Immutable data files.** Writers only ever ADD parquet files under
    ``data/``; nothing is modified in place. A data file is invisible until
    a manifest references it, so readers never observe partial writes.
  * **Manifest = snapshot.** ``_manifests/v{N}.json`` names the exact data
    files (with row counts and per-file key min/max) that make up version
    N. Reading a table = reading one manifest, then only its files.
  * **Segmented file lists (Iceberg's manifest-list trick).** The file
    list itself lives in content-addressed SEGMENT files
    (``_manifests/seg-{sha}.json``, up to ``SEGMENT_TARGET`` entries
    each); the top-level manifest holds only segment descriptors
    (name + n_files + per-key min/max). A commit writes the segments it
    CHANGED plus one small manifest — unchanged segments carry over by
    name. At 100 TB / ~1M files a one-file append serializes one tiny
    segment and a descriptor list, not a 100 MB file inventory, and
    ``history()`` never touches segments at all. Segment-level min/max
    lets merge_upsert skip reading descriptors' segments entirely when
    their key range can't overlap the updates. This is the only manifest
    format; a manifest without ``segments`` is rejected with a
    ``ValueError``.
  * **One reader.** This module is the only code that knows the on-disk
    format. Its module-level readers (``manifest_versions``,
    ``read_manifest``, ``read_segment``, ``manifest_files``,
    ``file_diff``) need no SparkSession, so the stream sources in
    ``sources/txtable_source.py`` call them from the Python data-source
    helper process, and every ``TxTable`` method reads through them too.
  * **Atomic commit = one file creation.** A writer stages its manifest to
    a temp name and publishes with ``os.link(tmp, vN.json)`` — on POSIX a
    hard link to an existing name fails with EEXIST, so exactly ONE of two
    racing writers wins version N. On an object store the same step is a
    conditional PUT (S3 ``If-None-Match``) or a commit service; the
    protocol is unchanged.
  * **One conflict policy.** Every verb commits through one bounded loop
    (``_publish``): the loser of version N rebuilds its segment list on
    the new latest manifest and tries again. Blind verbs (append,
    overwrite, restore) always can; verbs that read the table
    (merge_upsert, delete_keys, compact_files) only when Delta Lake's
    conflict check holds (``_carry_onto``) — otherwise CommitConflict
    reaches the caller, who alone can re-derive a stale input.
  * **MERGE is copy-on-write with file pruning.** Only parent files whose
    [min, max] range of the merge key overlaps the updates are rewritten;
    the rest carry over by reference. At 100 TB with range-clustered files
    (``compact_files`` range-partitions by the merge key) an upsert
    touching one day rewrites one day's files, not the table.
  * **Time travel / rollback.** Every version stays readable;
    ``restore(v)`` commits a NEW version whose file list equals v's — an
    audit-preserving rollback (the reference's W9 discard-working-copy,
    but with history).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"

#: Max file entries per segment file. At ~300 bytes/entry a full segment is
#: ~300 KB — large enough that a 1M-file table is ~1000 segments (a ~150 KB
#: descriptor list in the manifest), small enough that rewriting one is cheap.
SEGMENT_TARGET = 1000
#: A segment with fewer entries than this counts as "small" for compaction.
_COMPACT_SMALL = SEGMENT_TARGET // 4
#: Repack small segments once this many accumulate (amortizes many tiny
#: appends into O(changed)-per-commit writes overall).
_COMPACT_TRIGGER = 16
#: Commit attempts before CommitConflict reaches the caller. A writer loses
#: at most one race per commit another lands, so this exceeds the most
#: writers that race in the registry (txtable_concurrent_appends' three).
_COMMIT_ATTEMPTS = 10


def _norm_stat(v):
    """JSON-serializable, ORDER-PRESERVING form of a min/max statistic.
    Datetimes/dates become ISO strings (space separator, zero-padded), whose
    lexicographic order equals chronological order, so range-pruning
    comparisons stay correct across the JSON round-trip."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


def _disjoint(bounds: dict, smin: dict, smax: dict) -> bool:
    """Whether recorded per-key [min, max] stats miss the per-key ``bounds``
    on ANY key axis; all-null bounds miss everything (null keys never
    match a recorded range)."""
    if all(lo is None for lo, _ in bounds.values()):
        return True
    for k, (lo, hi) in bounds.items():
        if lo is None:
            continue  # all-null keys on this axis: can't prune by it
        kmin, kmax = smin.get(k), smax.get(k)
        if kmin is not None and (kmax < lo or kmin > hi):
            return True
    return False


class CommitConflict(RuntimeError):
    """Another writer committed the version this writer was about to."""


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, _MANIFEST_DIR, f"v{version:08d}.json")


def _segment_path(table_dir: str, name: str) -> str:
    return os.path.join(table_dir, _MANIFEST_DIR, name)


# -- manifest readers (session-free) ----------------------------------------


def manifest_versions(table_dir: str) -> list[int]:
    """The committed versions of the table at ``table_dir``, ascending."""
    return sorted(
        int(os.path.basename(p)[1:-5])
        for p in glob.glob(os.path.join(table_dir, _MANIFEST_DIR, "v*.json"))
    )


def read_manifest(table_dir: str, version: int) -> dict:
    """The top-level manifest of ``version``; FileNotFoundError if it was
    never committed or vacuum removed it."""
    with open(_manifest_path(table_dir, version)) as f:
        m = json.load(f)
    if "segments" not in m:
        raise ValueError(f"unsupported manifest format (no 'segments'): keys={sorted(m)}")
    return m


def read_segment(table_dir: str, name: str) -> list[dict]:
    """The file entries of segment ``name``."""
    with open(_segment_path(table_dir, name)) as f:
        return json.load(f)["entries"]


def manifest_files(table_dir: str, m: dict) -> list[dict]:
    """Every file entry of manifest ``m`` (reads all its segments)."""
    return [e for d in m["segments"] for e in read_segment(table_dir, d["name"])]


def file_diff(table_dir: str, old: dict | None, new: dict) -> tuple[list[dict], list[dict]]:
    """(added, removed) file entries from manifest ``old`` to ``new``, each
    sorted by path; ``old=None`` is the empty table. Only segments named
    by exactly one side are read: a segment both carry holds the same
    files in both."""
    old_names = {d["name"] for d in old["segments"]} if old else set()
    new_names = {d["name"] for d in new["segments"]}

    def _entries(names: set[str]) -> dict[str, dict]:
        return {e["path"]: e for n in names for e in read_segment(table_dir, n)}

    gained, lost = _entries(new_names - old_names), _entries(old_names - new_names)
    return (
        [gained[p] for p in sorted(gained.keys() - lost.keys())],
        [lost[p] for p in sorted(lost.keys() - gained.keys())],
    )


def _file_stats(path: str, key_cols: list[str]) -> dict:
    """Row count + per-key min/max from the parquet footer (metadata-only
    read — no data IO). min/max power file pruning in merge_upsert."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    stats: dict = {"rows": md.num_rows, "bytes": os.path.getsize(path), "min": {}, "max": {}}
    name_to_idx = {md.schema.column(i).name: i for i in range(len(md.schema))}
    for key in key_cols:
        idx = name_to_idx.get(key)
        if idx is None:
            continue
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                mins, maxs = [], []
                break
            mins.append(st.min)
            maxs.append(st.max)
        if mins:
            stats["min"][key] = _norm_stat(min(mins))
            stats["max"][key] = _norm_stat(max(maxs))
    return stats


class TxTable:
    """A transactional parquet table rooted at ``table_dir``.

    ``key_cols`` are the logical-row-identity columns (the merge keys);
    their per-file min/max is recorded at write time for pruning.
    """

    def __init__(self, spark: SparkSession, table_dir: str, key_cols: list[str]):
        self.spark = spark
        self.table_dir = table_dir
        self.key_cols = list(key_cols)
        os.makedirs(os.path.join(table_dir, _MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(table_dir, _DATA_DIR), exist_ok=True)

    # -- snapshot state ----------------------------------------------------

    def latest_version(self) -> int | None:
        versions = manifest_versions(self.table_dir)
        return versions[-1] if versions else None

    def manifest(self, version: int | None = None) -> dict | None:
        v = self.latest_version() if version is None else version
        if v is None:
            return None
        return read_manifest(self.table_dir, v)

    def files(self, version: int | None = None) -> list[dict]:
        """The materialized file-entry list of ``version`` (default:
        latest) — reads the manifest's segments."""
        m = self.manifest(version)
        if m is None:
            raise FileNotFoundError(f"no committed version in {self.table_dir}")
        return manifest_files(self.table_dir, m)

    def snapshot(self, version: int | None = None) -> DataFrame:
        """The table as of ``version`` (default: latest). Empty manifests
        (or a table with no commits) read as an empty frame if a schema was
        ever recorded; otherwise raise."""
        m = self.manifest(version)
        if m is None:
            raise FileNotFoundError(f"no committed version in {self.table_dir}")
        paths = [
            os.path.join(self.table_dir, f["path"]) for f in manifest_files(self.table_dir, m)
        ]
        if not paths:
            return self.spark.createDataFrame([], m["schema"])
        return self.spark.read.schema(m["schema"]).parquet(*paths)

    def scan(self, key: str, lo, hi) -> DataFrame:
        """Manifest-pruned range scan of the latest version: read ONLY the data files whose
        recorded [min, max] for ``key`` overlaps [lo, hi], then apply the
        residual filter. Spark's own planner prunes row groups from
        footers, but it must still LIST and OPEN every file to get there —
        at ~1M files the listing alone dominates. Here the manifest
        answers the file-level question without touching storage: whole
        segments are skipped by their aggregated stats, then files by
        theirs (the same two-level prune merge_upsert uses). Files without
        recorded stats for ``key`` are read (cannot prove them skippable).
        Bounds are inclusive; either may be None for half-open ranges."""
        m = self.manifest()
        if m is None:
            raise FileNotFoundError(f"no committed version in {self.table_dir}")
        nlo, nhi = _norm_stat(lo), _norm_stat(hi)

        def _misses(smin, smax) -> bool:
            if smin is None:
                return False
            return (nhi is not None and smin > nhi) or (nlo is not None and smax < nlo)

        paths: list[str] = []
        for d in m["segments"]:
            if _misses(d["min"].get(key), d["max"].get(key)):
                continue  # whole segment skipped — never read
            for entry in read_segment(self.table_dir, d["name"]):
                if not _misses(entry["min"].get(key), entry["max"].get(key)):
                    paths.append(entry["path"])
        if not paths:
            df = self.spark.createDataFrame([], m["schema"])
        else:
            df = self.spark.read.schema(m["schema"]).parquet(
                *[os.path.join(self.table_dir, p) for p in paths]
            )
        from pyspark.sql import functions as F

        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(key) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(key) <= F.lit(hi))
        return df.filter(cond)

    def history(self) -> list[dict]:
        """Commit log. Reads only top-level manifests — O(versions), never
        touches segment files (the at-scale requirement)."""
        keys = ("version", "op", "parent", "n_files", "committed_at")
        return [
            {k: m[k] for k in keys}
            for m in (read_manifest(self.table_dir, v) for v in manifest_versions(self.table_dir))
        ]

    def describe(self) -> dict:
        """Latest-version health snapshot for ops dashboards / compaction policy:
        rows, files, bytes, small-file count and fraction, bytes/row
        density, version count and latest op — all from manifests and
        segment metadata, zero data IO. ``small`` uses the median file's
        rows/4 as the cutoff, mirroring compact_files' default shape."""
        m = self.manifest()
        if m is None:
            raise FileNotFoundError(f"no committed version in {self.table_dir}")
        entries = manifest_files(self.table_dir, m)
        rows = sum(e["rows"] for e in entries)
        nbytes = sum(e["bytes"] for e in entries)
        sizes = sorted(e["rows"] for e in entries)
        median_rows = sizes[len(sizes) // 2] if sizes else 0
        small = sum(1 for e in entries if e["rows"] < max(1, median_rows // 4))
        return {
            "version": m["version"],
            "op": m["op"],
            "n_versions": len(manifest_versions(self.table_dir)),
            "n_files": len(entries),
            "n_segments": len(m["segments"]),
            "rows": rows,
            "bytes": nbytes,
            "bytes_per_row": round(nbytes / rows, 2) if rows and nbytes else None,
            "n_small_files": small,
            "small_file_fraction": round(small / len(entries), 4) if entries else 0.0,
        }

    def version_as_of(self, ts: float) -> int:
        """The latest version committed at or before unix-seconds ``ts``
        (timestamp time travel). Raises if the table's first commit is
        younger than ``ts``."""
        best = None
        for h in self.history():
            if h["committed_at"] <= ts:
                best = h["version"]
        if best is None:
            raise FileNotFoundError(f"no version committed at or before {ts}")
        return best

    def snapshot_as_of(self, ts: float) -> DataFrame:
        """The table as it was at unix-seconds ``ts`` — reproducing the
        exact training-data snapshot a past job read is a one-liner."""
        return self.snapshot(version=self.version_as_of(ts))

    # -- segment layer -----------------------------------------------------

    def _write_segments(self, entries: list[dict]) -> list[dict]:
        """Pack file entries into content-addressed segment files
        (``seg-{sha}.json``); return their descriptors. Content addressing
        makes the write idempotent — two writers packing identical entries
        produce one file — and means a carried-over segment is never
        rewritten, only referenced by name."""
        descs = []
        for i in range(0, len(entries), SEGMENT_TARGET):
            chunk = entries[i : i + SEGMENT_TARGET]
            payload = json.dumps({"entries": chunk}, sort_keys=True)
            name = f"seg-{hashlib.sha256(payload.encode()).hexdigest()[:24]}.json"
            path = _segment_path(self.table_dir, name)
            if not os.path.exists(path):
                tmp = f"{path}.tmp-{uuid.uuid4().hex}"
                with open(tmp, "w") as f:
                    f.write(payload)
                os.replace(tmp, path)
            else:
                # Reusing an orphaned segment (lost race / vacuumed
                # version): refresh mtime so vacuum's retention window
                # re-protects it until this writer's commit publishes a
                # manifest that references it — otherwise a concurrent
                # vacuum could reclaim it between here and _commit and
                # the commit would publish a corrupt snapshot.
                os.utime(path, None)
            descs.append(self._describe(name, chunk))
        return descs

    def _describe(self, name: str, chunk: list[dict]) -> dict:
        """Segment descriptor: name + n_files + per-key min/max aggregated
        over the chunk's file stats. A key appears only when EVERY file in
        the chunk has stats for it, so absence means 'cannot prune'."""
        d: dict = {"name": name, "n_files": len(chunk), "min": {}, "max": {}}
        for k in self.key_cols:
            mins = [e["min"][k] for e in chunk if k in e.get("min", {})]
            maxs = [e["max"][k] for e in chunk if k in e.get("max", {})]
            if mins and len(mins) == len(chunk):
                d["min"][k] = min(mins)
                d["max"][k] = max(maxs)
        return d

    def _compact(self, segments: list[dict]) -> list[dict]:
        """Bound manifest growth under many tiny commits: once
        ``_COMPACT_TRIGGER`` small segments accumulate, load and repack
        just those into full segments. Amortized cost per commit stays
        O(changed files); big segments are never touched."""
        small = [d for d in segments if d["n_files"] < _COMPACT_SMALL]
        if len(small) < _COMPACT_TRIGGER:
            return segments
        keep = [d for d in segments if d["n_files"] >= _COMPACT_SMALL]
        entries: list[dict] = []
        for d in small:
            entries.extend(read_segment(self.table_dir, d["name"]))
        return keep + self._write_segments(entries)

    # -- write path --------------------------------------------------------

    def _stage_files(self, df: DataFrame) -> list[dict]:
        """Write ``df`` as immutable data files; return manifest entries.

        Spark writes to a scratch dir; each part file is MOVED (same-fs
        rename) into ``data/`` under a fresh uuid name. Files in data/ are
        unreferenced until a manifest commit publishes them, so a crash
        mid-stage leaves garbage (reclaimed by vacuum), never corruption.
        """
        scratch = tempfile.mkdtemp(prefix="txstage-", dir=self.table_dir)
        # INT96 timestamps carry no column statistics; micros do. The
        # manifest's min/max pruning depends on them. The conf is restored
        # after the staged write so a session that deliberately set a
        # different value keeps it for unrelated writes.
        conf_key = "spark.sql.parquet.outputTimestampType"
        prev = self.spark.conf.get(conf_key, None)
        try:
            self.spark.conf.set(conf_key, "TIMESTAMP_MICROS")
            df.write.mode("overwrite").parquet(os.path.join(scratch, "out"))
            entries = []
            for part in sorted(glob.glob(os.path.join(scratch, "out", "*.parquet"))):
                name = f"{uuid.uuid4().hex}.parquet"
                dest = os.path.join(self.table_dir, _DATA_DIR, name)
                os.rename(part, dest)
                st = _file_stats(dest, self.key_cols)
                if st["rows"] == 0:
                    os.remove(dest)
                    continue
                entries.append({"path": f"{_DATA_DIR}/{name}", **st})
            return entries
        finally:
            if prev is None:
                self.spark.conf.unset(conf_key)
            else:
                self.spark.conf.set(conf_key, prev)
            shutil.rmtree(scratch, ignore_errors=True)

    def _commit(self, segments: list[dict], schema: str, op: str, parent: int | None) -> int:
        """Publish a new manifest atomically as ``parent + 1``; raises
        CommitConflict if that version already exists. ``parent`` must be
        the version ``segments`` were built on, never re-resolved here:
        that would silently drop a concurrent commit's files (lost update);
        ``_publish`` rebuilds the segments on the winner's manifest instead.
        The manifest holds only segment DESCRIPTORS — O(segments) — so a
        commit writes the changed segments plus this file, never the whole
        file inventory."""
        import time as _time

        version = 0 if parent is None else parent + 1
        manifest = {
            "version": version,
            "parent": parent,
            "op": op,
            "schema": schema,
            "committed_at": _time.time(),
            "n_files": sum(d["n_files"] for d in segments),
            "segments": segments,
        }
        tmp = os.path.join(self.table_dir, _MANIFEST_DIR, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, _manifest_path(self.table_dir, version))  # atomic check-and-put
        except FileExistsError as e:
            raise CommitConflict(f"version {version} was committed concurrently") from e
        finally:
            os.remove(tmp)
        return version

    @staticmethod
    def _ddl(df: DataFrame) -> str:
        return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)

    def _publish(self, rebase, schema: str, op: str, base: dict | None) -> int:
        """The one commit loop: publish ``rebase(m)`` as the version after
        ``m`` — ``base`` first, then the latest manifest after each lost
        race — at most ``_COMMIT_ATTEMPTS`` times. ``rebase`` maps a
        manifest (None: empty table) to the verb's segments on it, or
        raises CommitConflict when the verb's change cannot carry onto it."""
        m = base
        for _ in range(_COMMIT_ATTEMPTS):
            segments = rebase(m)
            try:
                return self._commit(segments, schema, op, m["version"] if m else None)
            except CommitConflict:
                m = self.manifest()
        raise CommitConflict(f"{op} lost the commit race {_COMMIT_ATTEMPTS} times")

    @staticmethod
    def _carry_onto(base: dict, kept: list[dict], new: list[dict], bounds: dict | None):
        """``rebase`` for a verb that read ``base`` and publishes ``kept +
        new``: on a later manifest, swap the replaced base segments for
        ``new`` if Delta Lake's conflict check holds at segment granularity
        (no segment read): same schema, every replaced segment still
        listed, no segment added since ``base`` meets ``bounds`` (None: the
        verb changes no row, so no added row conflicts with it)."""
        base_names = {d["name"] for d in base["segments"]}
        replaced = base_names - {d["name"] for d in kept}

        def rebase(latest: dict) -> list[dict]:
            segs = latest["segments"]
            added = [d for d in segs if d["name"] not in base_names]
            if (
                latest["schema"] != base["schema"]
                or replaced - {d["name"] for d in segs}
                or bounds is not None
                and not all(_disjoint(bounds, d["min"], d["max"]) for d in added)
            ):
                raise CommitConflict(f"version {latest['version']} conflicts with this write")
            return [d for d in segs if d["name"] not in replaced] + new

        return rebase

    def append(self, df: DataFrame) -> int:
        new = self._write_segments(self._stage_files(df))
        return self._publish(
            lambda m: self._compact((m["segments"] if m else []) + new),
            self._ddl(df), "append", self.manifest(),
        )

    def overwrite(self, df: DataFrame) -> int:
        new = self._write_segments(self._stage_files(df))
        return self._publish(lambda m: new, self._ddl(df), "overwrite", self.manifest())

    def _prune_split(self, m: dict, bounds: dict) -> tuple[list, list, list]:
        """Split the parent's file inventory by per-key [min, max] bounds:
        (untouched segments carried by NAME — never read, carried file
        entries, overlapping file entries that must be read and rewritten).
        A file/segment is prunable when ``_disjoint`` from the bounds."""
        untouched_segs, carried_entries, overlapping = [], [], []
        for d in m["segments"]:
            if _disjoint(bounds, d["min"], d["max"]):
                untouched_segs.append(d)  # carried by name — segment never read
                continue
            for entry in read_segment(self.table_dir, d["name"]):
                if _disjoint(bounds, entry["min"], entry["max"]):
                    carried_entries.append(entry)
                else:
                    overlapping.append(entry)
        return untouched_segs, carried_entries, overlapping

    def _copy_on_write(
        self, m: dict, schema: str, keys: DataFrame, rows: DataFrame | None, op: str
    ) -> int:
        """The copy-on-write body of merge_upsert and delete_keys: publish
        ``m`` minus the rows whose ``key_cols`` match ``keys`` (distinct key
        rows), plus ``rows`` (None: delete only), as an ``op`` commit.

        TWO pruning levels against the key bounds of ``rows`` (``keys``
        when deleting): whole segments whose range misses carry over by
        NAME (never read); in the others, files whose range misses carry
        over by reference, and only overlapping files are read, anti-joined
        against ``keys`` and rewritten with ``rows`` in one staged write.

        A call that writes nothing publishes no version (that would churn
        history on every empty micro-batch) unless ``schema`` changes: an
        empty evolve_schema batch publishes a metadata-only version."""
        from pyspark.sql import functions as F

        row = (keys if rows is None else rows).select(
            F.count(F.lit(1)).alias("n"),
            *[F.min(k).alias(f"lo_{k}") for k in self.key_cols],
            *[F.max(k).alias(f"hi_{k}") for k in self.key_cols],
        ).collect()[0]
        bounds = {
            k: (_norm_stat(row[f"lo_{k}"]), _norm_stat(row[f"hi_{k}"])) for k in self.key_cols
        }
        untouched_segs, carried_entries, overlapping = self._prune_split(m, bounds)
        out = rows if row["n"] else None
        if overlapping:
            # Read with the (possibly evolved) schema: parquet fills columns
            # absent from a file with nulls, so old files conform for free.
            paths = [os.path.join(self.table_dir, e["path"]) for e in overlapping]
            current = self.spark.read.schema(schema).parquet(*paths)
            survivors = current.join(keys, self.key_cols, "left_anti")
            out = survivors if out is None else survivors.unionByName(out)
        if out is None and schema == m["schema"]:
            return m["version"]
        staged = self._stage_files(out) if out is not None else []
        new = self._write_segments(carried_entries + staged)
        return self._publish(self._carry_onto(m, untouched_segs, new, bounds), schema, op, m)

    def merge_upsert(self, updates: DataFrame, evolve_schema: bool = False) -> int:
        """MERGE (upsert on ``key_cols``): rows matching an update's key are
        replaced; others are kept; unmatched updates are inserted.

        Copy-on-write with two pruning levels (``_copy_on_write``). Pruning
        is MULTI-AXIS: a file/segment is skipped when ANY merge key's
        recorded [min, max] is disjoint from the updates' bounds — with
        range-clustered files only the first key bites, but after
        ``compact_files(zorder=True)`` every axis is tight and the rewrite
        set shrinks to the intersection box.

        ``evolve_schema=True`` enables ADD-COLUMN evolution (Delta's
        mergeSchema): update columns unknown to the table are appended to
        the table schema, and columns the updates lack are null-filled.
        Carried-over files are never rewritten — parquet reads with the
        evolved schema surface the new columns as null for old files, so
        evolution is a metadata change plus the normal copy-on-write.
        Default (False) keeps the strict contract: unknown update columns
        are dropped by the conform-select and missing ones raise.

        A merge that loses its commit race lands on top of the winner when
        the winner's new segments miss the updates' key range and it kept
        every segment the merge replaced; otherwise CommitConflict asks the
        caller to re-merge on the new snapshot.
        """
        m = self.manifest()
        if m is None:
            new = self._write_segments(self._stage_files(updates))
            return self._commit(new, self._ddl(updates), "merge", None)

        # Conform updates to the TABLE schema (column order + types): the
        # committed manifest keeps the table's schema, and carried-over
        # files were written with it — an int-literal update against a
        # bigint column must cast, not fork the schema.
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        target = StructType.fromDDL(m["schema"])
        if evolve_schema:
            known = {f.name for f in target.fields}
            target = StructType(
                list(target.fields)
                + [f for f in updates.schema.fields if f.name not in known]
            )
            updates = updates.select(
                [
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    if f.name in updates.columns
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in target.fields
                ]
            )
        else:
            updates = updates.select([F.col(f.name).cast(f.dataType) for f in target.fields])
        schema_ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in target.fields)
        keys = updates.select(*self.key_cols).distinct()
        return self._copy_on_write(m, schema_ddl, keys, updates, "merge")

    def delete_keys(self, keys: DataFrame) -> int:
        """DELETE by key (copy-on-write): rows whose ``key_cols`` match any
        row of ``keys`` are removed; everything else is kept. The missing
        third verb next to append and merge_upsert — retention erasure,
        right-to-be-forgotten, and the tombstone half of a branch merge
        all need it.

        merge_upsert's copy-on-write body with no inserted rows: the same
        pruning and conflict policy; a delete that removes no row publishes
        no version. Deleted rows surface as 'delete' rows in ``changes()``
        — the CDF feed ``merge_from_branch(propagate_deletes=True)`` and
        downstream replicas consume."""
        m = self.manifest()
        if m is None:
            raise FileNotFoundError(f"no committed version in {self.table_dir}")
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        # Conform key types to the TABLE schema (an int-literal key frame
        # against a bigint key column must cast, not miss every row).
        target = {f.name: f.dataType for f in StructType.fromDDL(m["schema"]).fields}
        keys = keys.select(
            [F.col(k).cast(target[k]).alias(k) for k in self.key_cols]
        ).distinct()
        return self._copy_on_write(m, m["schema"], keys, None, "delete")

    def restore(self, version: int) -> int:
        """Roll back BY MOVING FORWARD: commit a new version with the file
        list of ``version``. History stays intact and auditable. Segments
        carry over by name, so a restore writes one small manifest no
        matter how large the table is."""
        m = self.manifest(version)  # FileNotFoundError if never committed or vacuumed
        return self._publish(lambda _: m["segments"], m["schema"], "restore", self.manifest())

    def changes(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Row-level change feed between two versions (Delta CDF shape):
        the result carries the destination schema plus ``_change_type``
        ('insert' | 'delete'); an update appears as its delete + insert
        pair. Feed incremental consumers without re-reading the table.

        At-scale shape: the diff starts from the MANIFESTS (``file_diff``,
        the same diff the ``txtable_cdc`` stream source emits) — only
        segments named by one version are opened and only files present
        in exactly one version are read (immutable files shared by both
        versions cannot contain changes), so cost is O(changed files) + an
        exceptAll shuffle over just those rows. Rows merely rewritten
        into different files (compaction, survivors of a copy-on-write
        merge) appear on both sides and cancel in the exceptAll. Both
        sides read with the DESTINATION schema, so an add-column evolution
        surfaces old rows' new columns as null exactly like the snapshots
        do."""
        m_from = self.manifest(v_from)
        m_to = self.manifest(self.latest_version() if v_to is None else v_to)
        if m_from is None or m_to is None:
            raise FileNotFoundError("both versions must exist")
        added, removed = file_diff(self.table_dir, m_from, m_to)
        schema = m_to["schema"]

        from pyspark.sql import functions as F

        def _read(entries: list[dict]) -> DataFrame:
            if not entries:
                return self.spark.createDataFrame([], schema)
            return self.spark.read.schema(schema).parquet(
                *[os.path.join(self.table_dir, e["path"]) for e in entries]
            )

        only_from = _read(removed)
        only_to = _read(added)
        inserted = only_to.exceptAll(only_from).withColumn("_change_type", F.lit("insert"))
        deleted = only_from.exceptAll(only_to).withColumn("_change_type", F.lit("delete"))
        return inserted.unionByName(deleted)

    def clone(self, dest_dir: str) -> "TxTable":
        """Cheap independent copy of the latest version at
        ``dest_dir`` — the experiment-branch primitive: fork the corpus,
        mutate the fork, leave the source untouched.

        Data files are HARD-LINKED (same filesystem; falls back to a real
        copy across devices), so the clone is O(files) metadata work, not
        O(bytes). Unlike a Delta shallow clone, the link means the clone
        stays readable even after the source vacuums the shared file: the
        inode lives until both sides drop it. Histories are independent —
        the clone starts at version 0 with op 'clone'."""
        m = self.manifest()
        if m is None:
            raise FileNotFoundError(f"no committed version in {self.table_dir}")
        dest = TxTable(self.spark, dest_dir, key_cols=self.key_cols)
        if dest.latest_version() is not None:
            # Fail BEFORE linking: a late commit failure would leave the
            # existing table polluted with orphaned (retention-guarded)
            # data files, and the copy fallback could overwrite its files.
            raise FileExistsError(f"{dest_dir} already holds a committed table")
        entries = manifest_files(self.table_dir, m)
        for e in entries:
            src = os.path.join(self.table_dir, e["path"])
            dst = os.path.join(dest_dir, e["path"])
            try:
                os.link(src, dst)
            except OSError:  # cross-device or fs without hard links
                shutil.copy2(src, dst)
        segs = dest._write_segments(entries)
        dest._commit(segs, m["schema"], "clone", None)
        return dest

    # -- named branches ------------------------------------------------------
    #
    # Sugar over clone(): a branch is a clone living in the table's own
    # _branches/<name> namespace, so it is discoverable (branches()) and
    # mergeable back (merge_from_branch) — the Delta/Iceberg named-branch
    # workflow (branch, experiment, merge or discard) on the same
    # hard-link clone primitive. Branch data files are hard links, so the
    # source's vacuum/compaction cannot invalidate a branch (the inode
    # survives until both sides drop it); vacuum only scans the table's
    # own _DATA_DIR, never _branches/.

    _BRANCH_DIR = "_branches"

    @staticmethod
    def _check_branch_name(name: str) -> None:
        import re

        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name):
            raise ValueError(f"invalid branch name {name!r}")

    def branch(self, name: str) -> "TxTable":
        """Create named branch ``name`` from the latest version.
        The branch starts at its own version 0 (op 'clone'); its post-fork
        edits are exactly ``branch_table(name).changes(0)``."""
        self._check_branch_name(name)
        return self.clone(os.path.join(self.table_dir, self._BRANCH_DIR, name))

    def branches(self) -> list[str]:
        d = os.path.join(self.table_dir, self._BRANCH_DIR)
        if not os.path.isdir(d):
            return []
        # A branch exists only once its clone COMMITTED a manifest: an
        # interrupted branch() leaves the bare directory skeleton
        # (TxTable.__init__ creates it before any file links), and listing
        # that phantom would hand callers a table that raises on first
        # read.
        return sorted(
            n
            for n in os.listdir(d)
            if manifest_versions(os.path.join(d, n))
        )

    def branch_table(self, name: str) -> "TxTable":
        self._check_branch_name(name)
        d = os.path.join(self.table_dir, self._BRANCH_DIR, name)
        if not manifest_versions(d):
            raise FileNotFoundError(f"no branch {name!r} in {self.table_dir}")
        return TxTable(self.spark, d, key_cols=self.key_cols)

    def merge_from_branch(self, other: "TxTable", propagate_deletes: bool = False) -> int:
        """Merge a branch's post-fork work back into this table: the
        branch's CDF since its fork point (its version 0) is reduced to its net inserted rows (an
        update's delete+insert pair nets to the insert, which carries the
        key's final value) and merge_upserted here in one commit.

        Deletes performed on the branch net to bare delete rows. By
        default they are ignored (merging an experiment must not silently
        destroy main's rows); ``propagate_deletes=True`` opts into the
        tombstone policy: keys the branch deleted WITHOUT re-inserting
        (the delete rows anti-joined against the insert keys — an updated
        key is never a tombstone) are ``delete_keys``'d here first, then
        the inserts merge. The tombstone path is TWO commits (delete,
        then merge) — each individually atomic; readers between them see
        the post-delete pre-merge state, never a torn file set."""
        from pyspark.sql import functions as F

        # The CDF plan holds two exceptAll shuffles over the changed files;
        # downstream it is consumed up to four times (the bounds collects
        # and the staged writes of delete_keys + merge_upsert). Persist it
        # so the expensive diff runs once, keeping the advertised
        # O(changes)-per-merge cost.
        net = other.changes(0).persist()
        try:
            inserts = net.filter(F.col("_change_type") == "insert").drop("_change_type")
            if propagate_deletes:
                tombstones = (
                    net.filter(F.col("_change_type") == "delete")
                    .select(*self.key_cols)
                    .join(
                        inserts.select(*self.key_cols).distinct(),
                        self.key_cols,
                        "left_anti",
                    )
                    .distinct()
                )
                self.delete_keys(tombstones)
            return self.merge_upsert(inserts)
        finally:
            net.unpersist()

    def resolve_from_branch(self, other: "TxTable", since_self: int) -> int:
        """THREE-WAY merge that keeps this table's side of a conflict
        ("ours") — the step after ``branch_conflicts`` reports divergence:
        both this table (since ``since_self``, its version at fork time)
        and the branch (since its fork point, its version 0) have
        advanced, and their changed key sets may overlap.

        Conflicted keys KEEP this table's current state; only the
        branch's NON-conflicting net changes apply: inserts are
        merge_upserted and deleted-not-reinserted keys are tombstoned.
        The conflict set is computed as in :meth:`branch_conflicts` and
        anti-joined out of both legs — one CDF diff per side, one join,
        then the same two-commit-max apply path as merge_from_branch.

        Returns the version committed by the final apply. Cost stays
        O(changes on either side), never O(table)."""
        from pyspark.sql import functions as F

        # ONE CDF diff per side: the branch leg of the conflict set is
        # derived from the SAME persisted net the apply path consumes
        # (calling branch_conflicts here would re-run other.changes()),
        # and conflicts itself is persisted because delete_keys +
        # merge_upsert each consume their inputs several times (bounds
        # collects + staged writes) — without it the exceptAll shuffles
        # behind self.changes() would re-run per consumption.
        net = other.changes(0).persist()
        conflicts = (
            self.changes(since_self)
            .select(*self.key_cols)
            .distinct()
            .join(net.select(*self.key_cols).distinct(), self.key_cols, "semi")
            .persist()
        )
        # The DERIVED frames are also persisted: delete_keys and
        # merge_upsert each consume their input several times (conform
        # select + bounds collect + anti-join + staged write), and without
        # a persist every consumption re-runs the anti-joins over the
        # cached net/conflicts (profiled: the delete_keys call here cost
        # 26 jobs / 4.0 s vs 6 jobs / 0.5 s standalone; persisting the
        # derived key frames measured −13% min / −10% median on
        # txtable_resolve_ours, ABBA, results identical). The frames are
        # tiny (key columns of changed rows only), so the materialization
        # is bounded; both verbs complete synchronously before the
        # finally releases them. merge_from_branch deliberately does NOT
        # get the same treatment: its derived tombstones are one anti-join
        # off the already-persisted net, and the A/B there was a tie
        # (OPTIMIZATION_r15.md, VERDICT #6).
        derived: list[DataFrame] = []
        try:
            all_inserts = net.filter(F.col("_change_type") == "insert").drop(
                "_change_type"
            )
            inserts = all_inserts.join(conflicts, self.key_cols, "left_anti").persist()
            derived.append(inserts)
            tombstones = (
                net.filter(F.col("_change_type") == "delete")
                .select(*self.key_cols)
                .join(
                    all_inserts.select(*self.key_cols).distinct(),
                    self.key_cols,
                    "left_anti",
                )
                .join(conflicts, self.key_cols, "left_anti")
                .distinct()
                .persist()
            )
            derived.append(tombstones)
            self.delete_keys(tombstones)
            return self.merge_upsert(inserts)
        finally:
            net.unpersist()
            conflicts.unpersist()
            for f in derived:
                f.unpersist()

    def branch_conflicts(self, a: "TxTable", b: "TxTable") -> DataFrame:
        """Keys TOUCHED (net-inserted or net-deleted) on BOTH branches
        since their fork points — the divergence report a three-way merge
        needs before choosing a resolution policy. One row per conflicted
        key. Cost: each branch's CDF is O(its changed files); the
        intersection is one join of two key sets."""
        from pyspark.sql import functions as F

        def _touched(t: "TxTable") -> DataFrame:
            return t.changes(0).select(*self.key_cols).distinct()

        return _touched(a).join(_touched(b), self.key_cols, "semi")

    # -- maintenance -------------------------------------------------------

    def compact_files(
        self,
        target_rows: int = 1_000_000,
        small_rows: int | None = None,
        zorder: bool = False,
        target_bytes: int | None = None,
    ) -> int | None:
        """OPTIMIZE: rewrite many small DATA files into few range-clustered
        large ones (Delta OPTIMIZE / Iceberg rewrite_data_files). Streaming
        upserts leave one file per micro-batch; at 100 TB that is millions
        of tiny files whose per-file overhead (open cost, footer reads,
        scheduler tasks) dominates scans. Compaction is a metadata-plus-IO
        maintenance commit:

          * files with ``rows < small_rows`` (default ``target_rows // 4``)
            are read, re-sorted by the first merge key via
            ``repartitionByRange`` — keeping per-file key ranges tight and
            disjoint so merge_upsert's min/max pruning stays sharp — and
            rewritten into files of ~``target_rows``;
          * big files and whole segments without small files carry over by
            reference (zero data IO for the already-healthy part);
          * the result is published as one atomic ``compact`` commit; the
            pre-compaction version stays fully time-travelable until
            ``vacuum`` ages it out.

        Data-identical by construction (pure rewrite, no filter). Returns
        the new version, or None when fewer than two small files exist
        (no-op — no empty commits). Compaction changes no row, so it lands
        on top of a concurrent commit that kept every segment it rewrote;
        one that replaced such a segment (or changed the schema) raises
        CommitConflict, and the caller re-runs compaction on the new
        snapshot.
        """
        import math

        m = self.manifest()
        if m is None:
            return None
        if target_bytes is not None:
            # Files are sized in BYTES on real storage (the 128 MB-ish
            # object-store sweet spot); translate through the table's own
            # observed bytes/row so target_rows tracks the actual schema
            # width instead of a guess.
            entries = manifest_files(self.table_dir, m)
            if entries:
                bpr = sum(e["bytes"] for e in entries) / max(1, sum(e["rows"] for e in entries))
                target_rows = max(1, int(target_bytes / bpr))
        cutoff = target_rows // 4 if small_rows is None else small_rows

        carried_segs, carried_entries, small_entries = [], [], []
        for d in m["segments"]:
            entries = read_segment(self.table_dir, d["name"])
            if all(e["rows"] >= cutoff for e in entries):
                carried_segs.append(d)  # healthy segment: carried by name
                continue
            for e in entries:
                (small_entries if e["rows"] < cutoff else carried_entries).append(e)
        if len(small_entries) < 2:
            return None

        paths = [os.path.join(self.table_dir, e["path"]) for e in small_entries]
        df = self.spark.read.schema(m["schema"]).parquet(*paths)
        total = sum(e["rows"] for e in small_entries)
        n_out = max(1, math.ceil(total / target_rows))
        k0 = self.key_cols[0]
        cluster_cols = [k for k in self.key_cols if k in df.columns]
        if zorder:
            # Morton normalization casts each key to DOUBLE; a string key
            # would die at runtime under ANSI mode — fail fast with the
            # actual constraint instead.
            from pyspark.sql.types import NumericType, TimestampNTZType, TimestampType

            bad = [
                f.name
                for f in df.schema.fields
                if f.name in cluster_cols
                and not isinstance(f.dataType, (NumericType, TimestampType, TimestampNTZType))
            ]
            if bad:
                raise ValueError(
                    f"zorder=True needs numeric/timestamp merge keys; "
                    f"non-numeric: {bad}"
                )
        if zorder and len(cluster_cols) >= 2:
            # Multi-axis maintenance: rewrite on the Morton code over ALL
            # merge keys, so footer min/max stats prune selective filters
            # (and merge overlap checks) on any key axis, not just the
            # first — Delta's OPTIMIZE ZORDER BY.
            from h2outility_spark.storage import zordered_frame

            packed = zordered_frame(df, cluster_cols, num_partitions=n_out)
        elif k0 in df.columns:
            from pyspark.sql import functions as F

            packed = df.repartitionByRange(n_out, F.col(k0))
        else:
            packed = df.coalesce(n_out)
        new = self._write_segments(carried_entries + self._stage_files(packed))
        return self._publish(
            self._carry_onto(m, carried_segs, new, None), m["schema"], "compact", m
        )

    def vacuum(self, keep_versions: int = 10, retention_seconds: float = 3600.0) -> list[str]:
        """Delete data files referenced by NO retained manifest (older
        manifests beyond ``keep_versions`` are dropped first). Returns the
        deleted file names. Readers of retained versions are unaffected —
        a live reader of a dropped version is the same hazard Delta/Iceberg
        document for their vacuum.

        ``retention_seconds`` guards in-flight WRITERS (same rule as
        Delta's ``deletedFileRetentionDuration`` / Iceberg's
        ``min-snapshots-to-keep`` window): a file a concurrent writer has
        staged but not yet committed is unreferenced by any manifest, so an
        unguarded vacuum would delete it and the writer's later commit
        would publish a manifest pointing at missing files — a permanently
        corrupt snapshot. Files whose mtime is younger than the window are
        therefore kept. Pass ``retention_seconds=0`` only when the caller
        holds exclusive access (no in-flight writers) — tests do this."""
        import time as _time

        latest = self.latest_version()
        if latest is None:
            return []
        cutoff = latest - keep_versions + 1
        for v in manifest_versions(self.table_dir):
            if v < cutoff:
                os.remove(_manifest_path(self.table_dir, v))
        ref_segments: set[str] = set()
        referenced: set[str] = set()
        for v in manifest_versions(self.table_dir):
            for d in read_manifest(self.table_dir, v)["segments"]:
                ref_segments.add(d["name"])
                referenced.update(e["path"] for e in read_segment(self.table_dir, d["name"]))
        now = _time.time()
        deleted = []
        for p in glob.glob(os.path.join(self.table_dir, _DATA_DIR, "*.parquet")):
            rel = f"{_DATA_DIR}/{os.path.basename(p)}"
            if rel in referenced:
                continue
            try:
                if now - os.path.getmtime(p) < retention_seconds:
                    continue  # possibly staged by an in-flight writer
                os.remove(p)
            except FileNotFoundError:
                continue  # another vacuum raced us; file is already gone
            deleted.append(rel)
        # segment files referenced by no retained manifest (same age guard:
        # a racing writer may have packed segments it hasn't committed yet)
        for p in glob.glob(os.path.join(self.table_dir, _MANIFEST_DIR, "seg-*.json")):
            if os.path.basename(p) in ref_segments:
                continue
            try:
                if now - os.path.getmtime(p) < retention_seconds:
                    continue
                os.remove(p)
            except FileNotFoundError:
                continue
        return sorted(deleted)
