"""Per-layer metrics of the traced run.

``install`` adds the trace-only hooks (extra counts whose cost is kept
out of every span); ``layer_metrics`` turns the spans, the operation
records and Spark's event log into the per-layer metrics named in
``BENCHMARK.json``. Every metric is reported per traced pass, so a
workload that does not reach a layer reports 0 for it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

from workloads import QUERIES

UNITS = {
    "session.start_s": "s",
    "sources.calls": "count", "sources.load_s": "s", "sources.load_jobs": "count",
    "workload.build_s": "s", "workload.build_jobs": "count", "workload.plan_s": "s",
    "workload.exec_s": "s", "workload.exec_jobs": "count",
    **{f"query.{q}.e2e_s": "s" for q in QUERIES},
    "catalog.collect_s": "s", "jobs.run_export_s": "s", "jobs.export_chunk_s": "s",
    "jobs.chunks": "count", "jobs.jobs_per_chunk": "count",
    "sinks.csv_write_s": "s", "sinks.csv_mb": "MB", "sinks.fleet_write_s": "s",
    "sinks.fleet_files": "count",
    "streaming.drain_s": "s", "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.input_rows": "count",
    "edit_session.frame_s": "s", "edit_session.save_s": "s", "edit_session.save_jobs": "count",
    "edit_session.rows_edited": "count",
    "storage_tx.merge_s": "s", "storage_tx.overwrite_s": "s", "storage_tx.compact_s": "s",
    "storage_tx.vacuum_s": "s", "storage_tx.snapshot_s": "s", "storage_tx.files_added": "count",
    "storage_tx.files_removed": "count", "storage_tx.write_amp": "ratio",
    "storage_tx.live_files": "count", "storage_tx.live_mb": "MB",
    "storage_tx.conflict_retries": "count",
    "dedup.cc_s": "s", "dedup.cc_jobs": "count", "dedup.cc_rounds": "count",
    "dedup.candidate_pairs": "count", "dedup.pair_yield": "ratio",
    "text.contamination_s": "s", "pipeline.build_corpus_s": "s",
    "spark.stages": "count", "spark.tasks": "count", "spark.task_run_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.task_skew_max": "ratio",
    "spark.idle_core_frac": "ratio",
    "trace.overhead_frac": "ratio",
}

_COMMITS = ("TxTable.merge_upsert", "TxTable.overwrite", "TxTable.append", "TxTable.compact_files")


def install(tracer, ctx) -> None:
    """Trace-only counts, attached to the span that produced them."""
    from pyspark.sql import functions as F

    def commit(span, args, kwargs, version):
        table = args[0]
        if span.name in ("TxTable.merge_upsert", "TxTable.compact_files"):
            ctx.edited_table = table  # live_files and live_mb describe this one
        if version is None:
            return
        m = table.manifest(version)
        new = {e["path"]: e for e in table.files(version)}
        old = {e["path"] for e in table.files(m["parent"])} if m["parent"] is not None else set()
        span.info["added"] = len(set(new) - old)
        span.info["removed"] = len(old - set(new))
        span.info["added_bytes"] = sum(new[p].get("bytes", 0) for p in set(new) - old)
        if span.name == "TxTable.merge_upsert":
            span.info["update_rows"] = (args[1] if len(args) > 1 else kwargs["updates"]).count()

    for name in _COMMITS:
        tracer.hook(name, commit)

    def edited_rows(span, args, kwargs, version):
        from h2outility_spark.operators import qc

        span.info["rows_edited"] = args[0].frame().filter(F.col(qc.SEL)).count()

    tracer.hook("EditSession.save_to_table", edited_rows)
    tracer.hook("lsh_candidate_pairs", lambda s, a, k, r: s.info.update(pairs=r.count()))
    tracer.hook("connected_components", lambda s, a, k, r: s.info.update(pairs=a[0].count()))
    tracer.hook(
        "write_annotated_csv",
        lambda s, a, k, r: s.info.update(bytes=os.path.getsize(r)),
    )

    # connected_components checkpoints once up front and once per round.
    # Patch the session's concrete frame class, which overrides the method.
    frame_cls = type(ctx.spark.range(0))
    original = frame_cls.localCheckpoint

    def local_checkpoint(self, *args, **kwargs):
        stack = tracer._stack() if tracer.active else []
        if stack:
            stack[-1].info["checkpoints"] = stack[-1].info.get("checkpoints", 0) + 1
        return original(self, *args, **kwargs)

    frame_cls.localCheckpoint = local_checkpoint


def _event_log(event_dir: str) -> tuple[dict, dict, dict]:
    """(job id -> (group, stage ids), stage id -> job id, stage id -> tasks)."""
    jobs, stage_job, tasks = {}, {}, {}
    for path in glob.glob(os.path.join(event_dir, "*")):
        jobs_here, stage_here, tasks_here = {}, {}, {}
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs_here[ev["Job ID"]] = (group, ev["Stage IDs"])
                    for sid in ev["Stage IDs"]:
                        stage_here.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                    tasks_here.setdefault(ev["Stage ID"], []).append({
                        "dur_ms": info["Finish Time"] - info["Launch Time"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "read_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "write_b": sw.get("Shuffle Bytes Written", 0),
                        "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })
        # the last application (the session the passes ran on) wins
        if jobs_here and max(jobs_here) >= max(jobs, default=-1):
            jobs, stage_job, tasks = jobs_here, stage_here, tasks_here
    return jobs, stage_job, tasks


def layer_metrics(tracer, ctx, passes, session_start_s, event_dir) -> dict:
    traced = [i for i, p in enumerate(passes) if p["traced"]]
    untraced = [i for i, p in enumerate(passes) if not p["traced"] and i > 0]
    n = len(traced)
    spans = [s for s in tracer.spans if s.pass_no in traced and s.end is not None]
    children: dict[int, list] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)

    jobs, stage_job, tasks = _event_log(event_dir)
    pass_of_job = {}
    for i in traced:
        for j in range(passes[i]["jobs_from"], passes[i]["jobs_from"] + passes[i]["jobs"]):
            pass_of_job[j] = i
    own_jobs: dict[str, int] = {}
    for j, (group, _) in jobs.items():
        if j in pass_of_job and group:
            own_jobs[group] = own_jobs.get(group, 0) + 1

    def incl_jobs(span) -> int:
        return own_jobs.get(span.group, 0) + sum(incl_jobs(c) for c in children.get(span.id, []))

    def named(name):
        return [s for s in spans if s.name == name]

    def dur(name) -> float:
        return sum(s.end - s.start for s in named(name)) / n

    def jobs_of(name) -> float:
        return sum(incl_jobs(s) for s in named(name)) / n

    def info(name, key) -> float:
        return sum(s.info.get(key, 0) for s in named(name))

    def self_time(name) -> float:
        return sum(
            (s.end - s.start) - sum(c.end - c.start for c in children.get(s.id, []))
            for s in named(name)
        ) / n

    commits = [s for s in spans if s.name in _COMMITS]
    merges = named("TxTable.merge_upsert")
    live_files = live_mb = live_rows = 0.0
    table = getattr(ctx, "edited_table", None)
    if table is not None and table.latest_version() is not None:
        files = table.files()
        live_files, live_mb = len(files), sum(e.get("bytes", 0) for e in files) / 1e6
        live_rows = sum(e.get("rows", 0) for e in files)
    merge_rows = info("TxTable.merge_upsert", "update_rows")
    merge_bytes = sum(s.info.get("added_bytes", 0) for s in merges)
    bytes_per_row = (live_mb * 1e6 / live_rows) if live_files and live_rows else 0.0
    export_chunks = named("export_chunk")
    progress = [p for i in traced for p in ctx.streams.get(i, [])]
    triggers = [p["durationMs"].get("triggerExecution", 0) for p in progress]
    add_batch = [p["durationMs"].get("addBatch", 0) for p in progress]
    records = [r for r in ctx.records if r["pass"] in traced]
    query_e2e = {
        q: [r["s"] for r in ctx.records if r["pass"] in untraced and r["label"] == q]
        for q in QUERIES
    }
    candidates = info("lsh_candidate_pairs", "pairs")

    stage_ids = [sid for sid, j in stage_job.items() if j in pass_of_job and sid in tasks]
    all_tasks = [t for sid in stage_ids for t in tasks[sid]]
    skew = [
        max(t["dur_ms"] for t in tasks[sid]) / max(1.0, statistics.median(t["dur_ms"] for t in tasks[sid]))
        for sid in stage_ids if len(tasks[sid]) >= 2
    ]
    traced_wall = sum(passes[i]["wall"] for i in traced)
    task_run_s = sum(t["run_ms"] for t in all_tasks) / 1000.0
    wall_traced = statistics.median(passes[i]["wall"] for i in traced)
    wall_plain = statistics.median(passes[i]["wall"] for i in untraced)

    values = {
        "session.start_s": session_start_s,
        "sources.calls": len(named("load_table")) / n,
        "sources.load_s": dur("load_table"),
        "sources.load_jobs": jobs_of("load_table"),
        "workload.build_s": dur("workload.build"),
        "workload.build_jobs": jobs_of("workload.build"),
        "workload.plan_s": dur("workload.plan"),
        "workload.exec_s": dur("workload.exec"),
        "workload.exec_jobs": jobs_of("workload.exec"),
        **{f"query.{q}.e2e_s": statistics.median(v) if v else 0.0 for q, v in query_e2e.items()},
        "catalog.collect_s": self_time("run_export"),
        "jobs.run_export_s": dur("run_export"),
        "jobs.export_chunk_s": dur("export_chunk"),
        "jobs.chunks": len(export_chunks) / n,
        "jobs.jobs_per_chunk": (
            sum(incl_jobs(s) for s in export_chunks) / len(export_chunks) if export_chunks else 0.0
        ),
        "sinks.csv_write_s": dur("write_annotated_csv"),
        "sinks.csv_mb": info("write_annotated_csv", "bytes") / 1e6 / n,
        "sinks.fleet_write_s": dur("fleet"),
        "sinks.fleet_files": sum(r["n"] or 0 for r in records if r["kind"] == "fleet") / n,
        "streaming.drain_s": dur("ingest"),
        "streaming.batches": len(progress) / n,
        "streaming.batch_p50_ms": statistics.median(triggers) if triggers else 0.0,
        "streaming.add_batch_ms": statistics.median(add_batch) if add_batch else 0.0,
        "streaming.input_rows": sum(p.get("numInputRows", 0) for p in progress) / n,
        "edit_session.frame_s": dur("EditSession.frame"),
        "edit_session.save_s": dur("EditSession.save_to_table"),
        "edit_session.save_jobs": jobs_of("EditSession.save_to_table"),
        "edit_session.rows_edited": info("EditSession.save_to_table", "rows_edited") / n,
        "storage_tx.merge_s": dur("TxTable.merge_upsert"),
        "storage_tx.overwrite_s": dur("TxTable.overwrite"),
        "storage_tx.compact_s": dur("TxTable.compact_files"),
        "storage_tx.vacuum_s": dur("TxTable.vacuum"),
        "storage_tx.snapshot_s": dur("TxTable.snapshot"),
        "storage_tx.files_added": sum(s.info.get("added", 0) for s in commits) / n,
        "storage_tx.files_removed": sum(s.info.get("removed", 0) for s in commits) / n,
        "storage_tx.write_amp": (
            merge_bytes / (merge_rows * bytes_per_row) if merge_rows and bytes_per_row else 0.0
        ),
        "storage_tx.live_files": live_files,
        "storage_tx.live_mb": live_mb,
        "storage_tx.conflict_retries": sum(
            1 for s in commits if s.info.get("error") == "CommitConflict"
        ) / n,
        "dedup.cc_s": dur("connected_components"),
        "dedup.cc_jobs": jobs_of("connected_components"),
        "dedup.cc_rounds": max(0.0, info("connected_components", "checkpoints") / n - 1),
        "dedup.candidate_pairs": candidates / n,
        "dedup.pair_yield": info("connected_components", "pairs") / candidates if candidates else 0.0,
        "text.contamination_s": dur("contamination_overlap"),
        "pipeline.build_corpus_s": dur("build_corpus"),
        "spark.stages": len(stage_ids) / n,
        "spark.tasks": len(all_tasks) / n,
        "spark.task_run_s": task_run_s / n,
        "spark.task_cpu_s": sum(t["cpu_ns"] for t in all_tasks) / 1e9 / n,
        "spark.gc_s": sum(t["gc_ms"] for t in all_tasks) / 1000.0 / n,
        "spark.shuffle_read_mb": sum(t["read_b"] for t in all_tasks) / 1e6 / n,
        "spark.shuffle_write_mb": sum(t["write_b"] for t in all_tasks) / 1e6 / n,
        "spark.spill_mb": sum(t["spill_b"] for t in all_tasks) / 1e6 / n,
        "spark.task_skew_max": max(skew, default=0.0),
        "spark.idle_core_frac": 1.0 - task_run_s / (traced_wall * int(os.environ["SPARK_GRAFT_CPUS"])),
        "trace.overhead_frac": wall_traced / wall_plain - 1.0,
    }
    table_rows: dict[str, dict] = {}
    for s in spans:
        row = table_rows.setdefault(s.layer, {"self_s": 0.0, "calls": 0.0, "jobs": 0.0})
        row["calls"] += 1 / n
        row["jobs"] += own_jobs.get(s.group, 0) / n
    for layer, t in tracer.self_times(spans).items():
        table_rows[layer]["self_s"] = t / n
    return {
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in UNITS.items()},
        "table": table_rows,
    }
