"""Headless CLI — the SilentUpdater analog (reference
``src/SilentUpdater.py:10-21``: load job spec, run exports, exit; "e.g., as
a regular cron job").

Usage:
    python -m h2outility_spark export --resources spec.json \
        --data /root/testdata/sf0.001 --out ./out
    python -m h2outility_spark qc-apply --plan plan.json \
        --data /root/testdata/sf0.001 --out ./out_parquet
    python -m h2outility_spark catalog --data /root/testdata/sf0.001
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="h2outility_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_exp = sub.add_parser("export", help="run managed-resource exports (annotated wide CSVs)")
    p_exp.add_argument("--resources", required=True, help="JSON list of ManagedResource specs")
    p_exp.add_argument("--data", required=True, help="sf_dir with the parquet tables")
    p_exp.add_argument("--out", required=True)

    p_qc = sub.add_parser("qc-apply", help="apply a recorded QC op-list plan, write parquet")
    p_qc.add_argument("--plan", required=True)
    p_qc.add_argument("--data", required=True)
    p_qc.add_argument("--out", required=True)

    p_cat = sub.add_parser("catalog", help="print the derived series catalog")
    p_cat.add_argument("--data", required=True)

    p_up = sub.add_parser(
        "tx-upsert",
        help="incrementally merge new events into a transactional table "
        "(cron-able: each run drains whatever is new, commits atomically)",
    )
    p_up.add_argument("--data", required=True, help="sf_dir with the parquet tables")
    p_up.add_argument("--table", required=True, help="TxTable root directory")
    p_up.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")

    p_hist = sub.add_parser("tx-history", help="print a transactional table's commit history")
    p_hist.add_argument("--table", required=True)

    p_desc = sub.add_parser(
        "tx-describe", help="print a transactional table's health snapshot "
        "(files, rows, bytes, small-file fraction) from metadata only"
    )
    p_desc.add_argument("--table", required=True)

    p_cmp = sub.add_parser(
        "tx-compact",
        help="OPTIMIZE a transactional table: rewrite small data files into "
        "range-clustered large ones, then vacuum aged-out fragments "
        "(cron-able maintenance; pairs with tx-upsert's per-batch files)",
    )
    p_cmp.add_argument("--table", required=True)
    p_cmp.add_argument(
        "--key", action="append", default=None,
        help="merge/cluster key, repeatable (default event_id)",
    )
    p_cmp.add_argument("--target-rows", type=int, default=1_000_000)
    p_cmp.add_argument(
        "--zorder", action="store_true",
        help="cluster rewritten files on the Morton code over all keys",
    )
    p_cmp.add_argument(
        "--vacuum-keep", type=int, default=10,
        help="versions to retain when vacuuming after compaction (default 10)",
    )

    p_bc = sub.add_parser(
        "build-corpus",
        help="run the full corpus pipeline (quality gate, exact+near dedup, "
        "shard) and commit to a transactional table",
    )
    p_bc.add_argument("--data", required=True, help="sf_dir with documents.parquet")
    p_bc.add_argument("--table", required=True, help="TxTable root directory")
    p_bc.add_argument("--keep-frac", type=float, default=0.7)
    p_bc.add_argument("--shards", type=int, default=16)
    p_bc.add_argument("--json", action="store_true", help="emit stats as one JSON line")

    p_q = sub.add_parser("query", help="run a registered workload query by name")
    p_q.add_argument("name", help="registry name (see `queries` subcommand)")
    p_q.add_argument("--data", required=True, help="sf_dir with the parquet tables")
    p_q.add_argument("--out", help="write result parquet here instead of printing")
    p_q.add_argument("--limit", type=int, default=20, help="rows to print (default 20)")

    p_ex = sub.add_parser("explain", help="print a registered query's physical plan")
    p_ex.add_argument("name")
    p_ex.add_argument("--data", required=True)

    sub.add_parser("queries", help="list all registered query names")

    args = parser.parse_args(argv)

    if args.cmd == "queries":
        from h2outility_spark import workload

        for name, spec in workload.registry().items():
            print(f"{name:32s} {spec.description.splitlines()[0][:90]}")
        return 0

    from h2outility_spark.session import get_spark

    if args.cmd in ("query", "explain"):
        from h2outility_spark import workload

        reg = workload.registry()
        if args.name not in reg:
            print(f"unknown query {args.name!r}; run `queries` to list", file=sys.stderr)
            return 2
        spark = get_spark("h2outility-cli")
        df = reg[args.name].fn(spark, args.data)
        if args.cmd == "explain":
            print(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            ))
            return 0
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
        else:
            df.show(args.limit, truncate=False)
        return 0

    if args.cmd == "tx-history":
        from h2outility_spark.storage_tx import TxTable

        # history() is metadata-only — no SparkSession needed
        for h in TxTable(None, args.table, key_cols=["event_id"]).history():
            print(h)
        return 0

    if args.cmd == "tx-describe":
        import json as _json

        from h2outility_spark.storage_tx import TxTable

        # describe() is metadata-only (manifests + segment JSON) — no
        # SparkSession, so a dashboard/cron poll prints instantly.
        print(_json.dumps(TxTable(None, args.table, key_cols=["event_id"]).describe()))
        return 0

    if args.cmd == "build-corpus":
        from h2outility_spark.pipeline import build_corpus

        spark = get_spark("h2outility-cli")
        stats = build_corpus(
            spark, args.data, args.table, keep_frac=args.keep_frac, n_shards=args.shards
        )
        if args.json:
            import json as _json

            print(_json.dumps(stats))
        else:
            for k, v in stats.items():
                print(f"{k}: {v}")
        return 0

    if args.cmd == "tx-compact":
        from h2outility_spark.storage_tx import TxTable

        spark = get_spark("h2outility-cli")
        table = TxTable(spark, args.table, key_cols=args.key or ["event_id"])
        before = len(table.files()) if table.latest_version() is not None else 0
        v = table.compact_files(target_rows=args.target_rows, zorder=args.zorder)
        if v is None:
            print(f"nothing to compact ({before} files, all healthy)")
        else:
            reclaimed = table.vacuum(keep_versions=args.vacuum_keep)
            print(
                f"compacted {before} -> {len(table.files())} files at version {v}; "
                f"vacuum reclaimed {len(reclaimed)} fragments"
            )
        return 0

    from h2outility_spark.schema import events_as_datavalues
    from h2outility_spark.sources.parquet import load_table

    spark = get_spark("h2outility-cli")

    if args.cmd == "tx-upsert":
        from h2outility_spark.streaming.incremental import stream_upsert_to_txtable

        schema = load_table(spark, args.data, "events").schema
        # file-source streaming needs a DIRECTORY base path; events.parquet
        # in the test layout is a single file, so stream the sf_dir with a
        # filename glob instead.
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", "events.parquet")
            .load(args.data)
        )
        stream_upsert_to_txtable(
            stream, args.table, keys=["event_id"], order_col="ts", checkpoint_path=args.checkpoint
        )
        from h2outility_spark.storage_tx import TxTable

        table = TxTable(spark, args.table, key_cols=["event_id"])
        v = table.latest_version()
        n = table.snapshot().count() if v is not None else 0
        print(f"table at version {v}: {n} rows")
        return 0

    dv = events_as_datavalues(load_table(spark, args.data, "events"))
    keys = ["SiteID", "VariableCode", "MethodID", "SourceID", "QualityControlLevelID"]

    if args.cmd == "export":
        from h2outility_spark.jobs import ManagedResource, run_export

        files: list[str] = []
        for resource in ManagedResource.from_json(args.resources):
            files.extend(run_export(dv, resource, args.out))
        print(f"wrote {len(files)} files")
        for f in files:
            print(" ", f)
    elif args.cmd == "qc-apply":
        from h2outility_spark.plans import oplist

        plan = oplist.load_plan(args.plan)
        out = oplist.apply_plan(dv, plan, keys)
        out.write.mode("overwrite").parquet(args.out)
        print(f"applied {len(plan)} ops -> {args.out}")
    elif args.cmd == "catalog":
        from h2outility_spark.operators.catalog import derive_catalog

        for row in derive_catalog(dv, keys=keys).orderBy(*keys).collect():
            print(row.asDict())
    return 0


if __name__ == "__main__":
    sys.exit(main())
