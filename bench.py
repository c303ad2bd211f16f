"""Benchmark runner: executes the headline queries (QuerySpec.bench=True)
against $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

OUTPUT CONTRACT: stdout carries TWO newline-separated JSON objects — the
full record first (also persisted to BENCH_full_local.json), then a compact
final line:

    {"metric": "...", "value": N, "unit": "sec", "core11_cold": N,
     "queries": {...}, "sf": ..., "n_errors": 0, "full_record": "..."}

Consumers must json-parse the LAST stdout line (or the ~2 KB tail, which
always contains it) — never the first line or the whole stdout at once.

Each query is timed end-to-end (plan + execute + collect-to-count) after a
JVM/session warmup pass so we measure steady-state execution, not JIT and
session startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from h2outility_spark import workload  # noqa: E402
from h2outility_spark.session import get_spark  # noqa: E402


#: Synthetic sf1 (10x sf0.1) under /tmp for the 100x scaling block. The
#: scale-up is SELF-SIMILAR — ten decorrelated shards of the sf0.1
#: distribution — so both the work AND the output of the heavy-tail
#: queries grow exactly 10x and the fitted exponent measures the
#: algorithm, not an artifact of duplicated data:
#:   * documents: copy k maps letters through a k-rotated alphabet, so
#:     every shingle changes and cross-copy Jaccard ~ 0 while WITHIN-copy
#:     near-dup pairs are preserved bit-for-bit (both sides of a pair go
#:     through the same substitution);
#:   * embeddings: copy k circularly rolls the 64 dims by 7k (copy 0 is
#:     the unrotated original, which is fine — decorrelation only needs
#:     the RELATIVE roll between copies to be nonzero mod 64) — a
#:     permutation, so within-copy inner products (hence all cosines and
#:     LSH collisions) are EXACT while cross-copy vectors decorrelate;
#:   * orders/lineitem: copy k shifts the orderkey space, preserving every
#:     per-order lineitem group; dims (supplier/nation/...) stay fixed,
#:     which is how TPC-H-style facts scale anyway.
#: Dim tables are symlinked from the source sf0.1 directory.
def _ensure_sf1(sf_dir: str) -> str | None:
    import tempfile

    # v3: per-table ROW_GROUP_SIZE. DuckDB's default row group is 122,880
    # rows, so the 50k-row sf1 documents table landed in ONE row group of
    # one file — Spark cannot split inside a row group, so every
    # documents-scanning query ran its narrow map on ~2 of 32 cores at
    # sf1 and the measured 100x exponent crept up with data (the r12
    # chunk_sliding 0.829 reading was THIS, not the algorithm). Real
    # corpora arrive as thousands of files; bounded row groups restore
    # the parallel scan the measurement is supposed to exercise.
    out = os.path.join(tempfile.gettempdir(), "h2ou_sf1_v3")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    try:
        import duckdb

        os.makedirs(out, exist_ok=True)
        con = duckdb.connect()
        alpha = "abcdefghijklmnopqrstuvwxyz"

        def docs_k(k: int) -> str:
            rot = alpha[k:] + alpha[:k]
            return (
                "SELECT doc_id + {o} AS doc_id, "
                "translate(text, '{a}{A}', '{r}{R}') AS text, "
                "lang, source, n_chars "
                "FROM read_parquet('{src}/documents.parquet')"
            ).format(o=k * 5000, a=alpha, A=alpha.upper(), r=rot, R=rot.upper(), src=sf_dir)

        def emb_k(k: int) -> str:
            r = (7 * k) % 64
            return (
                "SELECT vec_id + {o} AS vec_id, "
                "embedding[{lo}:64] || embedding[1:{hi}] AS embedding, label "
                "FROM read_parquet('{src}/embeddings.parquet')"
            ).format(o=k * 2000, lo=r + 1, hi=r, src=sf_dir)

        def fact_k(k: int, table: str, key: str) -> str:
            return (
                "SELECT * REPLACE ({key} + {o} AS {key}) "
                "FROM read_parquet('{src}/{t}.parquet')"
            ).format(key=key, o=k * 200000, src=sf_dir, t=table)

        def events_k(k: int) -> str:
            # copy k shifts user_id by 10k (> max 1499, so copies cannot
            # collide) and event_id by 1M: every per-user series — the unit
            # the window operators (as-of, sessionization, pivot) partition
            # by — is preserved bit-for-bit within a copy, while group COUNT
            # grows 10x. Timestamps stay put: per-key work is what scales.
            return (
                "SELECT event_id + {eo} AS event_id, user_id + {uo} AS user_id, "
                "ts, event_type, value, props "
                "FROM read_parquet('{src}/events.parquet')"
            ).format(eo=k * 1_000_000, uo=k * 10_000, src=sf_dir)

        for name, per_copy, rg in (
            ("documents", docs_k, 2000),      # 50k rows -> ~25 splittable groups
            ("embeddings", emb_k, 1000),      # 22k rows -> ~22 groups
            ("orders", lambda k: fact_k(k, "orders", "o_orderkey"), 60000),
            ("lineitem", lambda k: fact_k(k, "lineitem", "l_orderkey"), 120000),
            ("events", events_k, 60000),
        ):
            union = " UNION ALL ".join(per_copy(k) for k in range(10))
            con.execute(
                f"COPY ({union}) TO '{out}/{name}.parquet' "
                f"(FORMAT PARQUET, ROW_GROUP_SIZE {rg})"
            )
        con.close()
        for t in ("region", "nation", "customer", "supplier", "part"):
            dst = os.path.join(out, f"{t}.parquet")
            if not os.path.exists(dst):
                os.symlink(os.path.join(sf_dir, f"{t}.parquet"), dst)
        with open(marker, "w") as f:
            f.write("ok\n")
        return out
    except Exception:  # noqa: BLE001
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    try:
        spark = get_spark("h2outility-bench")
        specs = {n: s for n, s in workload.registry().items() if s.bench}
        # Warmup: run the cheapest action once to absorb session/codegen startup.
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        # ...then a REAL parquet-touching throwaway pass: spark.range alone
        # absorbs JVM startup but not the parquet-scan/vectorized-reader/
        # codegen path, so whichever query happened to be measured FIRST
        # absorbed ~0.8 s of residual warmup — and the window rotation
        # reorders the registry, making that query a different one every
        # round (the r8 series_catalog 1.336 s artifact). Untimed, one scan
        # per distinct source table family.
        for _wt in ("lineitem", "events", "documents", "embeddings"):
            try:
                workload._t(spark, sf_dir, _wt).selectExpr("count(*)").collect()
            except Exception:  # noqa: BLE001
                pass
    except Exception as e:  # noqa: BLE001
        # Even a dead session emits the JSON line the driver parses.
        print(json.dumps({
            "metric": "headline_queries_total_wall", "value": 0.0, "unit": "sec",
            "queries": {}, "sf": sf, "errors": {"__startup__": str(e).splitlines()[0][:300]},
        }))
        return

    # Two timed passes per query, keep the min — plus a third pass when the
    # two disagree wildly: this VM has episodic host-level slowdowns
    # (multi-second kernel stalls unrelated to the workload); min-of-N
    # measures the engine, not the neighbor noise.
    # Fault isolation: one failing query must never zero the whole artifact
    # (r02 lesson — a single analysis exception killed the bench run). Each
    # query runs under try/except; failures land in "errors" and the JSON
    # line is ALWAYS printed.
    # The round-1 headline set, kept as a stable cross-round comparable
    # (see the core11 note below for the measurement-discipline history).
    CORE11 = [
        "series_catalog", "wide_export", "tpch_q1", "tpch_q3", "tpch_q5",
        "qc_interpolate", "sessionization", "text_stats",
        "minhash_signatures", "embedding_knn", "asof_join",
    ]

    t_bench_start = time.perf_counter()
    timings: dict[str, float] = {}
    all_samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name, spec in specs.items():
        try:
            samples = []
            # CORE11 members (the cross-round comparable) always get 3
            # attempts — min-of-3 is robust to a single episodic VM stall,
            # which min-of-2 is not (the r8 series_catalog read).
            min_attempts = 3 if name in CORE11 else 2
            for attempt in range(3):
                # Every number is a cold-plan measurement: neither a frame
                # cached by a NEIGHBORING query (the r6 minhash_signatures
                # 0.046 s artifact) nor this query's OWN internal .cache()
                # from a previous attempt may turn a sample into a warm
                # read — so the cache clears before EVERY attempt, same as
                # the scaling blocks below.
                spark.catalog.clearCache()
                df = spec.fn(spark, sf_dir)
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
                if (
                    attempt + 1 >= min_attempts
                    and max(samples) / max(min(samples), 1e-9) < 3.0
                ):
                    break
            timings[name] = round(min(samples), 3)
            all_samples[name] = [round(s, 3) for s in samples]
        except Exception as e:  # noqa: BLE001
            errors[name] = str(e).splitlines()[0][:300] if str(e) else repr(e)

    total = round(sum(timings.values()), 3)
    # The round-1 headline set, kept as a stable cross-round comparable:
    # the full set grew in round 4 (heavy queries added at the judge's
    # request), so the grand total is not comparable to BENCH_r01's — this
    # subtotal is. MEASUREMENT-DISCIPLINE NOTE: since round 7 every sample
    # is COLD (clearCache per attempt), so the standing reference for this
    # subtotal is the round-7 COLD measurement 4.93 s (recorded in
    # BASELINE.md) — NOT BENCH_r01's 4.369 s, which was measured warm
    # before the discipline change. The JSON publishes the same value
    # under `core11_cold` to make the discipline explicit.
    core11_missing = [n for n in CORE11 if n not in timings]
    # a failed/missing core query must NOT silently shrink the comparable
    # subtotal into a fake speedup — publish it as null + name the holes
    core11 = (
        round(sum(timings[n] for n in CORE11), 3) if not core11_missing else None
    )
    # Heavy-tail scaling block: re-time the three most expensive headline
    # queries at 1/10th the data and record the empirical scaling exponent
    # t ~ n^e (e = log10(t_big / t_small) for a 10x data ratio). This is
    # the measured evidence behind the 100 TB claims: the banded/bucketed
    # near-dup paths must stay near-linear (e <= ~1.2 once the ~0.1-0.3 s
    # fixed plan/session floor — which inflates t_small and so DEFLATES the
    # exponent — is acknowledged), never quadratic (e ~= 2).
    SCALING = [
        "neardup_embedding_lsh", "neardup_minhash_pairs", "tpch_q21_waiting_supplier",
        "dedup_exact_docs", "asof_join", "asof_join_nearest", "wide_export",
        "series_ohlc", "chunk_sliding",
    ]
    small_dir = sf_dir.replace("sf0.1", "sf0.01")
    scaling: dict[str, dict] = {}
    if small_dir != sf_dir and os.path.isdir(small_dir):
        import math

        for name in SCALING:
            spec = specs.get(name)
            t_big = timings.get(name)
            if spec is None or t_big is None:
                continue
            try:
                samples = []
                for _ in range(2):
                    spark.catalog.clearCache()
                    df = spec.fn(spark, small_dir)
                    t0 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    samples.append(time.perf_counter() - t0)
                t_small = min(samples)
                scaling[name] = {
                    "t_sf0.01": round(t_small, 3),
                    "t_sf0.1": t_big,
                    "exponent": round(math.log10(t_big / max(t_small, 1e-9)), 3),
                }
            except Exception as e:  # noqa: BLE001
                errors[f"scaling:{name}"] = str(e).splitlines()[0][:300]

    # 100x span (sf0.01 -> synthetic self-similar sf1): two decades mostly
    # cancel the fixed ~0.1-0.3 s plan/session floor that deflates the 10x
    # exponent, so THIS number is the load-bearing near-linearity evidence.
    #
    # neardup_embedding_lsh is deliberately NOT in the 100x block: its
    # registered threshold (0.45, chosen so the synthetic corpus HAS
    # near-dups) sits in the random-pair regime, where any recall-1.0
    # configuration must examine a near-quadratic candidate set no matter
    # how the signature width is resized (the operator docstring derives
    # this; measured: occupancy-matched n_bits=7 at sf1 = ~104 s, all of it
    # intrinsic candidate verification). That measures the synthetic
    # data/threshold regime, not the engine — at real near-dup regimes
    # (cos >= 0.85) per-band selectivity collapses and the banded path is
    # the linear one, which the minhash measurement below demonstrates on
    # the text side at 100x. Since round 8 the occupancy-matched resize is
    # ENGINE behavior, not a caller contract: n_bits=None makes
    # similarity.auto_n_bits size the bands as ceil(log2(n/target)) from a
    # cheap count (doubling rows adds exactly one bit; unit-tested with
    # recall preserved at the registered threshold).
    # asof_join and wide_export ride the round-8 events synthesis (10
    # key-shifted user copies — per-user series preserved, group count
    # 10x): they measure the union-sort-carry window family and the
    # single-shuffle conditional-agg pivot, the two shapes every QC/W
    # operator reduces to.
    # series_ohlc and chunk_sliding joined in round 9 (first round with
    # driver rows): the one-hash-aggregate downsample and the zero-shuffle
    # narrow text map — the two cheapest shapes in the engine, measured so
    # the near-linearity claim covers them instead of assuming it.
    # asof_join_nearest joined in round 10 (VERDICT r9 directive 5): the
    # bidirectional carry is a strictly richer window than asof_join's
    # backward-only one (two directional passes + |dt| arbitration on the
    # SAME single exchange), so its exponent certifies that the extra
    # arbitration stays in the shuffle rather than adding a pass.
    SCALING100 = [
        "neardup_minhash_pairs",
        "tpch_q21_waiting_supplier",
        "dedup_exact_docs",
        "asof_join",
        "asof_join_nearest",
        "wide_export",
        "series_ohlc",
        "chunk_sliding",
    ]
    scaling100: dict[str, dict] = {}
    if small_dir != sf_dir and os.path.isdir(small_dir):
        sf1_dir = _ensure_sf1(sf_dir)
        if sf1_dir:
            import math

            for name in SCALING100:
                # The scaling evidence is supplementary: if an episodic VM
                # stall has already eaten the wall budget, ship the headline
                # numbers rather than risk the whole JSON line.
                if time.perf_counter() - t_bench_start > 420:
                    errors[f"scaling100:{name}"] = "skipped: bench wall budget exhausted"
                    continue
                spec = specs.get(name)
                t_small = scaling.get(name, {}).get("t_sf0.01")
                if spec is None or t_small is None:
                    continue
                try:
                    samples = []
                    for _ in range(2):
                        spark.catalog.clearCache()
                        df = spec.fn(spark, sf1_dir)
                        t0 = time.perf_counter()
                        df.write.format("noop").mode("overwrite").save()
                        samples.append(time.perf_counter() - t0)
                    t_big = min(samples)
                    scaling100[name] = {
                        "t_sf0.01": t_small,
                        "t_sf0.1": timings.get(name),
                        "t_sf1": round(t_big, 3),
                        "exponent": round(
                            math.log10(t_big / max(t_small, 1e-9)) / 2.0, 3
                        ),
                    }
                except Exception as e:  # noqa: BLE001
                    errors[f"scaling100:{name}"] = str(e).splitlines()[0][:300]

    # Strict-regime near-dup (VERDICT r11 #5): the staged cos >= 0.85 pair
    # measured NEXT TO the borderline 0.45 headline, so the bench record
    # shows the regime the RP-LSH design targets (planted near-dups,
    # ~91% of random pairs pruned by 8-bit x 24-band banding) instead of
    # letting the borderline number dominate the wall-clock story. The
    # pair was PROMOTED in the r14 rotation with bench=True, so its pinned
    # config is timed by the headline loop above and republished here next
    # to the borderline read; this block adds the 100x point via the
    # occupancy-matched auto-resize (the production discipline — a fixed
    # bit width at growing scale measures the configuration, not the
    # operator).
    strict_block: dict[str, float] = {}
    if (
        small_dir != sf_dir
        and os.path.isdir(small_dir)
        # same wall-budget guard as the scaling blocks: supplementary
        # evidence must never risk the headline JSON line after a VM stall
        and time.perf_counter() - t_bench_start <= 420
    ):
        try:
            from h2outility_spark.workload_similarity import neardup_strict_auto

            def _time2(build_df) -> float:
                samples = []
                for _ in range(2):
                    spark.catalog.clearCache()
                    df = build_df()
                    t0 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    samples.append(time.perf_counter() - t0)
                return round(min(samples), 3)

            if timings.get("neardup_embedding_strict") is not None:
                strict_block["t_sf0.1_pinned"] = timings["neardup_embedding_strict"]
            if timings.get("neardup_embedding_lsh") is not None:
                strict_block["t_sf0.1_borderline_045"] = timings["neardup_embedding_lsh"]
            sf1_dir2 = _ensure_sf1(sf_dir)
            if sf1_dir2 and time.perf_counter() - t_bench_start < 480:
                import math

                n_small = spark.read.parquet(os.path.join(small_dir, "embeddings.parquet")).count()
                n_big = spark.read.parquet(os.path.join(sf1_dir2, "embeddings.parquet")).count()
                t_s = _time2(
                    lambda: neardup_strict_auto(spark, small_dir, n_rows=n_small + n_small // 20)
                )
                t_b = _time2(
                    lambda: neardup_strict_auto(spark, sf1_dir2, n_rows=n_big + n_big // 20)
                )
                strict_block["t_sf0.01_auto"] = t_s
                strict_block["t_sf1_auto"] = t_b
                strict_block["exponent_100x_auto"] = round(
                    math.log10(t_b / max(t_s, 1e-9)) / 2.0, 3
                )
        except Exception as e:  # noqa: BLE001
            errors["strict_neardup"] = str(e).splitlines()[0][:300]

    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "core11_total_r1_comparable": core11,
        "core11_cold": core11,  # same number; cold discipline since r7 — compare vs BASELINE.md's 4.93 s
        "queries": timings,
        "samples": all_samples,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if scaling:
        out["scaling_10x"] = scaling
    if scaling100:
        out["scaling_100x"] = scaling100
    if strict_block:
        out["strict_neardup"] = strict_block
    if core11_missing:
        out["core11_missing"] = core11_missing
    if errors:
        out["errors"] = errors

    # OUTPUT CONTRACT (two JSON lines — ADVICE r10): stdout carries TWO
    # newline-separated JSON objects, the FULL record first and a COMPACT
    # record last. Consumers must parse the LAST line (or the ~2 KB stdout
    # tail, which always contains it intact) — NOT the first line and NOT
    # the whole stdout as one JSON document. Rationale: the driver keeps
    # only a ~2 KB TAIL of stdout; the full record (with per-query samples
    # and both scaling blocks) outgrew that in rounds 8-9 and the official
    # bench artifact recorded "parsed": null twice. So: persist the full
    # record to BENCH_full_local.json, print it (for humans and any
    # head-capture), then print the final COMPACT line — headline numbers
    # only, a few hundred bytes — which the tail capture always keeps
    # intact and the driver can parse.
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_full_local.json"), "w") as f:
            json.dump(out, f, indent=1)
    except OSError:
        pass
    print(json.dumps(out))
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "core11_cold": core11,
        "queries": timings,
        "sf": out["sf"],
        "n_errors": len(errors),
        "full_record": "BENCH_full_local.json",
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
