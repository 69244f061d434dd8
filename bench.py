"""Benchmark harness: runs the headline catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query executes fully (noop sink — no driver collect bottleneck,
no result materialization skew); reported seconds are per-query
wall-clock, `value` is the total.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402

from loudml_spark import session_cache  # noqa: E402
from loudml_spark.catalog import QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def sf_of(path: str) -> float:
    # ".../sf0.1" and ".../testdata_sf1" both parse: take everything
    # after the LAST "sf" in the basename
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base[base.rfind("sf") + 2:])
    except ValueError:
        return -1.0


def main():
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("loudml-spark-bench")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing floor: Spark's default (1m).  A 16k floor was
        # tried here (it keeps ~MB-scale CPU-heavy stages parallel),
        # but measured A/B it is a catastrophic net loss: iterative
        # graph/clustering queries run hundreds of tiny shuffle
        # stages, and the floor turns each from 1 task into ~32,
        # multiplying scheduling overhead (pagerank_sim_docs 10.7 s →
        # 23.7 s min, 17 s → 43 s median; the graph+kmeans slice
        # >4× slower overall — OPTIMIZATION_r12.md).  Stages that
        # genuinely need parallelism on tiny-but-expensive frames get
        # it explicitly in the operator (the `_rebalance` idiom),
        # which is targeted and scale-neutral.  Env knob kept for
        # experiments only.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                os.environ.get("SPARK_GRAFT_MIN_COALESCE", "1m"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen/reader warmup so q1 isn't charged for session init
    spark.range(1000).selectExpr("sum(id)").collect()
    from loudml_spark.sources.tables import load_table

    load_table(spark, SF_DIR, "events").limit(1).collect()

    # Host wall-clock on this box swings up to 10x per-query between
    # runs under ambient VM contention (same code, same data).  Each
    # query therefore runs SPARK_GRAFT_REPS times and reports the MIN
    # — the standard interference-filtering practice; it also reports
    # steady-state (warm-cache) cost, which is the number comparable
    # across rounds.
    # Reps run as FULL PASSES over the catalog (not back-to-back per
    # query) so a multi-second host stall lands on different queries
    # in each pass and the per-query min survives it.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "3")))
    # SPARK_GRAFT_ONLY: comma-separated name prefixes — bench a slice
    # of the catalog (e.g. "tpch_" for the TPC-H-at-sf1 artifact runs)
    only = [p for p in os.environ.get("SPARK_GRAFT_ONLY", "").split(",")
            if p]
    bench_queries = {
        name: spec for name, spec in QUERIES.items()
        if not only or any(name.startswith(p) for p in only)
    }
    samples: dict[str, list[float]] = {}
    # session-cache hits and misses per query and rep, so a min-based
    # comparison can tell which queries read a memo
    cache: dict[str, dict[str, list[int]]] = {}
    for rep in range(reps):
        for name, spec in bench_queries.items():
            # label the jobs (guide §1.5) so the UI/event log maps
            # stages back to catalog queries
            spark.sparkContext.setJobDescription(f"{name} (rep {rep})")
            c0 = session_cache.stats()
            t0 = time.perf_counter()
            df = spec["fn"](spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            samples.setdefault(name, []).append(time.perf_counter() - t0)
            c1 = session_cache.stats()
            for k in ("hits", "misses"):
                cache.setdefault(name, {}).setdefault(k, []).append(
                    c1[k] - c0[k])
    spark.sparkContext.setJobDescription(None)

    from loudml_spark.catalog import release_caches

    release_caches()

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2

    timings = {k: round(min(v), 3) for k, v in samples.items()}
    medians = {k: round(median(v), 3) for k, v in samples.items()}
    # rep-1 ("cold") per-query seconds: the first full pass builds
    # every in-session cache (LSH signature/pair frames, LM count
    # frames, spans frames) from parquet, so the min of later passes
    # is a warm-cache read for cache-consuming queries.  Reporting the
    # cold pass NEXT TO the min keeps that visible instead of burying
    # the cache-build cost in discarded samples (round-13 directive;
    # additions-only — `queries`/`value` semantics are unchanged).
    colds = {k: round(v[0], 3) for k, v in samples.items()}
    total = round(sum(timings.values()), 3)
    # `queries` is the per-query MIN (steady-state, the number
    # comparable across rounds); `queries_median` exposes the spread so
    # a contended pass is visible instead of silently inflating totals.
    #
    # The driver stores only the LAST ~2000 chars of stdout and parses
    # the final line as JSON.  With 100+ catalog queries the full
    # per-query dict alone exceeds that budget, so a final line carrying
    # every query is truncated at the front and becomes unparseable
    # (BENCH_r3..r6 all recorded "parsed": null).  Print the full detail
    # as an earlier line for humans/logs, then a compact final line that
    # is guaranteed to fit: headline scalars + the slowest queries, with
    # the fast tail summarized by count ("queries_omitted").
    full = {
        "detail": "full per-query mins and medians (see final line for summary)",
        "queries": timings,
        "queries_median": medians,
        "queries_cold": colds,
        "queries_cache": cache,
    }
    print(json.dumps(full))
    # Also persist the complete per-query detail next to this script so
    # it stays readable after the detail line scrolls out of the tail.
    try:
        # a filtered run must not clobber the full-catalog artifact
        out_name = "BENCH_FULL.json" if not only else (
            "BENCH_ONLY_" + "_".join(p.strip("_") for p in only) + ".json")
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               out_name), "w") as f:
            json.dump({"sf": sf_of(SF_DIR), "reps": reps, **full}, f,
                      indent=1)
    except OSError:
        pass  # read-only checkout: stdout still carries everything

    tail_budget = 1900  # headroom under the driver's 2000-char capture
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])
    compact = {
        "metric": "catalog query wall-clock (noop sink)",
        "value": total,
        "unit": "sec",
        "value_median": round(sum(medians.values()), 3),
        "value_cold": round(sum(colds.values()), 3),
        "reps": reps,
        "sf": sf_of(SF_DIR),
        "n_queries": len(timings),
        "queries_omitted": 0,
        "queries": {},
        "queries_cold": {},
    }
    for i in range(len(slowest), -1, -1):
        compact["queries"] = dict(slowest[:i])
        # the cold rep-1 time for the SAME queries the min dict shows,
        # so round-over-round claims can cite both from the tail alone
        compact["queries_cold"] = {k: colds[k] for k, _ in slowest[:i]}
        compact["queries_omitted"] = len(slowest) - i
        if len(json.dumps(compact)) <= tail_budget:
            break
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
