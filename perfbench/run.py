"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve|catalog \
        --seed N --seconds S --trace 0|1

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The line before it holds the full record: provenance,
every metric under its workload-specific name, sample counts and tail
percentiles.  The same record, with the spans of a traced run, is
written under ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve", "catalog")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "loudml_spark", "__init__.py")):
        print("perfbench: no loudml_spark package next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import env

    paths = env.Paths(ROOT)
    paths.reset()
    env.configure(paths)
    try:
        record, final = _run(args, paths)
    finally:
        paths.remove()
    print(json.dumps(record, default=str))
    print(json.dumps(final))
    return 0


def _run(args, paths):
    import importlib

    from perfbench import env, layers, stats, trace

    mod = importlib.import_module(f"perfbench.{args.workload}")
    tracer = trace.Tracer(bool(args.trace))
    wl = mod.Workload(paths, args.seed, args.seconds, tracer)
    started_unix = time.time()
    t0 = time.perf_counter()
    spark = env.start_session(paths, f"perfbench-{args.workload}",
                              trace=bool(args.trace))
    session_start_s = time.perf_counter() - t0
    prov = env.provenance(ROOT, spark, workload=args.workload,
                          seed=args.seed, seconds=args.seconds,
                          trace=bool(args.trace), params=mod.Workload.params)
    prov["started_unix"] = started_unix
    try:
        if args.trace:
            layers.instrument(tracer, spark.sparkContext)
        setup_s = []
        for rep in range(env.SETUP_REPS):
            if rep:
                wl.teardown()
                wl.discard_setup(rep - 1)
            last_setup = time.time()
            t0 = time.perf_counter()
            wl.setup(spark, rep)
            setup_s.append(time.perf_counter() - t0)
            wl.after_setup()
        jvm = env.jvm_pid(spark)
        hygiene = env.Hygiene(spark, paths.tmp)
        before = hygiene.snapshot()

        env.reset_peak_rss(jvm)
        cpu0 = env.host_cpu_ticks()
        t_measure = time.perf_counter()
        wl.measure()
        t_check = time.perf_counter()
        steal = env.steal_share(cpu0, env.host_cpu_ticks())
        # the oracle check runs in this process: read the peak first
        rss = env.peak_rss_mb(jvm)
        attempted, failed, notes = wl.check()
        t_checked = time.perf_counter()
        res = wl.results()

        from loudml_spark.catalog import release_caches

        # caches after the cold pass where the workload has one, else now
        cached = getattr(wl, "after_cold", None) or {
            **hygiene.snapshot(), "entries": env.cache_entries()}
        release_caches()
        after = hygiene.snapshot()
        leaks = env.Hygiene.leaks(before, after)
        heap_mb = env.heap_used_mb(spark)
        app_id = spark.sparkContext.applicationId
        extra = wl.layer_extra() if args.trace else {}
    finally:
        wl.teardown()
        env.stop(spark)

    generic = dict(res["generic"])
    generic["setup_s"] = stats.p50_or_zero(setup_s)
    generic["peak_rss_mb"] = rss
    named = dict(res["named"])
    named["setup_s"] = (generic["setup_s"], "s")
    named["peak_rss_mb"] = (rss, "MB")
    named["failed_ratio"] = (failed / max(attempted, 1), "ratio")

    layer = {}
    if args.trace:
        spans = [s for s in tracer.spans if s.start >= last_setup]
        log = trace.EventLog.read_app(paths.eventlog, app_id)
        layer.update(layers.span_metrics(spans, log))
        layer.update(_spark_layer(wl, log))
        layer.update(extra)
        layer["cache.entries_after_cold"] = cached["entries"]
        layer["cache.persisted_rdds_after_cold"] = len(cached["rdds"])
        layer["cache.persisted_bytes_after_cold"] = cached["persisted_bytes"]
        for k, v in leaks.items():
            layer["cache." + k] = v
        layer["jvm.heap_after_release_mb"] = heap_mb
        cost = trace.span_cost_s()
        layer["trace.spans"] = len(tracer.spans)
        layer["trace.span_cost_s"] = cost * len(tracer.spans)
        layer["trace.eventlog_bytes"] = trace.eventlog_bytes(paths.eventlog)
        for k in layers.all_keys():
            layer.setdefault(k, 0)

    correct = failed == 0
    metrics_out = layer if args.trace else generic
    final = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)}
                    for k, v in sorted(metrics_out.items())},
    }
    record = {
        "provenance": prov,
        "session_start_s": session_start_s,
        "measure_s": t_check - t_measure,
        # share of the host's CPU time taken by other guests while
        # measuring: high values explain slow runs
        "host_steal_share": steal,
        "check_s": t_checked - t_check,
        "setup_s_reps": setup_s,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(named.items())},
        "latency": res.get("latency"),
        "detail": res.get("detail"),
        "hygiene": {"before": before, "after_release": after,
                    "leaks": leaks, "heap_after_release_mb": heap_mb},
        "failures": notes,
    }
    if args.trace:
        record["layers"] = layer
        if hasattr(wl, "spark_per_query"):
            record["spark_per_query"] = wl.spark_per_query(log)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(paths.results, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        tracer.dump(os.path.join(paths.results, stem + "-spans.jsonl"))
    return record, final


def _spark_layer(wl, log) -> dict:
    jobs = log.job_ids(window=(wl.t_start, wl.t_end))
    return log.metrics(jobs, wall_s=wl.t_end - wl.t_start)


_UNITS = (("_mb", "MB"), ("_ms", "ms"), ("_per_s", "1/s"), ("_s", "s"),
          ("_ratio", "ratio"))


def _unit(name: str) -> str:
    if "bytes" in name:
        return "bytes"
    for suffix, unit in _UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
