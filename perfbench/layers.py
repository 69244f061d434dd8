"""The traced run: which package functions get a span, and the
per-layer metrics computed from those spans and the event log.

Layers are the package's modules.  Every workload reports every
per-layer metric; a layer the workload never calls reports 0.
"""

from __future__ import annotations

import functools
import importlib
import inspect

from perfbench import stats
from perfbench.trace import Tracer, self_times, wrap_function, wrap_method

OP_HEADER = "X-Perfbench-Op"
PARENT_HEADER = "X-Perfbench-Parent"

STREAMING_KEYS = (
    "streaming.batches", "streaming.batch_p50_ms",
    "streaming.add_batch_p50_ms", "streaming.query_planning_p50_ms",
    "streaming.wal_commit_p50_ms", "streaming.latest_offset_p50_ms",
    "streaming.rows_per_batch_p50", "streaming.state_rows",
    "streaming.state_memory_bytes", "streaming.state_commit_p50_ms",
)
CACHE_KEYS = (
    "cache.entries_after_cold", "cache.persisted_rdds_after_cold",
    "cache.persisted_bytes_after_cold", "cache.leaked_rdds",
    "cache.leaked_tmpdirs", "cache.leaked_confs",
    "jvm.heap_after_release_mb",
)
SPARK_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.scheduler_delay_s",
    "spark.driver_gap_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.input_bytes",
    "spark.output_bytes", "spark.gc_s",
)
SELF_LAYERS = ("server", "api", "sources", "bucketize", "ml", "pipeline")
SPAN_KEYS = (
    "server.overhead_p50_s", "api.read_p50_s", "api.eval_p50_s",
    "api.write_p50_s", "api.forecast_p50_s", "sources.read_calls",
    "sources.write_p50_s", "sources.load_table_s", "bucketize.calls",
    "bucketize.build_s", "ml.fit_s", "ml.predict_build_s",
    "ml.detect_build_s", "ml.forecast_s", "pipeline.graph.call_s",
    "pipeline.graph.jobs", "pipeline.dedup.call_s", "pipeline.dedup.jobs",
) + tuple(f"{layer}.self_s" for layer in SELF_LAYERS)
TRACE_KEYS = ("trace.spans", "trace.span_cost_s", "trace.eventlog_bytes")


def all_keys() -> tuple:
    """Every per-layer metric name, the same list for every workload."""
    from perfbench.catalog import PASS_KEYS, SLICE

    per_query = tuple(f"catalog.{q}.{p}_s" for q in SLICE
                      for p in ("cold", "warm"))
    return (SPAN_KEYS + ("sources.bucket_files",) + STREAMING_KEYS
            + per_query + PASS_KEYS + CACHE_KEYS + SPARK_KEYS + TRACE_KEYS)


def _public_functions(module):
    for name, obj in vars(module).items():
        if (not name.startswith("_") and inspect.isfunction(obj)
                and obj.__module__ == module.__name__):
            yield name, obj


def instrument(tracer: Tracer, sc) -> None:
    """Wrap each layer entry point.  Must run after the package is
    imported and before the workload calls it."""
    import loudml_spark.catalog  # noqa: F401  (binds every import site)
    from loudml_spark import api, features, server
    from loudml_spark.ml import detect, models
    from loudml_spark.pipeline import dedup, graph
    from loudml_spark.sources import base, tables

    # the operators package re-exports the function under the module name
    bz = importlib.import_module("loudml_spark.operators.bucketize")

    dispatch = server._Handler._dispatch

    @functools.wraps(dispatch)
    def traced_dispatch(self, method, parts, q):
        op = self.headers.get(OP_HEADER)
        parent = self.headers.get(PARENT_HEADER)
        sc.setJobDescription(f"serve:{op}")
        try:
            with tracer.span("server.dispatch", op=op,
                             parent=int(parent) if parent else None):
                return dispatch(self, method, parts, q)
        finally:
            sc.setJobDescription(None)

    server._Handler._dispatch = traced_dispatch

    for attr, name in (("read", "api.read"), ("write", "api.write"),
                       ("eval_model", "api.eval"),
                       ("forecast", "api.forecast"), ("train", "api.train")):
        wrap_method(tracer, api.Engine, attr, name)
    wrap_method(tracer, base.ParquetBucket, "read", "sources.read")
    wrap_method(tracer, base.ParquetBucket, "write", "sources.write")
    wrap_function(tracer, tables.load_table, "sources.load_table")
    wrap_function(tracer, bz.bucketize, "bucketize.bucketize")
    wrap_function(tracer, features.parse_features, "bucketize.features")
    for cls in (models.GaussianModel, models.SeasonalNaiveModel,
                models.DonutModel):
        wrap_method(tracer, cls, "fit", "ml.fit")
    wrap_method(tracer, models.BaseModel, "predict", "ml.predict")
    wrap_function(tracer, detect.detect_anomalies, "ml.detect")
    wrap_function(tracer, api.forecast_model, "ml.forecast")
    for mod, layer in ((graph, "pipeline.graph"), (dedup, "pipeline.dedup")):
        for name, fn in list(_public_functions(mod)):
            wrap_function(tracer, fn, f"{layer}.{name}")


def _durs(spans, name):
    return [s.dur for s in spans if s.name == name]


def _outermost(spans, prefix):
    """Spans under ``prefix`` whose parent is not itself under it."""
    ids = {s.id: s for s in spans}
    out = []
    for s in spans:
        if not s.name.startswith(prefix):
            continue
        p = ids.get(s.parent)
        if p is not None and p.name.startswith(prefix):
            continue
        out.append(s)
    return out


def span_metrics(spans, eventlog=None) -> dict:
    """Per-layer metrics from the spans of the measured session."""
    m: dict[str, float] = {}
    # an eval that writes back calls Engine.write inside Engine.eval_model:
    # only the outermost api span of an op is Engine time
    api_top = _outermost(spans, "api.")
    api_by_op: dict = {}
    for s in api_top:
        api_by_op[s.op] = api_by_op.get(s.op, 0.0) + s.dur
    overhead = [s.dur - api_by_op.get(s.op, 0.0) for s in spans
                if s.name.startswith("http.") and s.parent is None]
    m["server.overhead_p50_s"] = stats.p50_or_zero(overhead)
    for kind in ("read", "eval", "write", "forecast"):
        m[f"api.{kind}_p50_s"] = stats.p50_or_zero(_durs(api_top, f"api.{kind}"))
    m["sources.read_calls"] = len(_durs(spans, "sources.read")) + len(
        _durs(spans, "sources.load_table"))
    m["sources.write_p50_s"] = stats.p50_or_zero(
        _durs(spans, "sources.write"))
    m["sources.load_table_s"] = sum(_durs(spans, "sources.load_table"))
    m["bucketize.calls"] = len(_durs(spans, "bucketize.bucketize"))
    m["bucketize.build_s"] = sum(
        s.dur for s in _outermost(spans, "bucketize."))
    m["ml.fit_s"] = sum(_durs(spans, "ml.fit"))
    m["ml.predict_build_s"] = sum(_durs(spans, "ml.predict"))
    m["ml.detect_build_s"] = sum(_durs(spans, "ml.detect"))
    m["ml.forecast_s"] = sum(_durs(spans, "ml.forecast"))
    for layer in ("pipeline.graph", "pipeline.dedup"):
        top = _outermost(spans, layer + ".")
        m[f"{layer}.call_s"] = sum(s.dur for s in top)
        m[f"{layer}.jobs"] = sum(eventlog.jobs_between(s.start, s.end)
                                 for s in top) if eventlog else 0
    selfs = self_times(spans)
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = sum(
            selfs[s.id] for s in spans if s.name.split(".")[0] == layer)
    return m


def streaming_metrics(progress: list[dict]) -> dict:
    """streaming.* from StreamingQuery.recentProgress entries."""
    def p50(key):
        return stats.p50_or_zero(
            p["durationMs"].get(key, 0) for p in progress
            if key in (p.get("durationMs") or {}))

    state_rows = state_mem = 0
    commit = []
    for p in progress:
        for op in p.get("stateOperators") or []:
            commit.append(op.get("commitTimeMs", 0))
    if progress:
        for op in progress[-1].get("stateOperators") or []:
            state_rows += op.get("numRowsTotal", 0)
            state_mem += op.get("memoryUsedBytes", 0)
    return {
        "streaming.batches": len(progress),
        "streaming.batch_p50_ms": p50("triggerExecution"),
        "streaming.add_batch_p50_ms": p50("addBatch"),
        "streaming.query_planning_p50_ms": p50("queryPlanning"),
        "streaming.wal_commit_p50_ms": p50("walCommit"),
        "streaming.latest_offset_p50_ms": p50("latestOffset"),
        "streaming.rows_per_batch_p50": stats.p50_or_zero(
            p.get("numInputRows", 0) for p in progress),
        "streaming.state_rows": state_rows,
        "streaming.state_memory_bytes": state_mem,
        "streaming.state_commit_p50_ms": stats.p50_or_zero(commit),
    }
