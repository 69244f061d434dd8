"""``catalog``: a fixed slice of catalog queries, cold then warm.

The inputs are generated from the seed (a TPC-H-like star schema plus
events, documents and embeddings, at about sf0.01).  Each run starts a
fresh session, runs the slice once (cold: every in-session cache is
built from parquet), then three times more (warm: cache consumers read
what the cold pass built), then the caches are released.  The warm
time is the median of the warm passes' totals, each query's warm time
its median over the warm passes.  The seed also
permutes the query order.  Every result, cold and warm, is compared
with the query's DuckDB oracle on the same files.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import statistics
import time

import numpy as np

from perfbench import datagen, layers, stats

# one or two queries from each family the catalog serves: time series,
# TPC-H, a streaming drain (its staging dir is a known leak), curation
# caches (the minhash LSH pair frame is shared with the graph query),
# ANN, and graph rounds.  Model queries are left to the serve workload.
# The slice is sized so that a run, with set-up and the oracle check,
# stays near a minute.
SLICE = (
    "ts_avg_1h",
    "tpch_q3_shipping", "tpch_pricing_summary",
    "streaming_dedup_events",
    "minhash_lsh_pairs_docs", "ann_sq8_topk",
    "graph_components_docs",
)
PASS_KEYS = tuple(f"catalog.{p}.{phase}_s" for p in ("cold", "warm")
                  for phase in ("build", "analyze", "exec"))
SCALE = 0.01
WARM_PASSES = 3  # warm times are medians over these
PARAMS = {"queries": list(SLICE), "scale": SCALE,
          "warm_passes": WARM_PASSES}
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _load_check_oracle(root: str):
    """tools/check_oracle.py, for its canonical row comparison."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Workload:
    params = PARAMS

    def __init__(self, paths, seed: int, seconds: int, tracer):
        self.paths, self.seed, self.seconds = paths, seed, seconds
        self.tracer = tracer
        order = np.random.default_rng([seed, 20]).permutation(len(SLICE))
        self.order = [SLICE[i] for i in order]
        self.passes: list[dict] = []
        self.progress: list[dict] = []
        self.after_cold = None

    # ------------------------------------------------------------ set-up
    def setup(self, spark, rep: int) -> None:
        self.spark = spark
        self.sf_dir = os.path.join(self.paths.data, f"catalog{rep}", "sf")
        datagen.write_catalog(self.seed, self.sf_dir, SCALE)
        if rep == 0:
            # JIT warm-up holds for the JVM's life; set-up time is the
            # median over the set-ups, so it is the data generation
            _warm_up(spark, self.sf_dir)
            if self.tracer.enabled:
                self._listen(spark)

    def _listen(self, spark) -> None:
        """Collect the progress of the streaming drains."""
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                import json

                sink.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def after_setup(self) -> None:
        """Nothing: the cold pass is part of the measured run."""

    def teardown(self) -> None:
        pass

    def discard_setup(self, rep: int) -> None:
        shutil.rmtree(os.path.join(self.paths.data, f"catalog{rep}"),
                      ignore_errors=True)

    # ------------------------------------------------------------ measure
    def measure(self) -> None:
        """One cold pass, then WARM_PASSES warm passes.  A pass is the
        unit of work here, so the run length follows from the slice
        rather than from ``seconds``."""
        from perfbench import env

        hygiene = env.Hygiene(self.spark, self.paths.tmp)
        self.t_start = time.time()
        self.passes = [self._pass("cold")]
        snap = hygiene.snapshot()
        snap["entries"] = env.cache_entries()
        self.after_cold = snap
        for i in range(WARM_PASSES):
            self.passes.append(self._pass(f"warm{i + 1}"))
        self.t_end = time.time()

    def _pass(self, name: str) -> dict:
        from loudml_spark.catalog import QUERIES

        sc = self.spark.sparkContext
        out = {"name": name, "times": {}, "rows": {}, "errors": {}}
        for q in self.order:
            sc.setJobDescription(f"catalog:{name}:{q}")
            with self.tracer.span(f"catalog.{q}", op=f"{name}:{q}"):
                w0 = time.time()
                t0 = time.perf_counter()
                try:
                    df = QUERIES[q]["fn"](self.spark, self.sf_dir)
                    t1 = time.perf_counter()
                    cols = df.columns  # forces analysis
                    t2 = time.perf_counter()
                    rows = [tuple(r) for r in df.collect()]
                    t3 = time.perf_counter()
                except Exception as e:  # counted as a failed query
                    out["errors"][q] = f"{type(e).__name__}: {e}"[:500]
                    continue
            out["rows"][q] = (cols, rows)
            out["times"][q] = {"build": t1 - t0, "analyze": t2 - t1,
                               "exec": t3 - t2, "total": t3 - t0,
                               "start": w0, "end": w0 + (t3 - t0)}
        sc.setJobDescription(None)
        return out

    def _warm(self) -> list[dict]:
        return self.passes[1:]

    def _warm_median(self, q: str, key: str = "total") -> float:
        return statistics.median(p["times"][q][key] for p in self._warm()
                                 if q in p["times"])

    # ------------------------------------------------------------- checks
    def check(self) -> tuple[int, int, list]:
        """Each query in each pass is one op; it fails when it raised or
        its rows differ from the DuckDB oracle on the same files."""
        import duckdb

        from loudml_spark.catalog import QUERIES

        co = _load_check_oracle(self.paths.root)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{self.sf_dir}/{t}.parquet')")
        want = {}
        failed, notes = 0, []
        for p in self.passes:
            for q in self.order:
                why = p["errors"].get(q)
                if why is None:
                    if q not in want:
                        # per query: catalog.oracle_sql builds all of them
                        spec = QUERIES[q]
                        sql = spec.get("oracle") or spec["oracle_fn"](
                            self.sf_dir)
                        res = con.sql(sql)
                        want[q] = (res.columns, res.fetchall())
                    why = _diff(co, p["rows"][q], want[q])
                if why is not None:
                    failed += 1
                    if len(notes) < 5:
                        notes.append({"op": f"{p['name']}:{q}", "why": why})
        con.close()
        return len(self.passes) * len(self.order), failed, notes

    # ------------------------------------------------------------ results
    def results(self) -> dict:
        cold = [t["total"] for t in self.passes[0]["times"].values()]
        warm = [t["total"] for p in self._warm() for t in p["times"].values()]
        cold_s = sum(cold)
        # one pass is one sample: a single query's median would follow
        # whichever query happens to rank in the middle
        warm_totals = [sum(t["total"] for t in p["times"].values())
                       for p in self._warm()]
        warm_s = statistics.median(warm_totals)
        named = {
            "catalog.cold_s": (cold_s, "s"),
            "catalog.warm_s": (warm_s, "s"),
        }
        generic = {
            "p50_s": warm_s,
            "rate_per_s": len(warm) / sum(warm_totals),
            "cold_s": cold_s,
        }
        detail = {"order": self.order, "warm_totals": warm_totals,
                  "per_query": {p["name"]: p["times"] for p in self.passes}}
        return {"generic": generic, "named": named,
                "latency": {"cold": stats.summary(cold),
                            "warm": stats.summary(warm)},
                "detail": detail}

    def layer_extra(self) -> dict:
        m = {}
        cold = self.passes[0]["times"]
        for q, t in cold.items():
            m[f"catalog.{q}.cold_s"] = t["total"]
            m[f"catalog.{q}.warm_s"] = self._warm_median(q)
        for phase in ("build", "analyze", "exec"):
            m[f"catalog.cold.{phase}_s"] = sum(t[phase] for t in cold.values())
            m[f"catalog.warm.{phase}_s"] = sum(
                self._warm_median(q, phase) for q in cold)
        m.update(layers.streaming_metrics(self.progress))
        return m

    def spark_per_query(self, log) -> dict:
        """spark.* per query and pass, for the record."""
        out = {}
        for p in self.passes:
            for q, t in p["times"].items():
                key = f"catalog:{p['name']}:{q}"
                jobs = log.job_ids(pred=lambda d, k=key: d == k)
                out[f"{p['name']}:{q}"] = log.metrics(jobs, wall_s=t["total"])
        return out


def _warm_up(spark, sf_dir: str) -> None:
    """Compile the common Spark paths (parquet scan, shuffle join,
    window, explode, grouped pandas UDF) on the generated files without
    going through the package, so the cold pass pays for its own caches
    and not for JIT warm-up of whichever query happens to run first."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def read(name):
        return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

    li, orders, ev, docs = (read("lineitem"), read("orders"), read("events"),
                            read("documents"))
    li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
        "o_orderpriority").agg(F.sum("l_extendedprice")).collect()
    ev.withColumn("r", F.row_number().over(
        Window.partitionBy("user_id").orderBy("ts"))).agg(F.max("r")).collect()
    docs.select(F.explode(F.split("text", " ")).alias("w")).groupBy(
        "w").count().orderBy(F.desc("count")).limit(5).collect()
    ev.select("user_id", "value").groupBy("user_id").applyInPandas(
        lambda pdf: pdf.head(1), "user_id long, value double").count()


def _diff(co, got, want) -> str | None:
    (scols, srows), (dcols, drows) = got, want
    if sorted(scols) != sorted(dcols):
        return f"columns {sorted(scols)} != {sorted(dcols)}"
    if len(srows) != len(drows):
        return f"rowcount {len(srows)} != {len(drows)}"
    a, b = co.canon(srows, scols), co.canon(drows, dcols)
    if a != b:
        bad = next((x, y) for x, y in zip(a, b) if x != y)
        return f"value mismatch, first: spark={bad[0]} duckdb={bad[1]}"[:500]
    return None
