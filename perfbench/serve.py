"""``serve``: the REST surface as a closed loop of HTTP clients.

Two client threads share one in-process ``server.serve_background``
wrapping an ``api.Engine``.  Each sends its next request when the last
one returns.  The mix is about 55% ``_read``, 20% ``_eval`` with
``flag_abnormal_data`` (half writing back to an output bucket), 10%
``_forecast`` and 15% ``_write`` of 1–5 k points to the bucket the
reads scan.  Each ``_read`` asks for 1–3 features over 14–240 buckets
at an interval from 5 m to 1 d; its shape is fixed by its place in the
request cycle, and the seed draws where its range starts and which
features it asks for.  Writes land
beyond the committed horizon and reads stay below it, so every read
has one correct answer.

No two appends ever run into one parquet directory at once: each client
writes its evals back to a bucket of its own, and the clients take
turns on ``_write``.  Two concurrent ``df.write.mode("append")`` jobs
on one directory share Spark's ``_temporary`` staging dir, and the one
that commits second fails.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import threading
import time
import urllib.error
import urllib.request
from contextlib import nullcontext
from urllib.parse import quote

import numpy as np
import pandas as pd

from perfbench import datagen, stats
from perfbench.layers import OP_HEADER, PARENT_HEADER

CLIENTS = 2
READ_FEATURES = ("avg(cpu)", "max(cpu)", "min(mem)", "avg(mem)",
                 "count(cpu)", "sum(mem)")
TRAIN_DAYS = 20
# name → settings, feature, buckets per _eval, buckets per _forecast
MODELS = {
    "donut1h": ({"type": "donut", "bucket_interval": 3600, "span": 24,
                 "epochs": 10}, "avg(cpu)", 24, 24),
    "seasonal5m": ({"type": "seasonal_naive", "bucket_interval": 300},
                   "avg(mem)", 144, 288),
    "gauss15m": ({"type": "gaussian", "bucket_interval": 900},
                 "max(cpu)", 96, 96),
}
# Both clients cycle through the same sequence of 20 requests, the
# second starting half-way round, so every seed runs the same mix in
# the same order: 55% reads over each interval, 20% evals (half with
# write-back), 10% forecasts, 15% writes of 1-5 k points.  A read is
# (interval, buckets, features): a run holds only a dozen reads or so,
# and drawing their sizes from the seed would make the read median
# follow the seed.  The seed changes the data, where each read and
# eval range starts, and which features a read asks for.
SEQUENCE = (
    ("read", (300, 240, 2)), ("eval", ("donut1h", True)),
    ("read", (900, 96, 3)), ("write", 1000), ("read", (3600, 168, 1)),
    ("forecast", "donut1h"), ("read", (21600, 60, 2)),
    ("read", (86400, 14, 3)), ("eval", ("seasonal5m", False)),
    ("read", (300, 24, 1)), ("write", 3000), ("read", (900, 240, 1)),
    ("eval", ("gauss15m", True)), ("read", (3600, 24, 3)),
    ("forecast", "seasonal5m"), ("read", (21600, 24, 1)),
    ("write", 5000), ("read", (86400, 28, 2)),
    ("eval", ("seasonal5m", False)), ("read", (3600, 96, 2)),
)
# the cold round: one request of each kind, split between the clients,
# so it never lines up two writes
COLD_ROUND = ((("read", (3600, 96, 2)), ("eval", ("gauss15m", False))),
              (("write", 1000), ("forecast", "seasonal5m")))
MIX = {k: sum(1 for kind, _ in SEQUENCE if kind == k) / len(SEQUENCE)
       for k in ("read", "eval", "forecast", "write")}
PARAMS = {"clients": CLIENTS, "mix": MIX, "sequence": SEQUENCE,
          "hosts": datagen.FLEET_HOSTS, "days": datagen.FLEET_DAYS,
          "step_s": datagen.FLEET_STEP,
          "models": list(MODELS)}


class Horizon:
    """Allocates write slices past the data and tracks the end of the
    contiguous committed prefix, below which reads are stable."""

    def __init__(self, end: int):
        self._lock = threading.Lock()
        self._next = end
        self._committed = end
        self._inflight: set[int] = set()

    def claim(self, seconds: int) -> int:
        with self._lock:
            start = self._next
            self._next += seconds
            self._inflight.add(start)
            return start

    def done(self, start: int) -> None:
        with self._lock:
            self._inflight.discard(start)
            self._committed = min(self._inflight) if self._inflight \
                else self._next

    def committed(self) -> int:
        with self._lock:
            return self._committed


def _http(url: str, body=None, headers=None, timeout: float = 120.0):
    data = json.dumps(body).encode() if body is not None else b""
    req = urllib.request.Request(url, data=data, method="POST")
    req.add_header("Content-Type", "application/json")
    for k, v in (headers or {}).items():
        req.add_header(k, v)
    with urllib.request.urlopen(req, timeout=timeout) as r:
        return r.status, json.loads(r.read())


class Workload:
    params = PARAMS

    def __init__(self, paths, seed: int, seconds: int, tracer):
        self.paths, self.seed, self.seconds = paths, seed, seconds
        self.tracer = tracer
        self.server = None
        self.records: list[dict] = []
        self.train_s: list[float] = []
        self.cold_round_s: list[float] = []
        self._slots = iter(range(1 << 30))
        self._op_ids = iter(range(1 << 30))
        self._slot_lock = threading.Lock()
        self._append_lock = threading.Lock()

    # ------------------------------------------------------------ set-up
    def setup(self, spark, rep: int) -> None:
        from loudml_spark.api import Engine
        from loudml_spark.server import serve_background

        self.spark = spark
        self.rep = rep
        root = os.path.join(self.paths.data, f"serve{rep}")
        self.fleet_dir = os.path.join(root, "fleet")
        self.table = datagen.fleet_table(self.seed)
        datagen.write_fleet(self.table, self.fleet_dir)
        self.engine = Engine(spark, storage_path=os.path.join(root, "models"))
        self.server = serve_background(self.engine)
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}"
        _http(self.url + "/buckets", {"name": "fleet", "type": "parquet",
                                      "path": self.fleet_dir})
        for c in range(CLIENTS):
            _http(self.url + "/buckets",
                  {"name": f"preds{c}", "type": "parquet",
                   "path": os.path.join(root, f"preds{c}")})
        t0 = time.perf_counter()
        lo = datagen.EPOCH
        hi = lo + TRAIN_DAYS * 86400
        for name, (settings, feature, _, _) in MODELS.items():
            _http(self.url + "/models", {"name": name, **settings})
            _http(self.url + f"/models/{name}/_train?bucket=fleet&from={lo}"
                  f"&to={hi}&features={quote(feature)}")
        self.train_s.append(time.perf_counter() - t0)
        self.data_end = datagen.EPOCH + datagen.FLEET_DAYS * 86400

    def teardown(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None

    def discard_setup(self, rep: int) -> None:
        shutil.rmtree(os.path.join(self.paths.data, f"serve{rep}"),
                      ignore_errors=True)

    # ------------------------------------------------------------ measure
    def measure(self) -> None:
        self.t_start = time.time()
        deadline = time.perf_counter() + self.seconds
        threads = [threading.Thread(target=self._client, args=(c, deadline),
                                    name=f"perfbench-client-{c}")
                   for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.t_end = time.time()
        self.elapsed = self.t_end - self.t_start

    def after_setup(self) -> None:
        """The cold round, run after each set-up and outside both the
        set-up time and the measured window: the first request of each
        kind on a fresh Engine pays for listing the bucket and compiling
        its plan.  ``cold_s`` is the median time of the rounds."""
        self.horizon = Horizon(self.data_end)
        t0 = time.perf_counter()
        threads = [threading.Thread(target=self._send_all,
                                    args=(c, COLD_ROUND[c], True))
                   for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.cold_round_s.append(time.perf_counter() - t0)

    def _client(self, c: int, deadline: float) -> None:
        step = c * len(SEQUENCE) // CLIENTS
        rng = np.random.default_rng([self.seed, 10, c])
        while time.perf_counter() < deadline:
            self._send(c, rng, SEQUENCE[step % len(SEQUENCE)], False)
            step += 1

    def _send_all(self, c: int, ops, cold: bool) -> None:
        rng = np.random.default_rng([self.seed, 9, c])
        for op in ops:
            self._send(c, rng, op, cold)

    def _send(self, c: int, rng, spec, cold: bool) -> None:
        kind, variant = spec
        with self._slot_lock:
            op = f"{kind}-{next(self._op_ids)}"
        rec = getattr(self, "_req_" + kind)(rng, variant, c)
        rec.update(kind=kind, op=op, client=c, cold=cold, rep=self.rep)
        turn = self._append_lock if kind == "write" else nullcontext()
        with turn, self.tracer.span("http." + kind, op=op) as sp:
            headers = {OP_HEADER: op}
            if sp is not None:
                headers[PARENT_HEADER] = str(sp.id)
            t0 = time.perf_counter()
            try:
                rec["status"], rec["body"] = _http(
                    self.url + rec["path"], rec.get("payload"), headers)
            except urllib.error.HTTPError as e:
                rec["status"], rec["body"] = e.code, e.read()[:500]
            except (urllib.error.URLError, OSError, ValueError) as e:
                rec["status"], rec["body"] = None, repr(e)
            rec["latency"] = time.perf_counter() - t0
        if kind == "write":
            self.horizon.done(rec["start"])
        self.records.append(rec)

    def _req_read(self, rng, shape, c: int) -> dict:
        interval, buckets, n = shape
        end = self.horizon.committed()
        span = end - datagen.EPOCH
        length = min(buckets * interval, span)
        start = datagen.EPOCH + int(rng.integers(0, span - length + 1))
        feats = list(rng.choice(READ_FEATURES, n, replace=False))
        return {"from": start, "to": start + length, "interval": interval,
                "features": feats,
                "path": f"/buckets/fleet/_read?from={start}"
                        f"&to={start + length}&bucket_interval={interval}"
                        f"&features={quote(';'.join(feats))}"}

    def _req_eval(self, rng, variant, c: int) -> dict:
        name, write_back = variant
        settings, feature, n, _ = MODELS[name]
        iv = settings["bucket_interval"]
        end = self.horizon.committed() // iv * iv
        first = datagen.EPOCH + 2 * 86400  # room for model history
        start = first + int(rng.integers(0, (end - n * iv - first) // iv)) * iv
        path = (f"/models/{name}/_eval?bucket=fleet&from={start}"
                f"&to={start + n * iv}&features={quote(feature)}"
                "&flag_abnormal_data=true")
        if write_back:
            path += f"&output_bucket=preds{c}"
        return {"expect_rows": n, "path": path}

    def _req_forecast(self, rng, name, c: int) -> dict:
        settings, _, _, n = MODELS[name]
        iv = settings["bucket_interval"]
        start = self.data_end // iv * iv
        return {"expect_rows": n,
                "path": f"/models/{name}/_forecast?from={start}"
                        f"&to={start + n * iv}"}

    def _req_write(self, rng, points: int, c: int) -> dict:
        minutes = math.ceil(points / datagen.FLEET_HOSTS)
        with self._slot_lock:
            slot = next(self._slots)
        start = self.horizon.claim(minutes * 60)
        rows = datagen.fleet_slice_rows(self.seed, slot, start, minutes)
        return {"start": start, "expect_rows": len(rows), "payload": rows,
                "path": "/buckets/fleet/_write"}

    # ------------------------------------------------------------- checks
    def check(self) -> tuple[int, int, list]:
        """(attempted, failed, first failures).  Reads are recomputed
        with pandas from the generated and written points of the set-up
        each request ran against."""
        base = self.table.to_pandas()
        failed, notes = 0, []
        for rep in sorted({rec["rep"] for rec in self.records}):
            recs = [rec for rec in self.records if rec["rep"] == rep]
            f, n = self._check_rep(base, recs)
            failed += f
            notes += n[:5 - len(notes)]
        return len(self.records), failed, notes

    def _check_rep(self, base, recs) -> tuple[int, list]:
        # a write that returned an error may or may not have landed,
        # so a read is right if it matches either way
        ok_rows = [r for rec in recs if rec["kind"] == "write"
                   and rec.get("status") == 200 for r in rec["payload"]]
        bad_rows = [r for rec in recs if rec["kind"] == "write"
                    and rec.get("status") != 200 for r in rec["payload"]]
        views = [_sorted_points(base, ok_rows)]
        if bad_rows:
            views.append(_sorted_points(base, ok_rows + bad_rows))
        failed, notes = 0, []
        for rec in recs:
            why = None
            for pts, ts in views:
                why = self._mismatch(rec, pts, ts)
                if why is None:
                    break
            if why is not None:
                failed += 1
                if len(notes) < 5:
                    notes.append({"op": rec["op"], "path": rec["path"],
                                  "status": rec.get("status"), "why": why})
        return failed, notes

    def _mismatch(self, rec, pts, ts) -> str | None:
        kind, body = rec["kind"], rec["body"]
        if rec.get("status") != 200:
            return f"HTTP {rec.get('status')}: {str(body)[:300]}"
        if kind == "write":
            ok = body == {"written": rec["expect_rows"]}
        elif kind in ("eval", "forecast"):
            ok = (isinstance(body, list) and len(body) == rec["expect_rows"]
                  and all("score" in r or kind == "forecast" for r in body))
        else:
            return _read_mismatch(rec, body, pts, ts)
        return None if ok else f"unexpected body: {str(body)[:300]}"

    # ------------------------------------------------------------ results
    def results(self) -> dict:
        lat = {k: [r["latency"] for r in self.records if r["kind"] == k
                   and not r["cold"] and r.get("status") == 200]
               for k in MIX}
        s = {k: stats.summary(v) for k, v in lat.items()}
        ok_ops = sum(len(v) for v in lat.values())
        train = stats.p50_or_zero(self.train_s)
        cold = stats.p50_or_zero(self.cold_round_s)
        named = {
            "serve.read_p50_s": (s["read"].get("p50"), "s"),
            "serve.read_p90_s": (s["read"].get("p90"), "s"),
            "serve.eval_p50_s": (s["eval"].get("p50"), "s"),
            "serve.eval_p90_s": (s["eval"].get("p90"), "s"),
            "serve.write_p50_s": (s["write"].get("p50"), "s"),
            "serve.train_s": (train, "s"),
            "serve.ops_per_s": (ok_ops / self.elapsed, "1/s"),
            "serve.cold_round_s": (cold, "s"),
        }
        generic = {
            "p50_s": s["read"].get("p50"),
            "rate_per_s": ok_ops / self.elapsed,
            "cold_s": cold,
        }
        return {"generic": generic, "named": named, "latency": s,
                "detail": {"samples": lat}}

    def layer_extra(self) -> dict:
        return {"sources.bucket_files": sum(
            1 for f in os.listdir(self.fleet_dir) if f.endswith(".parquet"))}


def _sorted_points(base: pd.DataFrame, rows: list[dict]):
    pts = pd.concat([base, pd.DataFrame(rows, columns=base.columns)],
                    ignore_index=True).sort_values("ts", kind="stable")
    return pts, pts["ts"].to_numpy()


def _read_mismatch(rec, body, pts, ts) -> str | None:
    """Why a ``_read`` response differs from pandas over the same
    points, or None when it matches."""
    iv = rec["interval"]
    lo = np.searchsorted(ts, rec["from"], side="left")
    hi = np.searchsorted(ts, rec["to"], side="left")
    sl = pts.iloc[lo:hi]
    first = math.floor(rec["from"] / iv) * iv
    last = math.ceil(rec["to"] / iv) * iv
    spine = list(range(first, last, iv))
    if body.get("timestamps") != spine:
        return "timestamps differ from the bucket spine"
    bucket = (sl["ts"].to_numpy() // iv) * iv
    obs = body.get("observed") or {}
    for expr in rec["features"]:
        metric, field = expr[:-1].split("(")
        name = f"{metric}_{field}"
        agg = sl.groupby(bucket)[field].agg(
            "mean" if metric == "avg" else metric)
        got = obs.get(name)
        if got is None or len(got) != len(spine):
            return f"{name}: missing or wrong length"
        for b, v in zip(spine, got):
            want = agg.get(b)
            if want is None or (isinstance(want, float) and math.isnan(want)):
                want = 0.0 if metric == "count" else None
            if want is None or v is None:
                if want != v:
                    return f"{name}@{b}: got {v}, want {want}"
            elif not math.isclose(float(v), float(want), rel_tol=1e-9,
                                  abs_tol=1e-9):
                return f"{name}@{b}: got {v}, want {want}"
    return None
