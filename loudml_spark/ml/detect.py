"""Stateful anomaly detection — the hysteresis state machine.

Reference semantics (/root/reference/loudml/donut.py:1477-1578):

* a bucket *triggers* when its score ≥ ``max_threshold`` and it is not
  inside the grace period (``ts - last_anomaly_ts < grace_period``,
  where ``last_anomaly_ts`` is the close time of the previous episode);
* an episode opens on the first trigger, tracks its max score, and
  closes when a bucket's score drops below ``min_threshold``
  (hysteresis: scores between the thresholds keep it open);
* default thresholds 68 / 99.7 — the 1σ/3σ rule (donut.py:652-658).

The scan is inherently sequential per series, so it runs as an
Arrow-batched ``applyInPandas`` over each series key: thousands of
independent series run in parallel across executors, each series'
bucket list (bounded by time-range/interval, not data volume) scans
in one pass.  This is the keyed fan-out the reference cannot do at
all (single-series models, donut.py:543-545).  An ``_eval`` holds one
series already collected on the driver, so ``Engine.eval_model`` calls
:func:`_sweep` there directly.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_STATE_COLS = [
    ("is_anomaly", T.BooleanType()),       # bucket triggered
    ("anomaly_type", T.StringType()),      # low/high direction of trigger
    ("episode_id", T.LongType()),          # open-episode ordinal per key
    ("episode_start_ts", T.LongType()),
    ("episode_max_score", T.DoubleType()),
]


def _sweep(
    pdf: pd.DataFrame,
    ts_col: str,
    score_col: str,
    observed_col: str,
    predicted_col: str,
    min_threshold: float,
    max_threshold: float,
    grace_period: float,
) -> pd.DataFrame:
    pdf = pdf.sort_values(ts_col).reset_index(drop=True)
    n = len(pdf)
    is_anom = [False] * n
    a_type = [None] * n
    ep_id = [None] * n
    ep_start = [None] * n
    ep_max = [None] * n

    episode = None  # {start_ts, max_score}
    episode_no = 0
    last_anomaly_ts = 0.0

    ts_v = pdf[ts_col].to_numpy()
    sc_v = pdf[score_col].to_numpy()
    ob_v = pdf[observed_col].to_numpy()
    pr_v = pdf[predicted_col].to_numpy()

    for i in range(n):
        ts, score = float(ts_v[i]), float(sc_v[i])
        in_grace = (ts - last_anomaly_ts) < grace_period
        triggered = (not in_grace) and score >= max_threshold
        if triggered:
            is_anom[i] = True
            a_type[i] = "low" if ob_v[i] < pr_v[i] else "high"

        if episode is None:
            if triggered:
                episode_no += 1
                episode = {"start_ts": ts, "max_score": score}
        else:
            if triggered:
                episode["max_score"] = max(episode["max_score"], score)
            elif score < min_threshold:
                episode = None
                last_anomaly_ts = ts

        if episode is not None:
            ep_id[i] = episode_no
            ep_start[i] = int(episode["start_ts"])
            ep_max[i] = episode["max_score"]

    pdf["is_anomaly"] = pd.Series(is_anom, dtype="bool")
    pdf["anomaly_type"] = pd.Series(a_type, dtype="object")
    pdf["episode_id"] = pd.Series(ep_id, dtype="object")
    pdf["episode_start_ts"] = pd.Series(ep_start, dtype="object")
    pdf["episode_max_score"] = pd.Series(ep_max, dtype="object")
    return pdf


def detect_anomalies(
    df: DataFrame,
    min_threshold: float = 68.0,
    max_threshold: float = 99.7,
    grace_period: float = 0.0,
    *,
    key_cols: Sequence[str] | None = None,
    ts_col: str = "bucket_ts",
    score_col: str = "score",
    observed_col: str = "observed",
    predicted_col: str = "predicted",
) -> DataFrame:
    """Run the hysteresis sweep; returns the input plus
    is_anomaly / anomaly_type / episode_id / episode_start_ts /
    episode_max_score columns.

    ``key_cols`` partitions the sweep per series (model fan-out); with
    no keys the whole frame is one series (single shuffle to 1 task —
    fine, the input is already aggregated to buckets).
    """
    key_cols = list(key_cols or [])
    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(n, t, True) for n, t in _STATE_COLS]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _sweep(
            pdf, ts_col, score_col, observed_col, predicted_col,
            min_threshold, max_threshold, grace_period,
        )

    if key_cols:
        grouped = df.groupBy(*key_cols)
    else:
        grouped = df.withColumn("__k", F.lit(0)).groupBy("__k")
        schema = T.StructType(
            [T.StructField("__k", T.IntegerType(), False)]
            + list(schema.fields)
        )
    out = grouped.applyInPandas(fn, schema=schema)
    if not key_cols:
        out = out.drop("__k")
    return out


def anomaly_windows(detected: DataFrame,
                    key_cols: Sequence[str] | None = None,
                    *, ts_col: str = "bucket_ts") -> DataFrame:
    """Collapse per-bucket episode columns into one row per episode:
    (key..., episode_id, start_ts, end_ts, max_score) — the
    ``list_anomalies`` round-trip shape (loudml/influx.py:662-694).
    The single authority for episode collapse — hook firing and the
    annotation round-trip both go through here."""
    key_cols = list(key_cols or [])
    start = (
        F.min("episode_start_ts")
        if "episode_start_ts" in detected.columns
        else F.min(ts_col)
    )
    max_score = (
        F.max("episode_max_score")
        if "episode_max_score" in detected.columns
        else F.max("score")
    )
    return (
        detected.filter(F.col("episode_id").isNotNull())
        .groupBy(*key_cols, "episode_id")
        .agg(
            start.alias("start_ts"),
            F.max(ts_col).alias("end_ts"),
            max_score.alias("max_score"),
        )
    )
