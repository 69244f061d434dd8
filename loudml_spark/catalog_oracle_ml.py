"""DuckDB oracle generators for the learned-model catalog queries.

These close the last `no_oracle` gap with the pattern that round 3/4
established for ANN LSH/IVF centroids (similarity.py): make the
learned artifact DETERMINISTIC and PORTABLE, retrain it through the
shared numpy path from the same parquet, inline it as SQL literals,
and let the SQL recompute everything downstream of it from data.

Determinism contract (why the value-hash is meaningful):

1. The bucket series both engines feed the estimator is the
   DECIMAL-EXACT mean (SUM(DECIMAL)/COUNT, one IEEE division) — the
   same bits in both engines with NO rounding.  Round 5 learned the
   hard way that ROUND(AVG(double), 6) is only ALMOST portable:
   merge-order ulps occasionally straddle the 6 dp boundary, and one
   flipped training value amplifies through the fit into many
   flipped predictions.
2. Training/prediction run through the SAME numpy functions the
   Spark executors call (`regression._fit_arrays`,
   `donut_fleet.donut_fit_predict_group`, ...): identical float64
   inputs → identical weights → identical predictions.  The oracle
   therefore validates Spark's DISTRIBUTED orchestration — keyed
   grouping, window assembly, join alignment, score column math —
   against a single-process recomputation from raw parquet.
3. Downstream of the literals, the SQL recomputes observed values
   and the erf anomaly score from the parquet data, so the hash is
   not a golden-file comparison for those columns.
"""

from __future__ import annotations

import os

from loudml_spark.oracle_util import resolve_oracle_sf_dir  # noqa: E402


def _keyed_series_6h_cte(jan1: int, jan31: int, ns: int) -> str:
    """Per-event_type 6h bucket series with empty-bucket spine and
    DECIMAL-exact means — the SQL mirror of the catalog's keyed
    mean_exact bucketize.  Opens a WITH block the caller extends."""
    return f"""
WITH pts AS (
  SELECT event_type,
         (epoch_ns(ts) // {21600 * ns}) * 21600 AS bucket_ts, value
  FROM events
  WHERE epoch_ns(ts) >= {jan1 * ns} AND epoch_ns(ts) < {jan31 * ns}
),
keys AS (SELECT DISTINCT event_type FROM events),
spine AS (
  SELECT k.event_type, r.range AS bucket_ts
  FROM keys k, range({jan1}, {jan31}, 21600) r
),
series AS (
  SELECT s.event_type, s.bucket_ts,
         CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(p.value) AS value
  FROM spine s LEFT JOIN pts p
    ON p.event_type = s.event_type AND p.bucket_ts = s.bucket_ts
  GROUP BY 1, 2
)"""


def _score_ctes(keys: str = "") -> str:
    """erf-based anomaly score (donut.py:899-924 semantics, the same
    Abramowitz-Stegun block every green anomaly oracle uses), over a
    CTE ``j`` with (keys..., bucket_ts, observed, predicted, lower,
    upper).  ``keys`` is a comma-joined key-column prefix, possibly
    empty for unkeyed series."""
    keys = f"{keys}, " if keys else ""
    return f"""
z AS (
  SELECT {keys}bucket_ts, observed, predicted,
         ABS(observed - (lower + upper) / 2.0)
           / (CASE WHEN (upper - (lower + upper) / 2.0) / 3.0 = 0 THEN 1.0
                   ELSE (upper - (lower + upper) / 2.0) / 3.0 END)
           / SQRT(2.0) AS x
  FROM j
),
tt AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS t FROM z),
scored AS (
  SELECT {keys}bucket_ts, observed, predicted,
         ROUND(100.0 * GREATEST(0.0, LEAST(1.0,
           2.0 * (0.5 * (1.0 + (1.0 - (0.254829592 * t
             + (-0.284496736) * t * t
             + 1.421413741 * t * t * t
             + (-1.453152027) * t * t * t * t
             + 1.061405429 * t * t * t * t * t) * EXP(-x * x)))) - 1.0
         )), 4) AS score
  FROM tt
)"""


def _dlit(v: float) -> str:
    f = float(v)
    if f != f:  # NaN
        return "CAST('NaN' AS DOUBLE)"
    return f"CAST({f!r} AS DOUBLE)"


def _series_by_key(sf_dir: str, jan1: int, jan31: int, ns: int):
    """Fetch the keyed 6h series via DuckDB → {key: (ts[], vals[])}
    with NaN for empty buckets, sorted by ts."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'events.parquet')}')"
    )
    rows = con.sql(
        _keyed_series_6h_cte(jan1, jan31, ns)
        + "\nSELECT event_type, bucket_ts, value FROM series "
        "ORDER BY event_type, bucket_ts"
    ).fetchall()
    con.close()
    out: dict[str, tuple] = {}
    by: dict[str, list] = {}
    for et, ts, v in rows:
        by.setdefault(et, []).append((int(ts), v))
    for et, pts in by.items():
        ts = np.array([p[0] for p in pts], dtype=np.int64)
        vals = np.array(
            [np.nan if p[1] is None else float(p[1]) for p in pts]
        )
        out[et] = (ts, vals)
    return out


def _hourly_series_cte() -> str:
    """Unkeyed hourly series with spine + DECIMAL-exact means — SQL
    mirror of catalog._exact_series at 3600 s."""
    from loudml_spark.catalog import _spine_sql

    return _spine_sql(3600) + """
, series AS (
  SELECT s.bucket_ts AS bucket_ts,
         CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(p.value) AS value
  FROM spine s LEFT JOIN pts p USING (bucket_ts)
  GROUP BY s.bucket_ts
)"""


def _hourly_series_np(sf_dir: str):
    """Fetch the hourly series via DuckDB → (ts, vals) numpy arrays."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'events.parquet')}')"
    )
    rows = con.sql(
        _hourly_series_cte()
        + "\nSELECT bucket_ts, value FROM series ORDER BY bucket_ts"
    ).fetchall()
    con.close()
    ts = np.array([int(r[0]) for r in rows], dtype=np.int64)
    vals = np.array(
        [np.nan if r[1] is None else float(r[1]) for r in rows]
    )
    return ts, vals


def sql_donut_predict_1h(sf_dir: str | None = None) -> str:
    """Oracle for q_donut_predict_1h: retrain the single-series VAE
    through the shared numpy cores, inline the band, recompute
    observed + erf score in SQL."""
    from loudml_spark.catalog import JAN22
    from loudml_spark.ml.donut_np import (
        donut_fit_values,
        donut_predict_values,
    )
    from loudml_spark.ml.models import BAND_SIGMA

    sf_dir = resolve_oracle_sf_dir(sf_dir)
    span = 24
    ts, vals = _hourly_series_np(sf_dir)
    state = donut_fit_values(
        vals[ts < JAN22], span=span, latent_dim=3, intermediate_dim=34,
        epochs=40, batch_size=64, seed=42,
    )
    m = ts >= JAN22 - (span - 1) * 3600
    pred, sig = donut_predict_values(state, vals[m], span=span, seed=42)
    out_ts = ts[m][span - 1:]
    lits = []
    for t, p, s in zip(out_ts, pred, sig):
        if t < JAN22:
            continue
        lits.append(
            f"({int(t)}, {_dlit(p)}, {_dlit(p - BAND_SIGMA * s)}, "
            f"{_dlit(p + BAND_SIGMA * s)})"
        )
    values = ",\n  ".join(lits)
    return _hourly_series_cte() + f""",
pred(bucket_ts, predicted, lower, upper) AS (VALUES
  {values}),
j AS (
  SELECT t.bucket_ts, t.value AS observed,
         p.predicted, p.lower, p.upper
  FROM series t JOIN pred p ON t.bucket_ts = p.bucket_ts
),{_score_ctes()}
SELECT bucket_ts, observed,
       ROUND(predicted, 4) AS predicted, score
FROM scored
"""


def sql_forecast_donut_48h(sf_dir: str | None = None) -> str:
    """Oracle for q_forecast_donut_48h: retrain on the full month via
    the shared cores and roll the forecast forward; literal band over
    the 48 future buckets."""
    from loudml_spark.catalog import JAN31
    from loudml_spark.ml.donut_np import (
        donut_fit_values,
        donut_forecast_values,
    )

    sf_dir = resolve_oracle_sf_dir(sf_dir)
    _, vals = _hourly_series_np(sf_dir)
    state = donut_fit_values(
        vals, span=24, latent_dim=3, intermediate_dim=34,
        epochs=40, batch_size=64, seed=42,
    )
    pred, half = donut_forecast_values(
        state, 48, span=24, seed=42, percent_interval=0.95,
        bucket_interval=3600,
    )
    lits = []
    for j in range(48):
        t = JAN31 + j * 3600
        lits.append(
            f"({int(t)}, ROUND({_dlit(pred[j])}, 4), "
            f"ROUND({_dlit(pred[j] - half[j])}, 4), "
            f"ROUND({_dlit(pred[j] + half[j])}, 4))"
        )
    values = ",\n  ".join(lits)
    return f"""
SELECT bucket_ts, predicted, lower, upper
FROM (VALUES
  {values}) AS pred(bucket_ts, predicted, lower, upper)
"""


def sql_donut_fleet_6h(sf_dir: str | None = None) -> str:
    """Oracle for q_donut_fleet_6h: replay the per-key VAE
    fit+predict through the SHARED group function on the
    DuckDB-recomputed series; SQL recomputes observed + erf score."""
    import pandas as pd

    from loudml_spark.catalog import JAN1, JAN22, JAN31, NS
    from loudml_spark.ml.donut_fleet import donut_fit_predict_group

    sf_dir = resolve_oracle_sf_dir(sf_dir)
    lits = []
    for et, (ts, vals) in sorted(
            _series_by_key(sf_dir, JAN1, JAN31, NS).items()):
        pdf = pd.DataFrame({"bucket_ts": ts, "value": vals})
        rows = donut_fit_predict_group(
            (et,), pdf, key_cols=["event_type"], span=28, epochs=30,
            train_before=JAN22,
        )
        for r in rows.itertuples(index=False):
            lits.append(
                f"('{et}', {int(r.bucket_ts)}, {_dlit(r.predicted)}, "
                f"{_dlit(r.lower)}, {_dlit(r.upper)})"
            )
    values = ",\n  ".join(lits)
    return _keyed_series_6h_cte(JAN1, JAN31, NS) + f""",
pred(event_type, bucket_ts, predicted, lower, upper) AS (VALUES
  {values}),
j AS (
  SELECT t.event_type, t.bucket_ts, t.value AS observed,
         p.predicted, p.lower, p.upper
  FROM series t JOIN pred p
    ON t.event_type = p.event_type AND t.bucket_ts = p.bucket_ts
),{_score_ctes("event_type")}
SELECT event_type, bucket_ts, observed,
       ROUND(predicted, 4) AS predicted, score
FROM scored
"""


def sql_forecast_donut_fleet_6h(sf_dir: str | None = None) -> str:
    """Oracle for q_forecast_donut_fleet_6h: replay the per-key
    roll-forward through the shared group function; the future spine
    carries no observed data, so the SQL joins literals onto a
    generated (key, bucket_ts) spine."""
    import pandas as pd

    from loudml_spark.catalog import JAN1, JAN31, NS
    from loudml_spark.ml.donut_fleet import donut_forecast_group

    sf_dir = resolve_oracle_sf_dir(sf_dir)
    lits = []
    for et, (ts, vals) in sorted(
            _series_by_key(sf_dir, JAN1, JAN31, NS).items()):
        pdf = pd.DataFrame({"bucket_ts": ts, "value": vals})
        rows = donut_forecast_group(
            (et,), pdf, key_cols=["event_type"], horizon=8, span=28,
            epochs=30, percent_interval=0.95, bucket_interval=21600,
        )
        for r in rows.itertuples(index=False):
            lits.append(
                f"('{et}', {int(r.bucket_ts)}, "
                f"ROUND({_dlit(r.predicted)}, 4), "
                f"ROUND({_dlit(r.lower)}, 4), "
                f"ROUND({_dlit(r.upper)}, 4))"
            )
    values = ",\n  ".join(lits)
    return f"""
SELECT event_type, bucket_ts, predicted, lower, upper
FROM (VALUES
  {values}) AS pred(event_type, bucket_ts, predicted, lower, upper)
"""


def sql_ar_fleet_predict_6h(sf_dir: str | None = None) -> str:
    """Oracle for q_ar_fleet_predict_6h: retrain the per-key AR(28)
    ridge fleet via the shared closed-form numpy fit, inline
    predicted/lower/upper literals, recompute observed + erf score
    in SQL."""
    from loudml_spark.catalog import AR_FLEET_SPAN, JAN1, JAN22, JAN31, NS
    from loudml_spark.ml.models import BAND_SIGMA
    from loudml_spark.ml.regression import _fit_arrays, ar_predict_values

    sf_dir = resolve_oracle_sf_dir(sf_dir)
    span = AR_FLEET_SPAN
    lits = []
    for et, (ts, vals) in sorted(
            _series_by_key(sf_dir, JAN1, JAN31, NS).items()):
        try:
            w, mu, sd, sigma = _fit_arrays(vals[ts < JAN22], span, 1.0)
        except Exception:
            continue  # fit_many drops unfittable keys; so do we
        m = ts >= JAN22 - span * 21600
        pred = ar_predict_values(vals[m], w, mu, sd, span)
        for t, p in zip(ts[m], pred):
            if t < JAN22:
                continue
            lo = p - BAND_SIGMA * sigma
            hi = p + BAND_SIGMA * sigma
            # undefined windows (sparse series): Spark's pandas UDF
            # surfaces NaN as NULL (Arrow NaN->null), so the OUTPUT
            # column is NULL — but the score math keeps the NaN band,
            # because both engines then clamp to 100 the same way
            # (Spark least() skips nulls; DuckDB orders NaN last)
            p_out = "CAST(NULL AS DOUBLE)" if p != p else _dlit(p)
            lits.append(
                f"('{et}', {int(t)}, {p_out}, "
                f"{_dlit(p)}, {_dlit(lo)}, {_dlit(hi)})"
            )
    values = ",\n  ".join(lits)
    return _keyed_series_6h_cte(JAN1, JAN31, NS) + f""",
pred(event_type, bucket_ts, pred_out, predicted, lower, upper) AS (VALUES
  {values}),
j AS (
  SELECT t.event_type, t.bucket_ts, t.value AS observed,
         p.pred_out AS predicted, p.lower, p.upper
  FROM series t JOIN pred p
    ON t.event_type = p.event_type AND t.bucket_ts = p.bucket_ts
),{_score_ctes("event_type")}
SELECT event_type, bucket_ts, observed,
       ROUND(predicted, 6) AS predicted, score
FROM scored
"""
