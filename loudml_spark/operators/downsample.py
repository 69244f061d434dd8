"""Visual downsampling — Largest-Triangle-Three-Buckets (LTTB).

A dashboard rendering a month of 1 s data cannot draw 2.6 M points;
LTTB (Steinarsson 2013, public thesis) picks ``n_out`` points that
preserve the visual shape: first/last always kept, the interior
split into equal buckets, and from each bucket the point forming the
largest triangle with the previously kept point and the NEXT
bucket's centroid.  The reference has no downsampling surface (its
clients re-aggregate at coarser intervals); LTTB keeps extremes a
coarser mean would erase.

Scale: the algorithm is sequential per series, so it runs as a keyed
``applyInPandas`` over the BUCKETIZED series (≤ range/interval rows
per key — the same bounded-series contract as the model fleet).  The
numpy core is elementwise-only (no BLAS), so executor and driver
replays are bit-identical — the DuckDB oracle replays the SAME
function (catalog_ext pattern).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loudml_spark import errors


def lttb_values(ts: np.ndarray, vals: np.ndarray, n_out: int) -> np.ndarray:
    """Indices of the LTTB-selected points (deterministic; ties take
    the first maximum).  Inputs must be null-free and ts-sorted."""
    n = len(ts)
    if n_out < 3:
        raise errors.Invalid("n_out must be >= 3")
    if n <= n_out:
        return np.arange(n)
    t = ts.astype(np.float64)
    v = vals.astype(np.float64)
    # bucket edges over the interior points 1..n-2
    edges = np.linspace(1, n - 1, n_out - 1).astype(np.int64)
    out = [0]
    a = 0
    for i in range(n_out - 2):
        lo, hi = edges[i], edges[i + 1]
        nlo, nhi = edges[i + 1], (edges[i + 2] if i + 2 < len(edges)
                                  else n)
        # next bucket's centroid (the last "bucket" is the final point)
        cx = float(np.mean(t[nlo:nhi])) if nhi > nlo else float(t[-1])
        cy = float(np.mean(v[nlo:nhi])) if nhi > nlo else float(v[-1])
        ax, ay = float(t[a]), float(v[a])
        area = np.abs(
            (ax - cx) * (v[lo:hi] - ay) - (ax - t[lo:hi]) * (cy - ay)
        )
        a = lo + int(np.argmax(area))
        out.append(a)
    out.append(n - 1)
    return np.array(out, dtype=np.int64)


def lttb(
    df: DataFrame,
    *,
    ts_col: str = "bucket_ts",
    value_col: str = "value",
    n_out: int = 100,
    by: Sequence[str] = (),
) -> DataFrame:
    """Downsample each key's (ts, value) series to ``n_out`` points
    with LTTB; null values are dropped first (they have no visual
    position).  Output keeps (by…, ts_col, value_col)."""
    for c in (ts_col, value_col, *by):
        if c not in df.columns:
            raise errors.Invalid(f"missing column {c!r}")
    if n_out < 3:
        raise errors.Invalid("n_out must be >= 3")
    by = list(by)
    key_field = ", ".join(f"{k} string" for k in by)
    schema = (f"{key_field}, " if key_field else "") + \
        f"{ts_col} long, {value_col} double"

    def fn(keys, pdf):
        pdf = pdf.dropna(subset=[value_col]).sort_values(ts_col)
        ts = pdf[ts_col].to_numpy(dtype=np.int64)
        vals = pdf[value_col].to_numpy(dtype=float)
        if len(ts) == 0:
            return pd.DataFrame(columns=[*by, ts_col, value_col])
        idx = lttb_values(ts, vals, n_out)
        out = pd.DataFrame({ts_col: ts[idx], value_col: vals[idx]})
        for i, k in enumerate(by):
            out.insert(i, k, keys[i])
        return out

    if by:
        return df.groupBy(*by).applyInPandas(fn, schema=schema)
    return df.withColumn("__g", F.lit("all")).groupBy("__g") \
        .applyInPandas(lambda k, p: fn((), p), schema=schema)
