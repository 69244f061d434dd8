"""Time bucketization — the engine's core GROUP BY.

Semantics (parity targets, SURVEY §2.3 / §2.6 / §7.4):

* half-open range ``[from, to)`` (loudml/bucket.py:166-168), aligned
  outward to interval multiples (loudml/misc.py:223-238);
* buckets labeled by their **left** edge, aligned on
  ``ts % interval == 0`` (loudml/influx.py:587-588);
* empty buckets are **emitted** (ES ``min_doc_count: 0`` +
  ``extended_bounds``, loudml/elastic.py:490-496) — implemented with a
  generated time spine left-joined to the aggregate;
* missing values are null (the reference's NaN, loudml/bucket.py:176-181)
  except ``count``-family metrics which fill 0
  (loudml/opentsdb.py:452-454);
* per-feature ``default`` fill: constant or ``"previous"``
  (forward fill, loudml/donut.py:597-610), then ``transform: diff``
  (loudml/model.py:96).

Scale design
------------
One query = ONE shuffle.  All features — even with different
``match_all`` tag filters — compile into a single
``groupBy(bucket_ts).agg(...)`` using conditional aggregates
(``avg(CASE WHEN tag=v THEN field END)``), so a 100 TB scan happens
once with map-side partial aggregation, instead of the reference's
one-store-query-per-feature loop (loudml/influx.py:558-561).  The time
spine and the aggregate are both ≤ n_buckets rows after aggregation,
so the spine join is trivially broadcastable (AQE picks this up).  The
range predicate is expressed on the raw timestamp column so it reaches
the parquet scan as a pushed filter / partition prune.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from loudml_spark import errors, timeutil
from loudml_spark.features import Feature, parse_features
from loudml_spark.functions.metrics import get_metric_spec

BUCKET_COL = "bucket_ts"

# epoch-seconds multipliers for integer timestamp columns
_UNIT_SCALE = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}


def _bucket_expr(df: DataFrame, ts_col: str, interval: int, ts_unit: str) -> Column:
    """Left-edge bucket label (epoch seconds, long).

    Integer timestamp columns bucket via pure integer division — exact
    and bit-identical to DuckDB's ``epoch_ns(ts) // (i*1e9) * i`` —
    avoiding double-rounding flips at bucket boundaries."""
    dtype = df.schema[ts_col].dataType
    if isinstance(dtype, (T.LongType, T.IntegerType)) and ts_unit in _UNIT_SCALE:
        # pure integer division: `/` would go through double, which
        # cannot represent ns epochs (~1.7e18 > 2^53) exactly.  FLOOR
        # division (pmod-adjusted), not `div` (truncates toward zero),
        # so pre-1970 epochs bucket to their LEFT edge — matching the
        # double path and DuckDB `//`.
        step = interval * _UNIT_SCALE[ts_unit]
        return F.expr(
            f"((`{ts_col}` - pmod(`{ts_col}`, {step}L)) div {step}L)"
            f" * {interval}L"
        ).cast("long")
    if isinstance(dtype, T.TimestampNTZType):
        # NTZ wall clocks are UTC by convention here; a bare
        # NTZ→double cast is illegal and NTZ→TIMESTAMP would shift by
        # the session timezone — round-trip through convert_timezone
        # to read the wall clock AS UTC under any session tz.
        epoch = F.expr(
            f"cast(cast(convert_timezone('UTC', current_timezone(), "
            f"`{ts_col}`) as timestamp) as double)"
        )
    else:
        epoch = F.col(ts_col).cast("double")
    return (F.floor(epoch / F.lit(interval)) * F.lit(interval)).cast("long")


def _ntz_lit(epoch_s: float, dtype) -> Column:
    """An epoch bound as a UTC wall-clock string literal cast to NTZ:
    tz-independent — ``timestamp_seconds(...).cast(NTZ)`` would render
    it in the SESSION timezone and shift the range under non-UTC
    sessions — and a plain string-literal comparison pushes into the
    scan."""
    s = datetime.fromtimestamp(float(epoch_s), tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S.%f")
    return F.lit(s).cast(dtype)


def _range_predicate(
    df: DataFrame, ts_col: str, from_ts: float, to_ts: float, ts_unit: str
) -> Column:
    """Half-open [from, to) filter, phrased on the raw column type so
    Catalyst pushes it into the scan."""
    dtype = df.schema[ts_col].dataType
    if isinstance(dtype, T.TimestampNTZType):
        return (F.col(ts_col) >= _ntz_lit(from_ts, dtype)) & (
            F.col(ts_col) < _ntz_lit(to_ts, dtype))
    if isinstance(dtype, T.TimestampType):
        lo = F.timestamp_seconds(F.lit(float(from_ts)))
        hi = F.timestamp_seconds(F.lit(float(to_ts)))
        return (F.col(ts_col) >= lo) & (F.col(ts_col) < hi)
    if isinstance(dtype, (T.LongType, T.IntegerType)) and ts_unit in _UNIT_SCALE:
        scale = _UNIT_SCALE[ts_unit]
        pred = (F.col(ts_col) >= F.lit(int(from_ts * scale))) & (
            F.col(ts_col) < F.lit(int(to_ts * scale))
        )
        # when ts_col is an expression DERIVED from a physical
        # timestamp column (loader marks it via column metadata), a
        # predicate on it cannot reach the parquet scan; AND in the
        # equivalent range on the raw column — semantically redundant
        # (same instants by construction) but pushable, restoring
        # row-group pruning.  Only metadata-marked columns get this:
        # for a raw int64 ts_ns with a double-rounded derived ts the
        # extra filter could flip boundary rows, so it must never be
        # inferred from column names alone.
        raw = df.schema[ts_col].metadata.get("derived_from") \
            if df.schema[ts_col].metadata else None
        if raw and raw in df.columns and isinstance(
            df.schema[raw].dataType, (T.TimestampType, T.TimestampNTZType)
        ):
            rdtype = df.schema[raw].dataType
            if isinstance(rdtype, T.TimestampNTZType):
                # NTZ wall clocks are UTC by the loader's contract
                lo, hi = _ntz_lit(from_ts, rdtype), _ntz_lit(to_ts, rdtype)
            else:
                lo = F.timestamp_seconds(F.lit(float(from_ts)))
                hi = F.timestamp_seconds(F.lit(float(to_ts)))
            pred = pred & (F.col(raw) >= lo) & (F.col(raw) < hi)
        return pred
    return (F.col(ts_col) >= F.lit(float(from_ts))) & (
        F.col(ts_col) < F.lit(float(to_ts))
    )


def _match_all_cond(match_all: Sequence[dict]) -> Column | None:
    cond = None
    for c in match_all:
        this = F.col(c["tag"]) == F.lit(c["value"])
        cond = this if cond is None else (cond & this)
    return cond


def time_spine(
    spark, from_ts: int, to_ts: int, interval: int, keys_df: DataFrame | None = None
) -> DataFrame:
    """All bucket left edges in [from, to) — optionally fanned out per
    key for per-series spines.

    The keyed form EXPLODES a literal bucket sequence onto each key
    row instead of crossJoining two frames: same rows, but a pure map
    stage — no BroadcastNestedLoopJoin in the plan, no join at all —
    so it holds even when the key side is millions of series.  The
    range bounds are literals, so Catalyst folds the sequence once."""
    if keys_df is not None:
        n_buckets = max(0, -(-(to_ts - from_ts) // interval))
        if n_buckets == 0:
            return keys_df.limit(0).withColumn(
                BUCKET_COL, F.lit(None).cast("long"))
        last = from_ts + (n_buckets - 1) * interval
        return keys_df.withColumn(
            BUCKET_COL,
            F.explode(F.sequence(
                F.lit(from_ts).cast("long"),
                F.lit(last).cast("long"),
                F.lit(interval).cast("long"),
            )),
        )
    return spark.range(from_ts, to_ts, interval).select(
        F.col("id").cast("long").alias(BUCKET_COL)
    )


def bucket_range(from_date, to_date, bucket_interval, *,
                 now: float | None = None):
    """``(interval, raw_from, raw_to, from_ts, to_ts)`` of a request.

    Data is filtered on the RAW half-open range ``[raw_from, raw_to)``;
    the bucket spine is ``range(from_ts, to_ts, interval)``, the
    aligned cover of it, so edge buckets may be partial.  This matches
    the reference: WHERE time >= from AND time < to plus
    modulo-aligned GROUP BY time(interval)
    (tests/test_memdatasource.py:62-75 golden [2.5, None, 4.0])."""
    interval_s = timeutil.parse_timedelta(bucket_interval)
    if interval_s != int(interval_s) or interval_s <= 0:
        raise errors.Invalid("bucket_interval must be a positive whole number of seconds")
    interval = int(interval_s)
    raw_from = timeutil.make_ts(from_date, now=now)
    raw_to = timeutil.make_ts(to_date, now=now)
    if raw_to < raw_from:
        raise errors.Invalid(f"invalid date range: [{raw_from}, {raw_to})")
    from_ts, to_ts = timeutil.align_range(raw_from, raw_to, interval, now=now)
    return interval, raw_from, raw_to, from_ts, to_ts


def bucketize(
    df: DataFrame,
    features,
    from_date,
    to_date,
    bucket_interval,
    *,
    ts_col: str = "ts",
    ts_unit: str = "s",
    group_by: Iterable[str] | None = None,
    spine: bool = True,
    now: float | None = None,
) -> DataFrame:
    """Bucketized multi-feature aggregation over one source DataFrame.

    Returns a DataFrame ``(group_by..., bucket_ts: long, <feature>...)``
    with one row per (key, bucket) including empty buckets.
    ``bucket_ts`` is the bucket's left edge in epoch seconds.

    ``spine=False`` skips the empty-bucket spine join and returns only
    the buckets that hold rows.  Count-family zero fill and constant
    defaults still apply to those rows, but ``post`` steps
    (derivative), forward fill (``default: previous``) and
    ``transform: diff`` then run over present buckets only: the
    "previous bucket" of each row is the previous PRESENT bucket.
    """
    features = parse_features(features)
    if not features:
        raise errors.Invalid("at least one feature required")
    names = [f.name for f in features]
    if len(set(names)) != len(names):
        raise errors.Invalid(f"duplicate feature names: {names}")

    group_by = list(group_by or [])
    interval, raw_from, raw_to, from_ts, to_ts = bucket_range(
        from_date, to_date, bucket_interval, now=now)

    bucket = _bucket_expr(df, ts_col, interval, ts_unit)
    scoped = df.filter(_range_predicate(df, ts_col, raw_from, raw_to, ts_unit))

    aggs = []
    post_feats: list[tuple[Feature, object]] = []
    for feat in features:
        spec = get_metric_spec(feat.metric)
        # scripted fields compile to a SQL expression (ES painless
        # parity, loudml/elastic.py:452-459)
        value = F.expr(feat.script) if feat.script else F.col(feat.field)
        cond = _match_all_cond(feat.match_all)
        if cond is not None:
            value = F.when(cond, value)
        aggs.append(spec.agg(value).alias(feat.name))
        if spec.post is not None:
            post_feats.append((feat, spec))

    agg_df = scoped.groupBy(*group_by, bucket.alias(BUCKET_COL)).agg(*aggs)

    if spine:
        keys_df = agg_df.select(*group_by).distinct() if group_by else None
        spine_df = time_spine(df.sparkSession, from_ts, to_ts, interval, keys_df)
        agg_df = spine_df.join(agg_df, on=[*group_by, BUCKET_COL], how="left")

    # post-aggregation metrics (derivative/integral) over the bucket spine
    if post_feats:
        w = Window.partitionBy(*group_by).orderBy(BUCKET_COL) if group_by \
            else Window.orderBy(BUCKET_COL)
        for feat, spec in post_feats:
            agg_df = agg_df.withColumn(
                feat.name, spec.post(F.col(feat.name), interval, w)
            )

    # missing-value policy: count→0, constant default, forward fill
    ffill_w = (
        Window.partitionBy(*group_by)
        .orderBy(BUCKET_COL)
        .rowsBetween(Window.unboundedPreceding, 0)
        if group_by
        else Window.orderBy(BUCKET_COL).rowsBetween(Window.unboundedPreceding, 0)
    )
    for feat in features:
        spec = get_metric_spec(feat.metric)
        col = F.col(feat.name)
        if spec.fill_zero:
            agg_df = agg_df.withColumn(
                feat.name, F.coalesce(col, F.lit(0)).cast("double")
            )
        elif feat.default == "previous":
            agg_df = agg_df.withColumn(
                feat.name, F.last(col, ignorenulls=True).over(ffill_w)
            )
        elif feat.default is not None:
            agg_df = agg_df.withColumn(
                feat.name, F.coalesce(col, F.lit(float(feat.default)))
            )

    # transform: diff (first difference over consecutive buckets,
    # loudml/model.py:96, examples/model-nonstationary.json)
    diff_feats = [f for f in features if f.transform == "diff"]
    if diff_feats:
        w = Window.partitionBy(*group_by).orderBy(BUCKET_COL) if group_by \
            else Window.orderBy(BUCKET_COL)
        for feat in diff_feats:
            agg_df = agg_df.withColumn(
                feat.name, F.col(feat.name) - F.lag(F.col(feat.name)).over(w)
            )

    return agg_df
