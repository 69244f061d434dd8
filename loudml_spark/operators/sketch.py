"""KMV (k-minimum-values) distinct-count sketch with a portable,
engine-exact estimator.

Complements the HLL anchor (catalog_ext.q_approx_distinct_users_daily):
Spark's HLL++ and DuckDB's HLL cannot produce the same raw estimate,
so that anchor can only value-match an error-bound verdict.  KMV
(Bar-Yossef et al., RANDOM 2002; Beyer et al., SIGMOD 2007 "distinct
sampling") is different — the estimate is a DETERMINISTIC function of
a portable hash (md5 → 60-bit integer), so the estimator itself
cross-checks bit-for-bit against an independent SQL reconstruction:

    E[distinct] = (k - 1) * 2^60 / h_(k)      (h_(k) = k-th smallest
                                               distinct hash value)

Scale note: production KMV is a bounded-memory mergeable aggregate
(keep the k smallest hashes per partition, merge by re-sorting 2k
values); Spark exposes that shape via ``approx_count_distinct``
(HLL++) rather than a user-pluggable KMV aggregate, so this operator
ranks distinct hashes with ONE shuffle + per-group window — the same
cost class as exact COUNT(DISTINCT), which the output carries anyway
for the relative-error column.  Its catalog role is proving the
estimator math; the 100 TB sketch path remains approx_count_distinct
(see SCALE.md "exact vs sketch").
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from loudml_spark import errors
from loudml_spark.session_cache import persist

_HASH_BITS = 60                     # 15 hex chars of md5
_HASH_SPAN = float(1 << _HASH_BITS)


def kmv_hash(col: Column) -> Column:
    """Portable 60-bit uniform hash: the first 15 hex chars of
    md5(string(col)) as an int64.  Both Spark and DuckDB produce the
    identical lowercase-hex md5 for the identical string, so the
    hash — unlike xxhash64 — reconstructs exactly in the oracle."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 15), 16, 10
    ).cast("long")


def kmv_distinct(
    df: DataFrame,
    *,
    key_col: str,
    by: Sequence[str],
    k: int = 32,
    round_to: int = 6,
) -> DataFrame:
    """Per-group KMV distinct-count estimate next to the exact count.

    Output: (*by, n_exact, kth_hash, est_kmv, rel_err) — kth_hash is
    NULL and est_kmv equals the exact count when a group has fewer
    than k distinct keys (the standard KMV small-set rule: with the
    whole hash set in hand, report its size).
    """
    by = list(by)
    if not by:
        raise errors.Invalid("kmv_distinct needs at least one group col")
    if k < 2:
        raise errors.Invalid(f"k must be >= 2, got {k}")
    for c in [key_col, *by]:
        if c not in df.columns:
            raise errors.Invalid(f"missing column {c!r}")

    hashes = (
        df.select(*by, kmv_hash(F.col(key_col)).alias("__h"))
        .where(F.col("__h").isNotNull())
        .distinct()
    )
    w = Window.partitionBy(*by).orderBy("__h")
    ranked = hashes.withColumn("__rn", F.row_number().over(w))
    per_group = ranked.groupBy(*by).agg(
        F.count("*").alias("n_exact"),
        F.max(F.when(F.col("__rn") == k, F.col("__h"))).alias("kth_hash"),
    )
    # (k-1) * 2^60 exceeds int64 — route through an exact double
    # literal (mantissa k-1, exponent 60: exactly representable)
    numer = F.lit(float(k - 1)) * F.lit(_HASH_SPAN)
    est = F.when(
        F.col("n_exact") < k, F.col("n_exact").cast("double")
    ).otherwise(numer / F.col("kth_hash").cast("double"))
    return per_group.select(
        *by,
        "n_exact",
        "kth_hash",
        F.round(est, round_to).alias("est_kmv"),
        F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"),
                round_to).alias("rel_err"),
    )


def sql_kmv_hash(expr: str) -> str:
    """DuckDB reconstruction of :func:`kmv_hash` — unrolled hex→int
    over the 15 md5 chars (DuckDB has no conv())."""
    digits = " + ".join(
        f"(strpos('0123456789abcdef', "
        f"substr(md5(CAST({expr} AS VARCHAR)), {i + 1}, 1)) - 1) "
        f"* {16 ** (14 - i)}"
        for i in range(15)
    )
    return f"CAST({digits} AS BIGINT)"


# ------------------------------------------------------------- HLL

# published bias constants (Flajolet et al., AofA 2007, §4)
_HLL_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def hll_distinct(
    df: DataFrame,
    *,
    key_col: str,
    by: Sequence[str],
    p: int = 4,
    round_to: int = 4,
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate next to the
    exact count — the sketch itself, from the paper (Flajolet,
    Fusy, Gandouet & Meunier 2007), not a wrapper over an engine
    aggregate (Spark HLL++ and DuckDB HLL disagree on raw
    estimates; this one is engine-exact by construction).

    Portability: the register max ρ (leading-zero rank of the
    hash's upper 60−p bits, via ``length(bin(w))`` — identical
    string semantics in Spark and DuckDB) is an exact integer, and
    the harmonic denominator Σ 2^−M_j is computed in EXACT int64
    arithmetic as Σ 2^(C−M_j) with C = 61−p (every term a power of
    two, total ≤ 2^61 — no float-summation order sensitivity at
    all), so the raw estimate α_m·m²·2^C / sum_int is ONE IEEE
    division of identical numbers on any engine.  The small-range
    regime applies the paper's linear-counting correction
    m·ln(m/zeros) when raw ≤ 2.5m and zero registers remain.

    Cost class matches :func:`kmv_distinct` (one distinct + two
    map-side-combined grouped aggregations); the 100 TB sketch path
    for pure estimation remains ``approx_count_distinct``, this
    operator's role is the estimator math and the exact-vs-sketch
    audit (``rel_err`` rides along).

    Caveat on ``n_exact``: it counts distinct 60-bit ``kmv_hash``
    values, not distinct keys — two keys colliding in the hash
    conflate (probability ≈ n²/2^61, negligible at any group size
    this audit runs at, but the column name says "exact" so the
    contract is stated).

    Output: (*by, n_exact, n_zero_regs, est_hll, rel_err)."""
    by = list(by)
    if not by:
        raise errors.Invalid("hll_distinct needs at least one group col")
    if p not in (4, 5, 6):
        raise errors.Invalid(f"p must be 4, 5 or 6, got {p}")
    for c in [key_col, *by]:
        if c not in df.columns:
            raise errors.Invalid(f"missing column {c!r}")
    m = 1 << p
    alpha = _HLL_ALPHA[m]
    c_exp = (_HASH_BITS - p) + 1     # max rho; int weights 2^(c-rho)

    hashes = (
        df.select(*by, kmv_hash(F.col(key_col)).alias("__h"))
        .where(F.col("__h").isNotNull())
        .distinct()
    )
    reg, rho = hll_reg_rho_from_hash(F.col("__h"), p)
    regs = (
        hashes.select(*by, reg.alias("__reg"), rho.alias("__rho"))
        .groupBy(*by, "__reg")
        .agg(F.max("__rho").alias("__mrho"),
             F.count("*").alias("__n"))
    )
    weight = F.pow(F.lit(2.0), F.lit(c_exp) - F.col("__mrho")) \
        .cast("long")
    per_group = regs.groupBy(*by).agg(
        F.sum("__n").cast("long").alias("n_exact"),
        F.count("*").cast("int").alias("__present"),
        F.sum(weight).cast("long").alias("__sum_present"),
    )
    zeros = (F.lit(m) - F.col("__present")).cast("long")
    sum_int = (F.col("__sum_present")
               + zeros * F.lit(1 << c_exp).cast("long"))
    raw = (F.lit(alpha * m * m) * F.lit(float(1 << c_exp))
           / sum_int.cast("double"))
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return per_group.select(
        *by,
        "n_exact",
        zeros.cast("int").alias("n_zero_regs"),
        F.round(est, round_to).alias("est_hll"),
        F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"),
                round_to).alias("rel_err"),
    )


def hll_distinct_merged(
    df: DataFrame,
    *,
    key_col: str,
    by: Sequence[str],
    shard_col: str,
    p: int = 4,
    round_to: int = 4,
) -> DataFrame:
    """HLL by SKETCH MERGE — the property that makes HLL the 100 TB
    distinct-count tool: registers built independently per shard
    (here ``shard_col``, standing in for per-executor / per-partition
    / per-day partial sketches) combine by REGISTER MAX into exactly
    the sketch a single global pass would build, so the estimate is
    bit-identical to :func:`hll_distinct` over the same groups.
    That equality IS this operator's acceptance gate (the catalog
    pairs it with the direct path's oracle).

    Same cost class as the direct path plus one extra register-keyed
    aggregation (registers per (group, shard) → max per (group,
    register)); no exact count rides along — the merged sketch
    cannot know cross-shard overlap exactly, which is the point.

    Output: (*by, n_zero_regs, est_hll)."""
    by = list(by)
    if not by:
        raise errors.Invalid(
            "hll_distinct_merged needs at least one group col")
    if p not in (4, 5, 6):
        raise errors.Invalid(f"p must be 4, 5 or 6, got {p}")
    for c in [key_col, shard_col, *by]:
        if c not in df.columns:
            raise errors.Invalid(f"missing column {c!r}")

    reg, rho = hll_reg_rho(F.col(key_col), p)
    shard_regs = (
        df.where(F.col(key_col).isNotNull())
        .select(*by, F.col(shard_col).alias("__shard"),
                reg.alias("__reg"), rho.alias("__rho"))
        .groupBy(*by, "__shard", "__reg")
        .agg(F.max("__rho").alias("__srho"))
    )
    # the merge: register max across shards; shared finisher
    regs = shard_regs.groupBy(*by, "__reg").agg(
        F.max("__srho").alias("__mrho"))
    return hll_finish(regs, by=by, p=p, round_to=round_to)


def hll_reg_rho_from_hash(h: Column, p: int) -> tuple[Column, Column]:
    """(register, ρ) Columns from an ALREADY-HASHED key column — the
    single definition of the register math, shared by every HLL path
    (:func:`hll_distinct` derives them from its deduplicated hash
    frame; :func:`hll_reg_rho` composes this with :func:`kmv_hash`
    for key columns)."""
    if p not in (4, 5, 6):
        raise errors.Invalid(f"p must be 4, 5 or 6, got {p}")
    m = 1 << p
    w_bits = _HASH_BITS - p
    c_exp = w_bits + 1
    wcol = F.floor(h / F.lit(m)).cast("long")
    rho = F.when(
        wcol > 0,
        F.lit(w_bits) - F.length(F.bin(wcol)) + F.lit(1)
    ).otherwise(F.lit(c_exp)).cast("int")
    return (h % m).cast("int"), rho


def hll_reg_rho(key: Column, p: int) -> tuple[Column, Column]:
    """(register, ρ) Columns for a key under precision ``p`` — the
    shared projection behind the batch, merged and STREAMING HLL
    paths (identical expressions ⇒ identical registers ⇒ identical
    estimates, which is what lets the streaming drain share the
    batch oracle)."""
    return hll_reg_rho_from_hash(kmv_hash(key), p)


def hll_finish(
    regs: DataFrame,
    *,
    by: Sequence[str],
    p: int = 4,
    reg_col: str = "__reg",
    rho_col: str = "__mrho",
    round_to: int = 4,
) -> DataFrame:
    """Finish an HLL register frame (by..., reg, max-ρ) into the
    estimate — the batch tail shared by :func:`hll_distinct_merged`
    and the streaming drain.  Same exact-int64 harmonic sum and
    linear-counting correction as :func:`hll_distinct`.

    Output: (*by, n_zero_regs, est_hll)."""
    by = list(by)
    if p not in (4, 5, 6):
        raise errors.Invalid(f"p must be 4, 5 or 6, got {p}")
    m = 1 << p
    alpha = _HLL_ALPHA[m]
    c_exp = (_HASH_BITS - p) + 1
    weight = F.pow(F.lit(2.0), F.lit(c_exp) - F.col(rho_col)) \
        .cast("long")
    per_group = regs.groupBy(*by).agg(
        F.count("*").cast("int").alias("__present"),
        F.sum(weight).cast("long").alias("__sum_present"),
    )
    zeros = (F.lit(m) - F.col("__present")).cast("long")
    sum_int = (F.col("__sum_present")
               + zeros * F.lit(1 << c_exp).cast("long"))
    raw = (F.lit(alpha * m * m) * F.lit(float(1 << c_exp))
           / sum_int.cast("double"))
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return per_group.select(
        *by,
        zeros.cast("int").alias("n_zero_regs"),
        F.round(est, round_to).alias("est_hll"),
    )


def kmv_jaccard(
    df: DataFrame,
    *,
    key_col: str,
    set_col: str,
    k: int = 256,
    round_to: int = 6,
    max_sets: int = 512,
) -> DataFrame:
    """Pairwise Jaccard similarity between sets from k-minimum-value
    sketches (Beyer et al., SIGMOD 2007 §5: the union's k smallest
    hashes are a uniform sample of A ∪ B, so the fraction of them
    present in BOTH per-set sketches estimates |A∩B| / |A∪B|) — the
    set-algebra member of the sketch family: CMS (frequency), KMV
    (cardinality), HLL (mergeable cardinality), this (similarity).
    At 100 TB the per-set sketches are k-row summaries computed in
    one pass; every pairwise comparison after that touches sketches
    only, never the data.

    Shape: one distinct + per-set rank keeps k rows per set; each
    sketch row then equi-joins a broadcast PARTNER frame (one row
    per ordered (set, pair) membership — |sets|·(|sets|−1) DATA
    rows, not plan nodes, so the logical plan stays O(1) however
    many sets there are); a grouped count + per-pair rank + one
    aggregation finish it, bounded by k·|sets|² intermediate rows.
    ``max_sets`` (default 512 → ≤ 262k partner rows) gates the
    quadratic pairwise stage with a named error instead of letting
    it creep — raise it deliberately, the partner frame is built on
    the driver.  The estimate is exact integer counts through one
    IEEE division — engine-portable by construction.

    Output: (set_a, set_b, n_union_sketch, n_both, est_jaccard) for
    set_a < set_b."""
    if k < 2:
        raise errors.Invalid(f"k must be >= 2, got {k}")
    if max_sets < 2:
        raise errors.Invalid(f"max_sets must be >= 2, got {max_sets}")
    for c in (key_col, set_col):
        if c not in df.columns:
            raise errors.Invalid(f"missing column {c!r}")
    hashes = (
        df.select(F.col(set_col).alias("__set"),
                  kmv_hash(F.col(key_col)).alias("__h"))
        .where(F.col("__h").isNotNull())
        .distinct()
    )
    w = Window.partitionBy("__set").orderBy("__h")
    sk = hashes.withColumn("__rn", F.row_number().over(w)) \
        .filter(F.col("__rn") <= k).select("__set", "__h")
    # persist the sketch: the set-name collect below AND the partner
    # join both consume it, and without the persist each re-runs the
    # corpus-scale distinct + per-set rank upstream (guide §5 — the
    # frame is ≤ k·|sets| rows, the canonical bounded-sketch size;
    # registered in the session cache like every operator-internal
    # persist)
    sk = persist(sk)
    sets = [r["__set"] for r in sk.select("__set").distinct().collect()]
    sets.sort()
    if len(sets) < 2:
        raise errors.Invalid("kmv_jaccard needs at least two sets")
    if len(sets) > max_sets:
        raise errors.Invalid(
            f"kmv_jaccard: {len(sets)} sets exceeds max_sets="
            f"{max_sets}; the pairwise stage is quadratic in |sets| "
            "— raise max_sets deliberately or pre-bucket the sets")
    # partner frame: each set maps to every unordered pair it joins
    set_type = dict(zip(sk.schema.names,
                        [f.dataType for f in sk.schema.fields]))["__set"]
    partner_schema = T.StructType([
        T.StructField("__set", set_type),
        T.StructField("__pa", set_type),
        T.StructField("__pb", set_type),
    ])
    partners = df.sparkSession.createDataFrame(
        [(s, min(s, t), max(s, t))
         for s in sets for t in sets if t != s],
        partner_schema)
    exploded = sk.join(F.broadcast(partners), "__set")
    per_hash = exploded.groupBy("__pa", "__pb", "__h").agg(
        F.countDistinct("__set").alias("__sides"))
    wu = Window.partitionBy("__pa", "__pb").orderBy("__h")
    union_sk = per_hash.withColumn("__rn", F.row_number().over(wu)) \
        .filter(F.col("__rn") <= k)
    return (
        union_sk.groupBy("__pa", "__pb")
        .agg(F.count("*").cast("long").alias("n_union_sketch"),
             F.sum((F.col("__sides") == 2).cast("long"))
             .cast("long").alias("n_both"))
        .select(
            F.col("__pa").alias("set_a"),
            F.col("__pb").alias("set_b"),
            "n_union_sketch", "n_both",
            F.round(F.col("n_both").cast("double")
                    / F.col("n_union_sketch"), round_to)
            .alias("est_jaccard"))
    )
