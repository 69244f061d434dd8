"""Deterministic dataset splitting / sampling for training pipelines.

``randomSplit`` is non-reproducible across runs, partitionings, and
engines; training-data curation needs splits that are (a) stable under
re-runs and repartitions, (b) a pure function of CONTENT, so a
near-duplicate-cleaned corpus keeps each document on a fixed side of
the train/eval fence even as unrelated rows come and go, and (c)
expressible in ANSI SQL for cross-engine verification.

Everything here derives from an int64 hash column the caller supplies
(typically the portable rolling-hash fingerprint from
``pipeline.text.rolling_hash_col`` — content-based — or an id-derived
hash).  Assignment is ``pmod(hash, 10_000)`` against cumulative
weight thresholds: pure Column arithmetic, zero shuffles — a 100 TB
split is a metadata-only map stage that Catalyst can collapse into
the scan's projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from loudml_spark import errors
from loudml_spark.session_cache import persist

SPLIT_MOD = 10_000


def split_bucket(key: Column) -> Column:
    """Stable bucket in [0, SPLIT_MOD) from an int64 hash column."""
    return F.pmod(key, F.lit(SPLIT_MOD))


def hash_split(
    df: DataFrame,
    *,
    key: Column,
    weights: dict[str, float],
    split_col: str = "split",
) -> DataFrame:
    """Assign every row a split label with proportions ``weights``
    (name → fraction, summing to 1), deterministically from ``key``.

    Rows land by cumulative threshold: with ``{"train": .8,
    "val": .1, "test": .1}``, buckets [0, 8000) → train,
    [8000, 9000) → val, [9000, 10000) → test.  Insertion order of
    ``weights`` fixes the layout — keep it stable across runs.
    """
    if not weights:
        raise errors.Invalid("weights must be non-empty")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise errors.Invalid(f"weights must sum to 1, got {total}")
    bucket = split_bucket(key)
    expr = None
    acc = 0.0
    for name, frac in weights.items():
        if frac < 0:
            raise errors.Invalid(f"negative weight for {name!r}")
        acc += frac
        hi = int(round(acc * SPLIT_MOD))
        cond = bucket < F.lit(hi)
        expr = F.when(cond, name) if expr is None else \
            expr.when(cond, name)
    # float-accumulation guard: the last threshold is exactly SPLIT_MOD
    # by the sum check, but keep an otherwise for bullet-proofing
    last = list(weights)[-1]
    return df.withColumn(split_col, expr.otherwise(last))


def deterministic_sample(
    df: DataFrame,
    *,
    key: Column,
    fraction: float,
) -> DataFrame:
    """Keep a stable ~``fraction`` of rows: ``pmod(key, 10000) <
    fraction·10000``.  Unlike ``df.sample``, re-runs, repartitions,
    and other engines (same SQL) select the SAME rows."""
    if not (0.0 < fraction <= 1.0):
        raise errors.Invalid("fraction must be in (0, 1]")
    return df.filter(split_bucket(key) < F.lit(int(round(
        fraction * SPLIT_MOD))))


def stratified_sample(
    df: DataFrame,
    *,
    key: Column,
    strat_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    keep_col: str = "keep",
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-mixing step of
    a training-data pipeline ("keep 30% of commoncrawl-like docs,
    100% of books-like docs"): each stratum (e.g. language, source)
    gets its own keep rate, applied by content-hash threshold so the
    decision is stable under re-runs, repartitions, and engines.

    Adds ``keep_col`` (boolean) rather than filtering, so the same
    frame serves both the sample and its audit; filter on it to
    materialize.  Pure Column arithmetic — zero shuffles, a 100 TB
    mix is a map stage."""
    for name, r in rates.items():
        if not (0.0 <= r <= 1.0):
            raise errors.Invalid(f"rate for {name!r} must be in [0, 1]")
    if not (0.0 <= default_rate <= 1.0):
        raise errors.Invalid("default_rate must be in [0, 1]")
    bucket = split_bucket(key)
    thresh = F.lit(int(round(default_rate * SPLIT_MOD)))
    for name, r in rates.items():
        thresh = F.when(
            F.col(strat_col) == F.lit(name),
            F.lit(int(round(r * SPLIT_MOD)))).otherwise(thresh)
    return df.withColumn(keep_col, bucket < thresh)


def temperature_rates(
    counts: dict[str, int], alpha: float,
) -> dict[str, float]:
    """Per-stratum keep rates for temperature-flattened mixing
    (mT5-style): kept counts become ∝ n_s^alpha by pure
    DOWNSAMPLING — rate_s = (n_s / n_min)^(alpha − 1), so the
    smallest stratum keeps everything and larger strata flatten
    toward it.  ``alpha = 1`` keeps the natural distribution;
    ``alpha = 0`` equalizes every stratum to the smallest's size (in
    expectation).  alpha > 1 would require upsampling — rejected.

    Driver-side float math ON PURPOSE: the rates become integer
    thresholds (round(rate·10000)) inlined as literals, so both
    engines compare against identical integers — a pow() evaluated
    independently per engine could flip a rounding tie."""
    if not (0.0 <= alpha <= 1.0):
        raise errors.Invalid("alpha must be in [0, 1]")
    if not counts:
        raise errors.Invalid("counts must be non-empty")
    if min(counts.values()) <= 0:
        raise errors.Invalid("stratum counts must be positive")
    n_min = min(counts.values())
    return {s: (n / n_min) ** (alpha - 1.0) for s, n in counts.items()}


def temperature_mix(
    df: DataFrame,
    *,
    key: Column,
    strat_col: str,
    alpha: float = 0.5,
    keep_col: str = "keep",
    counts: dict[str, int] | None = None,
) -> DataFrame:
    """Temperature-based corpus mixing: flatten the stratum (language
    / source) distribution toward uniform with temperature ``alpha``
    (kept sizes ∝ n_s^alpha — the mT5 mixing rule), realized as
    deterministic content-hash downsampling so the selection is
    stable under re-runs, repartitions, and engines.

    One column-pruned count aggregation discovers stratum sizes
    (|strata| rows collected — languages/sources number in the
    hundreds, bounded by design; pass ``counts`` to skip the scan);
    the rates then inline as literal thresholds into the same
    zero-shuffle ``stratified_sample`` comparison, so the mix itself
    is a map stage over 100 TB."""
    if counts is None:
        counts = {r[0]: r[1] for r in
                  df.groupBy(strat_col).count().collect()}
    # a NULL stratum can't key the equality comparison (and would
    # crash the rate math / skew n_min) — NULL-stratum rows fall to
    # default_rate = 1.0 (kept), matching the oracle's ELSE branch
    counts = {s: n for s, n in counts.items() if s is not None}
    # an all-NULL stratum column leaves no counts at all: every row is
    # a NULL-stratum row and falls to default_rate = 1.0 (kept), so
    # skip the rate math instead of tripping its non-empty validation
    rates = temperature_rates(counts, alpha) if counts else {}
    return stratified_sample(
        df, key=key, strat_col=strat_col, rates=rates,
        default_rate=1.0, keep_col=keep_col)


def pack_shards(
    df: DataFrame,
    *,
    token_col: str,
    budget: int,
    by: str | None = None,
    order_col: str = "doc_id",
    shard_col: str = "shard",
) -> DataFrame:
    """Assign documents to token-budget shards — the corpus→training-
    shard assembly step: walking documents in ``order_col`` order,
    document d lands in shard ``floor(tokens_before_d / budget)``, so
    every shard holds ~``budget`` tokens (the straddling document is
    charged to the shard it starts in — the standard contiguous
    packing rule; no shard-boundary document splitting here).

    ``by`` partitions the packing (per language/source): REQUIRED at
    scale — an unpartitioned running sum is a single-partition window
    (all rows through one task).  With ``by=None`` the packing is
    global and only fit for bounded frames; callers at corpus scale
    pack within strata and concatenate shard lists after.

    Adds ``shard_col`` (long) and ``shard_offset`` (tokens before
    this doc within its shard).  Deterministic.
    """
    from pyspark.sql import Window

    if budget <= 0:
        raise errors.Invalid("budget must be positive")
    w = (Window.partitionBy(by) if by else Window.partitionBy()) \
        .orderBy(order_col) \
        .rowsBetween(Window.unboundedPreceding, -1)
    before = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    shard = F.floor(before / F.lit(int(budget)))
    return (
        df.withColumn(shard_col, shard)
        .withColumn("shard_offset",
                    before - shard * F.lit(int(budget)))
    )


def sample_exact_k(
    df: DataFrame,
    *,
    key: Column,
    k: int,
    order_col: str,
    by: "tuple[str, ...] | list[str]" = (),
    rank_col: str | None = None,
) -> DataFrame:
    """EXACTLY-k-per-stratum deterministic sample (eval-set carving:
    "give me 500 docs per language, the same 500 every run"):
    rows rank by (content-hash bucket, ``order_col``) within each
    ``by`` stratum and the first ``k`` survive.  Unlike a
    fraction-based sample the size is exact, and unlike ``LIMIT`` the
    choice is content-stable — adding unrelated rows can displace at
    most the boundary ranks.

    ``order_col`` must be a unique column (e.g. the id): it breaks
    hash-bucket ties so the rank is a total order and the selection
    deterministic across engines.

    Scale shape: one shuffle on the ``by`` keys; each stratum sorts
    in its own partition(s) — strata parallelize, and the sort is
    bounded by the largest stratum, not the corpus.  The unkeyed
    form is a single global sort: bounded inputs only.  Returns the
    input columns plus the 1-based rank (``rank_col``, default
    dropped) filtered to rank ≤ k.
    """
    from pyspark.sql import Window

    if k < 1:
        raise errors.Invalid("k must be >= 1")
    if order_col not in df.columns:
        raise errors.Invalid(f"missing order column {order_col!r}")
    by = list(by)
    w = (Window.partitionBy(*by) if by else Window.partitionBy()) \
        .orderBy(split_bucket(key), F.col(order_col))
    out = df.withColumn("__rank", F.row_number().over(w)) \
        .filter(F.col("__rank") <= k)
    if rank_col:
        return out.withColumnRenamed("__rank", rank_col)
    return out.drop("__rank")


def pack_sequences(
    df: DataFrame,
    *,
    token_col: str,
    seq_len: int,
    by: str | None = None,
    order_col: str = "doc_id",
) -> DataFrame:
    """GPT-style contiguous sequence packing — the complement of
    :func:`pack_shards`: documents concatenate in ``order_col`` order
    into one token stream that is CUT every ``seq_len`` tokens, so a
    document straddling a window boundary SPLITS across training
    sequences (the standard pretraining packing rule; pack_shards
    instead charges the whole straddler to the shard it starts in).

    Output: one row per (document × window it intersects) —
    ``seq_id`` (the training sequence), ``offset_in_seq`` (where this
    piece begins inside the window), ``tok_begin``/``tok_end`` (the
    half-open token slice of the DOCUMENT carried by this window).
    Pieces tile each document exactly: tok spans concatenate to
    [0, n_tokens) with no gaps, and every window except a stratum's
    last holds exactly ``seq_len`` tokens.  Zero-token documents emit
    no rows.  All arithmetic is int64 — deterministic and
    engine-portable.

    ``by`` partitions the packing (per language/source): REQUIRED at
    scale, same single-partition-window caveat as pack_shards.  The
    boundary-window explode adds ≤ 1 + n_tokens/seq_len rows per
    document — bounded fan-out, map-side.
    """
    from pyspark.sql import Window

    if seq_len <= 0:
        raise errors.Invalid("seq_len must be positive")
    w = (Window.partitionBy(by) if by else Window.partitionBy()) \
        .orderBy(order_col) \
        .rowsBetween(Window.unboundedPreceding, -1)
    L = F.lit(int(seq_len))
    start = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    end = start + F.col(token_col)
    # two steps: the window expressions materialize first, THEN the
    # generator explodes over plain columns (Spark rejects a window
    # function and a generator in the same projection)
    out = (
        df.filter(F.col(token_col) > 0)
        .withColumn("__start", start)
        .withColumn("__end", end)
    )
    out = out.withColumn(
        "seq_id",
        F.explode(F.sequence(
            F.floor(F.col("__start") / L),
            F.floor((F.col("__end") - F.lit(1)) / L),
        )),
    )
    piece_begin = F.greatest(F.col("__start"), F.col("seq_id") * L)
    piece_end = F.least(F.col("__end"), (F.col("seq_id") + 1) * L)
    return (
        out.withColumn("offset_in_seq", piece_begin - F.col("seq_id") * L)
        .withColumn("tok_begin", piece_begin - F.col("__start"))
        .withColumn("tok_end", piece_end - F.col("__start"))
        .drop("__start", "__end")
    )


def group_split(
    df: DataFrame,
    *,
    group_key: Column,
    weights: dict[str, float],
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test split: every row sharing
    ``group_key`` (domain, source, author, near-dup cluster id) lands
    on the SAME side of the fence, so evaluation never sees a group
    that also feeds training — the standard guard against
    contamination-by-relatedness that a row-level split cannot give.

    The group key hashes once per row (``group_key`` is typically a
    portable string/int64 hash column such as
    ``pipeline.text.rolling_hash_col(F.col("source"))``); assignment
    reuses :func:`hash_split`'s cumulative-threshold rule, so the
    split is a pure function of group CONTENT — stable under re-runs,
    repartitions, engines, and unrelated row churn.  Zero shuffles:
    at 100 TB this is still a map stage folded into the scan
    projection (no groupBy — the hash of the group VALUE is the
    group's identity; rows never need to meet)."""
    return hash_split(df, key=group_key, weights=weights,
                      split_col=split_col)


def weighted_keep(
    df: DataFrame,
    *,
    key: Column,
    weight: Column,
    scale: float,
    keep_col: str = "keep",
) -> DataFrame:
    """Per-row weighted Bernoulli (Poisson) sampling: row i survives
    with probability ``min(1, weight_i · scale)`` — importance
    RESAMPLING, the second half of DSIR-style data selection (compute
    importance weights, then keep rows proportionally to them).

    The coin is the caller's deterministic hash ``key`` against a
    per-row threshold, so the decision is (a) reproducible across
    runs/partitionings/engines, (b) independent across rows (no
    global normalization pass), and (c) pure Column arithmetic —
    zero shuffles, a 100 TB resample is a map stage.  Adds
    ``keep_col`` (boolean) rather than filtering, so one frame serves
    the sample and its audit.  NULL weights never survive (their
    threshold is NULL → keep = false)."""
    if scale <= 0:
        raise errors.Invalid("scale must be positive")
    # least() SKIPS nulls (least(1.0, NULL) = 1.0), which would turn a
    # NULL weight into certain survival — gate on non-null explicitly
    thresh = F.when(
        weight.isNotNull(),
        F.least(F.lit(1.0), weight * F.lit(float(scale)))
        * F.lit(SPLIT_MOD))
    return df.withColumn(
        keep_col, F.coalesce(split_bucket(key) < thresh, F.lit(False)))


def length_batches(
    df: DataFrame,
    *,
    token_col: str,
    batch_size: int,
    by: "tuple[str, ...] | list[str]" = (),
    order_col: str = "doc_id",
    sort_by_length: bool = True,
    batch_col: str = "batch",
) -> DataFrame:
    """Length-bucketed batching — the padding-minimization step of a
    training dataloader: documents sort by token count within each
    stratum and cut into ``batch_size`` groups, so every batch holds
    near-equal lengths and pads almost nothing (a batch's cost is
    n·max(len); mixed lengths burn the gap as pad tokens).

    ``sort_by_length=False`` batches in ``order_col`` (arrival)
    order instead — the baseline whose padding waste quantifies what
    length-sorting saves; both orderings tie-break on ``order_col``
    so batches are deterministic.  Adds ``batch_col``; the per-batch
    padding audit is exact integer arithmetic downstream
    (waste = n·max − Σlen).  One shuffle on the stratum keys; the
    rank window rides it (per-stratum series bounded by corpus/|strata|
    — sort within strata, the pack_shards discipline)."""
    from pyspark.sql import Window

    if batch_size <= 0:
        raise errors.Invalid("batch_size must be positive")
    order = ([F.col(token_col), F.col(order_col)] if sort_by_length
             else [F.col(order_col)])
    w = (Window.partitionBy(*by) if by else Window.partitionBy()) \
        .orderBy(*order)
    rn = F.row_number().over(w)
    return df.withColumn(
        batch_col,
        F.floor((rn - F.lit(1)) / F.lit(int(batch_size)))
        .cast("long"))


def padding_waste(
    df: DataFrame,
    *,
    token_col: str,
    by: "tuple[str, ...] | list[str]" = (),
    batch_col: str = "batch",
) -> DataFrame:
    """Per-stratum padding audit of batched documents: every batch
    pads to its max length, so waste = Σ_batches (n·max − Σlen) —
    exact integers.  Output per ``by`` key: (n_batches, n_docs,
    pad_tokens, real_tokens)."""
    per_batch = df.groupBy(*by, batch_col).agg(
        F.count("*").alias("__n"),
        F.max(token_col).alias("__mx"),
        F.sum(token_col).alias("__sum"),
    )
    return per_batch.groupBy(*by).agg(
        F.count("*").alias("n_batches"),
        F.sum("__n").alias("n_docs"),
        F.sum(F.col("__n") * F.col("__mx") - F.col("__sum"))
        .alias("pad_tokens"),
        F.sum("__sum").alias("real_tokens"),
    )


def token_budget_mix(
    df: DataFrame,
    *,
    budget: int,
    max_epochs: float = 3.0,
    source_col: str = "source",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Epoch-capped token-budget allocation across corpus sources —
    the data-mixing decision every large pretraining run makes (the
    Pile / LLaMA style: aim for UNIFORM source proportions, but never
    repeat a small source more than ``max_epochs`` times).  Each
    source's allocation is

        alloc_i = min(cap_i, lam),   cap_i = max_epochs * tok_i

    with the water level ``lam`` (tokens per source) chosen so
    Σ alloc = budget — exact closed-form water-filling, no iteration:
    sources sorted by cap saturate greedily while the remaining
    budget spread over the remaining sources still exceeds their cap.
    If even every cap together can't meet the budget, all sources cap
    and the shortfall is visible as Σ alloc < budget.

    Returns one row per source: ``(source, tokens, cap, saturated,
    alloc, epochs)`` with alloc/epochs rounded at ``round_to``.

    Scale shape: ONE map-side-combined aggregation reduces the corpus
    to |sources| rows (tens); the water-filling windows run on that
    bounded dimension frame — a single-partition sort of tens of
    rows, the same bounded-dimension argument as the split/mix
    operators.  Exactness: token counts and source counts are
    integers; caps are exact doubles whenever ``max_epochs`` is
    dyadic (0.5, 1.0, 1.5, 2.0 ...), so every cumulative sum is
    addition-order-independent and the saturation decisions are
    bit-stable cross-engine; only lam itself is one IEEE division.
    """
    from pyspark.sql import Window

    if budget <= 0:
        raise errors.Invalid(f"budget must be > 0, got {budget}")
    if max_epochs <= 0:
        raise errors.Invalid(
            f"max_epochs must be > 0, got {max_epochs}")
    from loudml_spark.pipeline.text import token_count_col

    toks = df.groupBy(F.col(source_col).alias("source")).agg(
        F.sum(token_count_col(F.col(text_col))).cast("long")
        .alias("tokens"))
    # bounded dimension frame from here on (|sources| rows)
    toks = toks.withColumn(
        "cap", (F.lit(float(max_epochs)) * F.col("tokens")))
    n = Window.partitionBy()
    order = Window.partitionBy().orderBy("cap", "source")
    prev = order.rowsBetween(Window.unboundedPreceding, -1)
    toks = (
        toks.withColumn(
            "cum_c", F.coalesce(F.sum("cap").over(prev), F.lit(0.0)))
        .withColumn(
            "n_prev",
            F.coalesce(F.count("*").over(prev), F.lit(0)))
        .withColumn("n_src", F.count("*").over(n))
    )
    # source saturates iff the water level with all smaller sources
    # already saturated still covers its own cap
    sat = (F.col("cap") * (F.col("n_src") - F.col("n_prev"))
           <= F.lit(float(budget)) - F.col("cum_c"))
    toks = toks.withColumn("saturated", sat)
    rem_budget = (F.lit(float(budget))
                  - F.sum(F.when(sat, F.col("cap"))
                          .otherwise(0.0)).over(n))
    rem_cnt = F.sum(F.when(~sat, F.lit(1)).otherwise(0)).over(n)
    lam = F.when(rem_cnt > 0, rem_budget / rem_cnt)
    alloc = F.when(sat, F.col("cap")).otherwise(
        F.least(lam, F.col("cap")))
    return toks.select(
        "source", "tokens",
        F.round("cap", round_to).alias("cap"),
        "saturated",
        F.round(alloc, round_to).alias("alloc"),
        F.round(alloc / F.col("tokens"), round_to).alias("epochs"),
    )


def weighted_sample_k(
    df: DataFrame,
    *,
    k: int,
    weight_col,
    key_col,
    id_col: str = "doc_id",
    round_to: int = 12,
) -> DataFrame:
    """Exact weighted sampling WITHOUT replacement of k rows —
    Efraimidis–Spirakis (A-ES, IPL 2006): give every row the key
    ``u^(1/w)`` with u uniform in (0,1) and keep the k largest; the
    result is distributed exactly as sequential weighted draws
    without replacement.  The distributed shape is the whole point:
    top-k by key is ``orderBy(...).limit(k)`` → TakeOrderedAndProject
    (per-task k-row heaps, driver merge) — ONE pass, no global sort,
    no sequential draws, which is why this algorithm IS how weighted
    reservoir sampling is done on clusters.

    Determinism/portability: u derives from the caller's int64
    ``key_col`` (content hash → reproducible under re-runs AND
    re-partitionings) via the quadratic scramble, u = (scr + 1) /
    (p + 1) ∈ (0, 1); the es_key rounds at ``round_to`` before
    ranking with the id as tie-break, so selection is bit-stable
    cross-engine (pow is libm — the last ulp is not portable, the
    rounded key is).  Zero/negative weights are rejected rows (a
    zero-weight row must never be drawn).

    Returns the k selected rows: ``(id_col, weight, es_key, rank)``.
    """
    from pyspark.sql import Window

    from loudml_spark.pipeline.text import HASH_MOD, scramble_col

    if k < 1:
        raise errors.Invalid(f"k must be >= 1, got {k}")
    w = weight_col if isinstance(weight_col, Column) else F.col(weight_col)
    key = key_col if isinstance(key_col, Column) else F.col(key_col)
    u = (scramble_col(key) + 1) / F.lit(float(HASH_MOD + 1))
    es = F.round(
        F.pow(u, F.lit(1.0) / w.cast("double")), round_to)
    base = (
        df.filter(w > 0)
        .select(F.col(id_col), w.cast("double").alias("weight"),
                es.alias("es_key"))
    )
    top = base.orderBy(
        F.col("es_key").desc(), F.col(id_col).asc()).limit(k)
    # rank assignment on the k collected-size frame (bounded window)
    win = Window.partitionBy().orderBy(
        F.col("es_key").desc(), F.col(id_col).asc())
    return top.withColumn(
        "rank", F.row_number().over(win).cast("int"))


def excess_loss_weights(
    df: DataFrame,
    *,
    domain_col: str = "source",
    loss_col: str = "loss",
    size_col: str = "n_tokens",
    eta: float = 1.0,
) -> DataFrame:
    """One-shot DoReMi-style domain reweighting (Xie et al. 2023,
    arXiv 2305.10429, simplified): upweight domains whose mean loss
    EXCEEDS the corpus baseline — the first Group-DRO ascent step
    with a fixed proxy scorer, not the paper's full iterative
    minimax (which needs proxy-model retraining between steps; the
    decision shape — excess loss moves the mixture — is the same).

    Input is per-document ``(domain_col, loss_col, size_col)`` —
    any loss proxy works (the catalog feeds unigram perplexity).
    Returns one row per domain: ``(domain, n_docs, n_tokens,
    mean_loss, excess, share, weight)`` where ``share`` is the
    domain's token share, ``boost = exp(eta·excess/baseline)`` and
    ``weight ∝ share·boost`` normalized over domains.

    Scale shape: ONE map-side-combined groupBy reduces the corpus to
    |domains| rows; the baseline and token total are a 1-row
    aggregate collected to driver literals (a 1-row constant join
    would plan as BroadcastNestedLoopJoin — the lm_perplexity
    idiom); normalization is a window over the bounded domain frame
    (the documented bounded-dimension carve-out).

    Determinism: losses round at 6 dp into DECIMAL(18,6) sums
    (order-independent); shares are ratios of exact integers; exp()
    is libm whose last ulp is not engine-portable, so boost and
    weight round at 9 dp — the lm_score discipline.
    """
    from pyspark.sql import Window

    if eta < 0:
        raise errors.Invalid(f"eta must be >= 0, got {eta}")
    loss_dec = F.round(F.col(loss_col), 6).cast("decimal(18,6)")
    # ONE corpus pass: reduce to the |domains| frame first (carrying
    # the exact DECIMAL loss sums), persist it, and derive the
    # global baseline FROM it — Σ_domains sum_d is the same exact
    # DECIMAL total as the previous whole-frame probe (addition is
    # exact and order-independent), so baseline/total_tokens are
    # bit-identical while the corpus-scan count drops from two to
    # one (guide §2.4: aggregate before you probe).
    per0 = df.groupBy(domain_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(size_col).cast("long").alias("n_tokens"),
        F.sum(loss_dec).alias("__sum_loss"),
        F.sum(size_col).alias("__tok_raw"))
    per0 = persist(per0)
    g = per0.agg(
        F.round(F.sum("__sum_loss").cast("double")
                / F.sum("n_docs"), 6).alias("baseline"),
        F.sum("__tok_raw").alias("tok")).first()
    if g["tok"] is None:
        raise errors.Invalid("corpus is empty")
    baseline = float(g["baseline"])
    total_tokens = int(g["tok"])
    per = per0.select(
        domain_col, "n_docs", "n_tokens",
        F.round(F.col("__sum_loss").cast("double") / F.col("n_docs"), 6)
        .alias("mean_loss"))
    excess = F.round(F.greatest(
        F.col("mean_loss") - F.lit(baseline), F.lit(0.0)), 6)
    per = per.withColumn("excess", excess).withColumn(
        "share",
        F.round(F.col("n_tokens") / F.lit(float(total_tokens)), 9))
    boost = F.round(F.exp(
        F.lit(float(eta)) * F.col("excess") / F.lit(baseline)), 9)
    per = per.withColumn(
        "__score", F.round(F.col("share") * boost, 9))
    tot = F.sum(F.col("__score").cast("decimal(28,9)")) \
        .over(Window.partitionBy()).cast("double")
    return per.select(
        domain_col, "n_docs", "n_tokens", "mean_loss", "excess",
        "share",
        F.round(F.col("__score") / tot, 9).alias("weight"))


def rank_normalize(
    df: DataFrame,
    *,
    score_col: str,
    by: "str | list[str]",
    keep_frac: float | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Within-group percent-rank normalization of a score — the
    cross-source calibration step before any global quality
    threshold: every source's raw score distribution differs (a
    curated feed's median beats a crawl's p90), so thresholding raw
    scores starves whole sources; thresholding the WITHIN-SOURCE
    percent rank selects the same fraction from each source by
    construction.

    ``pct_rank = (rank − 1) / (n − 1)`` (SQL PERCENT_RANK: ties
    share a rank; single-row groups get 0).  With ``keep_frac``
    given, a ``selected`` flag marks ``pct_rank ≥ 1 − keep_frac`` —
    the top ``keep_frac`` of every group.

    Scale shape: one shuffle on the group key + a per-group sort —
    the exact-quantile cost class (largest group bounds the
    partition; the documented approximate alternative for skewed
    sources is percentile_approx cutoffs, ccnet_ppl_buckets'
    pattern).  percent_rank is a pure rank function of integer
    positions, so results are engine-exact; it rounds at
    ``round_dp`` only to keep the column hash-stable.

    Output: df columns + pct_rank (+ selected)."""
    from pyspark.sql import Window

    by = [by] if isinstance(by, str) else list(by)
    if not by:
        raise errors.Invalid("rank_normalize needs at least one group col")
    for c in [score_col, *by]:
        if c not in df.columns:
            raise errors.Invalid(f"missing column {c!r}")
    if keep_frac is not None and not 0.0 < keep_frac <= 1.0:
        raise errors.Invalid(
            f"keep_frac must be in (0, 1], got {keep_frac}")
    w = Window.partitionBy(*by).orderBy(F.col(score_col).asc())
    out = df.withColumn(
        "pct_rank", F.round(F.percent_rank().over(w), round_dp))
    if keep_frac is not None:
        out = out.withColumn(
            "selected",
            F.col("pct_rank") >= F.lit(1.0 - float(keep_frac)))
    return out
