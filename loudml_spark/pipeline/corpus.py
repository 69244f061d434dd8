"""Corpus-level lexical statistics — vocabulary and TF-IDF.

The foundational batch jobs of an LLM-training-data pipeline: build
the corpus vocabulary (token → frequency) and score document terms
with TF-IDF.  Everything is expressed as explode → groupBy so Spark
runs it with map-side partial aggregation (a token appearing 10⁹
times contributes ONE partial count per task, not 10⁹ shuffled
rows) — the word-count shuffle moves |vocab|·|tasks| rows at most,
independent of corpus size.

Top-k selection uses ``orderBy(...).limit(k)``, which Spark plans as
TakeOrderedAndProject: each task keeps a k-row heap and the driver
merges heaps — no global sort shuffle.  Ordering ties break on the
token string, so results are deterministic across engines.

Tokenization is ``regexp_extract_all(lower(text), '[a-z]+')`` —
deliberately the simplest cross-engine-reproducible scheme (the same
call exists verbatim in DuckDB for the oracle).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loudml_spark.session_cache import persist

TOKEN_RE = "[a-z]+"


def tokens(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id",
    n: int = 1,
) -> DataFrame:
    """Explode documents into (id, token) rows; ``n > 1`` emits word
    n-grams (space-joined) instead of unigrams — same map-only shape,
    the array slicing pipelines inside the scan stage."""
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0)
    if n > 1:
        from loudml_spark.pipeline.text import let_col

        # let-bind the token array: referenced inside the per-index
        # lambda, where codegen would otherwise re-run the regex
        # extraction per gram (O(len²) per row — see let_col)
        toks = let_col(toks, lambda t: F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - n),
                lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>")))
    return df.select(
        F.col(id_col),
        F.explode(toks).alias("token"),
    )


def token_divergence(
    df_a: DataFrame,
    df_b: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
) -> DataFrame:
    """Per-token Jensen-Shannon divergence contributions between two
    corpus slices — the TEXT analogue of the numeric PSI drift score:
    which tokens' frequencies moved between snapshots/sources, and by
    how much.

    Returns (token, p, q, js_contrib): p/q are the token's relative
    frequencies in each side (exact rationals), ``js_contrib`` =
    ½(p·ln(p/m) + q·ln(q/m)) with m = (p+q)/2, zero-sided terms
    contribute 0 — JS needs no epsilon smoothing and Σ js_contrib ∈
    [0, ln 2].  Scale: both sides reduce map-side to |vocab| counts;
    the only joins move vocab-sized aggregates.  ``js_contrib``
    rounds to 9 dp (ln is libm — the last ulp is not engine-portable;
    p and q are exact and stay unrounded)."""
    def dist(df, name):
        t = tokens(df, text_col=text_col, id_col=id_col, n=n)
        c = t.groupBy("token").agg(F.count("*").alias("__c"))
        # c (vocab-sized) feeds the eager total probe AND the output
        # frame — persist so each side tokenizes once (the
        # bigram_perplexity cu/cb precedent)
        c = persist(c)
        total = c.agg(F.sum("__c")).first()[0] or 1
        return c.select(
            "token", (F.col("__c") / F.lit(float(total))).alias(name))

    a = dist(df_a, "p")
    b = dist(df_b, "q")
    j = (
        a.join(b, "token", "full_outer")
        .select(
            "token",
            F.coalesce("p", F.lit(0.0)).alias("p"),
            F.coalesce("q", F.lit(0.0)).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / F.lit(2.0)
    term_p = F.when(F.col("p") > 0,
                    F.col("p") * F.log(F.col("p") / m)).otherwise(0.0)
    term_q = F.when(F.col("q") > 0,
                    F.col("q") * F.log(F.col("q") / m)).otherwise(0.0)
    return j.withColumn(
        "js_contrib",
        F.round(F.lit(0.5) * (term_p + term_q), 9))


def vocabulary(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int | None = None,
) -> DataFrame:
    """Corpus vocabulary: ``token``, ``tf`` (total occurrences),
    ``df`` (documents containing it), deterministically ordered by
    (tf desc, token asc) and optionally truncated to ``top_k``."""
    t = tokens(df, text_col=text_col, id_col=id_col)
    # per-(doc, token) first: the df count then needs no count-distinct
    # (a second full shuffle of raw occurrences) — just a count of the
    # already-reduced pairs.
    per_doc = t.groupBy(id_col, "token").agg(F.count("*").alias("tf_doc"))
    vocab = per_doc.groupBy("token").agg(
        F.sum("tf_doc").alias("tf"), F.count("*").alias("df")
    )
    vocab = vocab.orderBy(F.desc("tf"), F.asc("token"))
    return vocab.limit(top_k) if top_k is not None else vocab


def bpe_pair_counts(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int | None = None,
) -> DataFrame:
    """Adjacent-symbol pair frequencies over the corpus — the core
    statistic of a BPE tokenizer trainer: each merge step takes the
    argmax pair, so the top row IS the next merge and the ranked
    table is the trainer's priority queue for this iteration.

    Two-level aggregation, the trick every real BPE trainer uses:
    occurrences reduce to a WORD-FREQUENCY table first (vocab-sized,
    map-side combined), and only distinct words explode into their
    character pairs (weight = word count) — pair fan-out scales with
    |vocab|·avg_len, not corpus tokens, so a 100 TB corpus pays one
    token-shuffle and the pair stage is sublinear.  Pure Column math:
    substring over a sequence index, no Python.  Output: ``pair``
    (2-char string), ``n`` (total weighted occurrences),
    deterministically ordered by (n desc, pair asc); single-char
    words contribute nothing."""
    t = tokens(df, text_col=text_col, id_col=id_col)
    wf = t.groupBy("token").agg(F.count("*").alias("c"))
    w = F.col("token")
    pairs = F.transform(
        F.sequence(F.lit(1), F.length(w) - 1),
        lambda i: F.substring(w, i, F.lit(2)),
    )
    out = (
        wf.filter(F.length(w) >= 2)
        .select(F.explode(pairs).alias("pair"), "c")
        .groupBy("pair").agg(F.sum("c").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
    )
    return out.limit(top_k) if top_k is not None else out


def zipf_fit(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 1000,
) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS of ln(tf) on
    ln(rank) for the ``top_k`` most frequent tokens.  A healthy
    natural-language corpus fits slope ≈ −1; a collapsed slope flags
    boilerplate/template floods, a steepened one vocabulary collapse
    (e.g. deduplication gone wrong) — a one-row corpus-health gauge.

    Returns one row: ``n`` (tokens fitted), ``slope``, ``intercept``,
    ``r2``.  The rank window is a single-partition sort but runs on
    the vocab-bounded top-k frame (TakeOrderedAndProject feeds it),
    never the corpus.  Float parity discipline: ln() values quantize
    at 6 dp into DECIMAL(18,6) BEFORE the moment sums (exact decimal
    arithmetic), so the fit is bit-identical across engines and
    partitionings; final stats round at 6 dp (+0.0 collapses −0.0).
    Degenerate fits (n < 2 or zero x-variance) yield NULL slope via
    try_divide semantics instead of an ANSI divide-by-zero."""
    from pyspark.sql import Window

    from loudml_spark import errors

    if top_k < 1:
        raise errors.Invalid("top_k must be positive")
    vocab = vocabulary(df, text_col=text_col, id_col=id_col,
                       top_k=top_k)
    rank = F.row_number().over(
        Window.orderBy(F.desc("tf"), F.asc("token")))
    q = lambda c: F.round(c, 6).cast("decimal(18,6)")  # noqa: E731
    xy = vocab.select(
        q(F.log(rank.cast("double"))).alias("x"),
        q(F.log(F.col("tf").cast("double"))).alias("y"),
    )
    m = xy.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # exact decimal sums cast to double once, then IEEE arithmetic —
    # deterministic and portable (only ln() above is transcendental)
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    slope = F.try_divide(cov, vx)
    r6 = lambda c: F.round(c, 6) + F.lit(0.0)  # noqa: E731
    return m.select(
        F.col("n"),
        r6(slope).alias("slope"),
        r6(F.try_divide(sy - slope * sx, n)).alias("intercept"),
        r6(F.try_divide(cov * cov, vx * vy)).alias("r2"),
    )


def inverted_index(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
    max_postings: int | None = None,
) -> DataFrame:
    """Posting lists: ``token``, ``df`` (distinct docs), ``postings``
    (sorted doc-id array) — the search-index build step.

    One shuffle on (id, token) to dedupe occurrences, one on token to
    assemble lists (both ride map-side partial aggregation).  Sorted
    arrays make output deterministic.  Posting-list length is bounded
    by the corpus' document count, not its token count, but
    stop-word rows still dominate: ``min_df`` drops hapax noise and
    ``max_postings`` truncates (keeping the SMALLEST ids —
    deterministic) for engines that cap row width; real deployments
    shard long lists instead.
    """
    t = tokens(df, text_col=text_col, id_col=id_col).distinct()
    idx = t.groupBy("token").agg(
        F.count("*").alias("df"),
        F.sort_array(F.collect_list(id_col)).alias("postings"),
    )
    if min_df > 1:
        idx = idx.filter(F.col("df") >= min_df)
    if max_postings is not None:
        idx = idx.withColumn(
            "postings", F.slice("postings", 1, max_postings))
    return idx


def tf_idf(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_docs: int | None = None,
) -> DataFrame:
    """Smoothed TF-IDF per (document, token):
    ``tf/doc_len · (ln((1+N)/(1+df)) + 1)`` (sklearn's smooth-idf).

    Returns ``id_col, token, tf, doc_len, df, tfidf``.  The doc-count
    N is a scalar: pass it if known, else it is computed eagerly with
    one column-pruned distinct-count pass and inlined as a literal.
    (Attaching it as a 1-row cross/constant-key join instead plans as
    BroadcastNestedLoopJoin — Catalyst folds a constant join key away
    — which would break the catalog's no-nested-loop invariant; a
    scalar distributed count is the cheaper, idiomatic shape.)
    """
    if n_docs is None:
        n_docs = df.select(id_col).distinct().count()
    t = tokens(df, text_col=text_col, id_col=id_col)
    per_doc = t.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    doc_len = per_doc.groupBy(id_col).agg(F.sum("tf").alias("doc_len"))
    dfreq = per_doc.groupBy("token").agg(F.count("*").alias("df"))
    out = per_doc.join(doc_len, id_col).join(dfreq, "token")
    idf = F.log(
        (F.lit(1.0) + F.lit(float(n_docs))) / (F.lit(1.0) + F.col("df"))
    ) + F.lit(1.0)
    return out.select(
        id_col,
        "token",
        "tf",
        "doc_len",
        "df",
        ((F.col("tf") / F.col("doc_len")) * idf).alias("tfidf"),
    )


# ------------------------------------------------------------- CMS

# per-depth affine constants for the count-min hash family — shared
# verbatim by the SQL oracle (portable integer arithmetic)
CMS_A = (1299721, 1299827, 1299833, 1299841)
CMS_B = (15485863, 15485867, 15485917, 15485927)


def _word_hash_col(col):
    """The corpus rolling hash (dedup.py parity-proven vs _sql_rh)."""
    from loudml_spark.pipeline.dedup import HASH_MOD

    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % F.lit(HASH_MOD),
    )


def _cms_bucket(h, d: int, width: int):
    from loudml_spark.pipeline.dedup import HASH_MOD

    return ((h * F.lit(CMS_A[d]) + F.lit(CMS_B[d])) % F.lit(HASH_MOD)) \
        % F.lit(width)


def cms_counters(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-min sketch of corpus token frequencies: ``depth``
    independent hashed histograms of ``width`` buckets.  State is
    depth × width counters REGARDLESS of vocabulary size — the
    sub-linear third sketch next to HLL (distinct) and the quantile
    sketches, and like them map-side combinable and mergeable (two
    sketches add cell-wise).  Deterministic integer arithmetic, so
    an external engine rebuilds the identical sketch."""
    if depth < 1 or depth > len(CMS_A):
        raise ValueError(f"depth must be 1..{len(CMS_A)}")
    t = tokens(df, text_col=text_col, id_col=id_col)
    h = _word_hash_col(F.col("token"))
    pairs = t.select(h.alias("__h")).select(
        F.explode(F.array(*[
            F.struct(
                F.lit(d).alias("d"),
                _cms_bucket(F.col("__h"), d, width).alias("bucket"),
            )
            for d in range(depth)
        ])).alias("p")
    ).select("p.*")
    return pairs.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("n"))


def cms_estimate(
    counters: DataFrame,
    candidates: DataFrame,
    *,
    token_col: str = "token",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-query the sketch: per candidate token the min over the
    depth counters — never an undercount (every row counts the true
    occurrences plus collisions).  The bounded counter table
    broadcasts; candidates keep their other columns."""
    h = _word_hash_col(F.col(token_col))
    cb = candidates.withColumn("__h", h).select(
        "*",
        F.explode(F.array(*[
            F.struct(
                F.lit(d).alias("d"),
                _cms_bucket(F.col("__h"), d, width).alias("bucket"),
            )
            for d in range(depth)
        ])).alias("p"),
    ).select(*candidates.columns, "p.d", "p.bucket")
    # LEFT join + 0 for untouched buckets: a token the corpus never
    # produced must estimate as min(..., 0) = 0, not vanish because
    # its counter rows were never materialized
    joined = cb.join(F.broadcast(counters), ["d", "bucket"], "left")
    return joined.groupBy(*candidates.columns).agg(
        F.min(F.coalesce(F.col("n"), F.lit(0))).alias("cms_estimate"))


def lm_score(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
) -> DataFrame:
    """Unigram language-model quality score — the classic LM-based
    quality proxy of web-corpus filters (CCNet-style perplexity
    filtering, at unigram fidelity): score each document by the mean
    log-probability of its tokens under an add-one-smoothed unigram
    model fit on the corpus itself.  Natural prose made of common
    tokens scores high; rare-token soup and gibberish score low; the
    per-document out-of-vocabulary rate comes along for free.

    Model: vocabulary = top ``vocab_size`` tokens by (tf desc, token
    asc) — the same deterministic cut as :func:`vocabulary`;
    p(tok) = (tf + 1) / (N + V + 1) in-vocab, 1 / (N + V + 1) OOV,
    with N = total corpus token count (OOV occurrences included) and
    V = |vocab| actually kept.

    Scale shape: ONE token-count shuffle (map-side combined, bounded
    by |vocab|·|tasks| rows regardless of corpus size); N and the
    ≤``vocab_size``-row model are reduced from that frame and the
    model is collected to the driver (bounded by ``vocab_size`` — the
    IVF-centroid practice) and BROADCAST back onto the exploded
    tokens, so scoring is map-side; one per-document aggregation and
    a final id-equi-join against the input to keep zero-token
    documents ends the plan.  Nothing driver-side ever scales with
    the corpus.

    Float discipline: ln is libm (last ulp is not engine-portable),
    so ``avg_logp`` rounds to 6 dp; ``oov_rate`` is a single IEEE
    division of exact integers (bit-identical everywhere) and stays
    unrounded.

    Returns (id_col, n_tokens, n_oov, oov_rate, avg_logp); zero-token
    documents keep NULL rate/score.
    """
    if vocab_size < 1:
        raise ValueError("vocab_size must be >= 1")
    toks = tokens(df, text_col=text_col, id_col=id_col)
    counts = toks.groupBy("token").agg(F.count("*").alias("tf"))
    counts = counts.persist()
    try:
        n_total = counts.agg(F.sum("tf")).first()[0] or 0
        top = counts.orderBy(F.desc("tf"), F.asc("token")) \
            .limit(vocab_size).collect()
    finally:
        counts.unpersist()
    v_kept = len(top)
    denom = float(n_total + v_kept + 1)
    spark = df.sparkSession
    if top:
        model = spark.createDataFrame(
            [(r["token"], int(r["tf"])) for r in top],
            "token string, tf long",
        ).select("token", F.log((F.col("tf") + 1) / F.lit(denom))
                 .alias("logp"))
    else:
        model = spark.createDataFrame([], "token string, logp double")
    import math

    oov_logp = math.log(1.0 / denom)
    scored = (
        toks.join(F.broadcast(model), "token", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("logp").isNull(), 1).otherwise(0))
            .alias("n_oov"),
            F.sum(F.coalesce("logp", F.lit(oov_logp))).alias("__s"),
        )
    )
    return (
        df.select(id_col).join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            (F.col("n_oov") / F.col("n_tokens")).alias("oov_rate"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(F.col("__s") / F.col("n_tokens"), 6),
            ).alias("avg_logp"),
        )
    )


def sparse_cosine_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_df: int | None = None,
    n_docs: int | None = None,
    persist_postings: bool = False,
) -> DataFrame:
    """Exact all-pairs TF-IDF cosine similarity >= ``threshold`` via
    an inverted-index self-join (the unweighted skeleton of Bayardo
    et al., "Scaling Up All Pairs Similarity Search", WWW'07).

    Returns ``(id_a, id_b, n_common, cosine)`` with id_a < id_b and
    cosine rounded to 6 dp (engine-portable float convention).

    Shape: unit-normalize the per-(doc, token) TF-IDF weights, then
    ONE equi-join on token computes candidates and dot products in
    the same shuffle — ``sum(u_a · u_b)`` per pair IS the cosine.
    Join fan-out per token is df², so on a real Zipfian corpus pass
    ``max_df`` to drop stop-terms from the similarity space (norms
    are recomputed post-cut so cosine stays a true cosine in the
    df-bounded term space — the same post-cut-universe rule as
    ``ngram_containment_pairs``; rare terms carry the discriminative
    weight, which is exactly what the IDF factor encodes).  Without
    a cut the worst-case candidate set is the true near-dup graph
    plus every pair sharing a hot term.
    """
    from loudml_spark import errors

    if not 0.0 < threshold <= 1.0:
        raise errors.Invalid(
            f"threshold must be in (0, 1], got {threshold}")
    if max_df is not None and max_df < 2:
        raise errors.Invalid("max_df must be >= 2 (df=1 terms never "
                             "produce a candidate pair)")
    w = tf_idf(df, text_col=text_col, id_col=id_col, n_docs=n_docs)
    if max_df is not None:
        w = w.filter(F.col("df") <= max_df)
    nrm = w.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("tfidf") * F.col("tfidf"))).alias("__n"))
    u = w.join(nrm, id_col).select(
        F.col(id_col).alias("id"), "token",
        (F.col("tfidf") / F.col("__n")).alias("u"))
    # the unit-weight postings feed BOTH sides of the self-join, so
    # the tf_idf subtree evaluates twice.  That recompute is pure
    # JVM codegen and measured FASTER than materializing at catalog
    # scale (2.2 s vs 3.2 s at sf0.1) — but it doubles the corpus
    # scan, so persist_postings=True trades memory for scan when the
    # input is the expensive part (wide tables, remote storage).
    if persist_postings:
        u = persist(u)
    a, b = u.alias("a"), u.alias("b")
    return (
        a.join(b, (F.col("a.token") == F.col("b.token"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"),
                 F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"),
             F.round(F.sum(F.col("a.u") * F.col("b.u")), 6)
             .alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def pmi_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_pair_count: int = 2,
    max_df: int | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Pointwise mutual information of token pairs by document-level
    co-occurrence: ``pmi = ln(c_ab · N / (df_a · df_b))`` — the
    collocation statistic behind phrase mining and compound-term
    discovery (tokens that appear together far more often than
    chance).  Returns ``(token_a, token_b, n_docs, pmi)`` for
    token_a < token_b with c_ab >= ``min_pair_count``.

    Shape: documents reduce to DISTINCT (doc, token) postings first;
    the pair fan-out is a self equi-join ON THE DOCUMENT, so cost is
    Σ_doc (distinct tokens)² — bounded by per-doc vocabulary, not
    corpus size.  On real corpora pass ``max_df`` to drop ubiquitous
    terms whose pairs dominate the join and carry no signal (PMI of
    a stop-word pair ≈ 0 by construction; this is the same stop-term
    df cut as sparse_cosine_pairs).  All counts are exact ints; the
    single ln rounds at ``round_dp``.
    """
    from loudml_spark import errors

    if min_pair_count < 1:
        raise errors.Invalid("min_pair_count must be >= 1")
    if max_df is not None and max_df < 2:
        raise errors.Invalid("max_df must be >= 2")
    t = tokens(df, text_col=text_col, id_col=id_col) \
        .select(F.col(id_col).alias("id"), "token").distinct()
    n_docs = df.select(id_col).distinct().count()
    dfreq = t.groupBy("token").agg(F.count("*").alias("df"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_df)
    post = t.join(dfreq, "token")
    a, b = post.alias("a"), post.alias("b")
    pairs = (
        a.join(b, (F.col("a.id") == F.col("b.id"))
               & (F.col("a.token") < F.col("b.token")))
        .groupBy(F.col("a.token").alias("token_a"),
                 F.col("b.token").alias("token_b"))
        .agg(F.count("*").alias("n_docs"),
             F.first(F.col("a.df")).alias("__dfa"),
             F.first(F.col("b.df")).alias("__dfb"))
        .filter(F.col("n_docs") >= min_pair_count)
    )
    pmi = F.log(
        F.col("n_docs").cast("double") * F.lit(float(n_docs))
        / (F.col("__dfa").cast("double") * F.col("__dfb")))
    return pairs.select(
        "token_a", "token_b", "n_docs",
        (F.round(pmi, round_dp) + F.lit(0.0)).alias("pmi"))


def bm25_scores(
    df: DataFrame,
    terms: "Sequence[str]",
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Okapi BM25 retrieval scores for a literal query-term set —
    the ranking sequel to ``tf_idf``: per document,
    ``score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))``
    with the Lucene/ATIRE non-negative idf
    ``ln(1 + (N − df + ½)/(df + ½))``.  Returns
    ``(id_col, n_terms, score)`` ordered (score desc, id asc),
    optionally truncated to ``top_k`` (TakeOrderedAndProject — per-
    task heaps, no global sort).

    Scale shape: document length needs ALL tokens (one map-side-
    combined shuffle on ``id_col``); the tf/df legs filter to the
    query terms BEFORE aggregating, so they shuffle only matching
    occurrences.  The df table is |terms| rows → broadcast joins; N
    and avgdl are computed eagerly and inlined as literals (a 1-row
    constant join would plan as BroadcastNestedLoopJoin, breaking
    the catalog's no-nested-loop invariant — tf_idf's precedent).

    Cross-engine determinism: N, df, tf, doc_len are exact integers;
    avgdl = DECIMAL-exact sum / count (order-independent, then one
    IEEE division); the idf argument is built from exact halves so
    ``ln`` sees bit-identical doubles; each per-term score rounds at
    ``round_dp`` and sums as DECIMAL so the final score is
    addition-order-independent.
    """
    from loudml_spark import errors

    terms = list(dict.fromkeys(terms))
    if not terms:
        raise errors.Invalid("terms must be non-empty")
    if k1 < 0 or not 0 <= b <= 1:
        raise errors.Invalid(f"need k1 >= 0 and 0 <= b <= 1, got {k1}/{b}")
    t = tokens(df, text_col=text_col, id_col=id_col)
    per_doc = t.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    doc_len = per_doc.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("doc_len"))
    # doc_len (ONE row per document — bounded, far smaller than
    # per_doc) feeds the eager N/avgdl probe AND the per-term join:
    # persist it so the final job tokenizes the corpus once for the
    # query-term leg instead of twice.  (Persisting the corpus-sized
    # per_doc frame instead was measured SLOWER — see
    # OPTIMIZATION_r12.md; this is the bounded-frame variant.)
    doc_len = persist(doc_len)
    stats = doc_len.agg(
        F.count("*").alias("n"),
        (F.sum(F.col("doc_len").cast("decimal(30,6)")).cast("double")
         / F.count("*")).alias("avgdl")).first()
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"])
    qt = per_doc.filter(F.col("token").isin(terms))
    dfreq = qt.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5)))
    per_term = (
        qt.join(F.broadcast(dfreq), "token")
        .join(doc_len, id_col)
        .select(
            id_col,
            F.round(
                idf * (F.col("tf") * F.lit(k1 + 1.0))
                / (F.col("tf")
                   + F.lit(k1) * (F.lit(1.0 - b)
                                  + F.lit(b) * F.col("doc_len")
                                  / F.lit(avgdl))),
                round_dp).alias("__s"))
    )
    out = per_term.groupBy(id_col).agg(
        F.count("*").alias("n_terms"),
        (F.sum(F.col("__s").cast("decimal(18,6)")).cast("double")
         + F.lit(0.0)).alias("score"))
    out = out.orderBy(F.desc("score"), F.asc(id_col))
    return out.limit(top_k) if top_k is not None else out


def lm_perplexity(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """Per-document perplexity under the corpus's own add-k-smoothed
    unigram language model — the classic cheap quality filter (a doc
    whose words are corpus-typical scores low; gibberish and
    boilerplate-with-rare-junk score high).  Complements
    :func:`lm_score`: that one scores against a TRUNCATED top-V
    model broadcast to executors (CCNet-style, OOV bucketed); this
    one is exact full-vocabulary perplexity via a token-keyed join —
    no vocabulary cut, the model never passes through the driver.
    Returns
    ``(id_col, n_tokens, ppl)`` with
    ``ppl = exp(−Σ_t tf·ln p(t) / doc_len)`` and
    ``p(t) = (C(t) + k) / (T + k·V)``.

    Scale shape: ONE map-side-combined shuffle builds the per-doc
    term frequencies; the corpus counts frame reduces to |vocab|
    rows (sublinear in corpus size) and joins back on the token key
    unhinted — AQE broadcasts it while it fits and shuffles at true
    scale.  T and V are exact integers computed eagerly and inlined
    as literals (a 1-row constant join would plan as
    BroadcastNestedLoopJoin).

    Cross-engine determinism: C, T, V, tf are exact integers; the
    smoothed numerator/denominator are exact-representable doubles
    (k = .5 halves), so ``ln`` sees bit-identical inputs; each
    per-term contribution rounds at ``round_dp`` and sums as
    DECIMAL, making the entropy addition-order-independent before
    the final exp.
    """
    from loudml_spark import errors

    if add_k <= 0:
        raise errors.Invalid(f"add_k must be > 0, got {add_k}")
    t = tokens(df, text_col=text_col, id_col=id_col)
    per_doc = t.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    cnt = per_doc.groupBy("token").agg(
        F.sum("tf").cast("long").alias("c"))
    # cnt (vocabulary-sized) feeds the eager T/V probe AND the
    # scoring join — persist so the corpus tokenize+count runs once
    # (the bigram_perplexity cu/cb precedent, measured there)
    cnt = persist(cnt)
    stats = cnt.agg(
        F.sum("c").cast("long").alias("t_total"),
        F.count("*").alias("v")).first()
    t_total, v = int(stats["t_total"]), int(stats["v"])
    denom = t_total + add_k * v
    ln_p = F.log((F.col("c") + F.lit(add_k)) / F.lit(denom))
    per_term = per_doc.join(cnt, "token").select(
        id_col, "tf",
        F.round(F.col("tf") * ln_p, round_dp).alias("__s"))
    return per_term.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        (F.round(
            F.exp(-(F.sum(F.col("__s").cast("decimal(18,6)"))
                    .cast("double")) / F.sum("tf")),
            round_dp) + F.lit(0.0)).alias("ppl"))


def importance_weights(
    df: DataFrame,
    target,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """Data-selection importance weights (DSIR-style, Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): score every document by how target-like its word
    distribution is,
    ``log_weight = Σ_t tf·ln(p_target(t) / p_source(t))`` with add-k
    smoothing over the JOINT vocabulary; ``target`` is a boolean
    Column marking the target subset (e.g. ``F.col("lang") == "en"``
    — NULLs count as non-target).  The source distribution is the
    full corpus, per the paper's raw-vs-target formulation; sampling
    ∝ exp(log_weight) reproduces DSIR's importance resampling.
    Returns ``(id_col, n_tokens, log_weight)``.

    Scale shape: identical to :func:`lm_perplexity` — one
    map-side-combined tf shuffle, a |vocab|-row counts frame carrying
    BOTH distributions (target leg is a conditional sum, not a second
    pass), token-keyed join back, totals inlined as exact-integer
    literals.

    Cross-engine determinism: the log-ratio is evaluated as
    ``ln(((ct+k)/denT) / ((cs+k)/denS))`` — three IEEE divisions on
    exact-representable inputs, mirrored verbatim in the oracle SQL —
    then per-term rounding + DECIMAL summing as everywhere else.
    """
    from loudml_spark import errors

    if add_k <= 0:
        raise errors.Invalid(f"add_k must be > 0, got {add_k}")
    tgt = F.coalesce(target, F.lit(False))
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0)
    t = df.select(
        F.col(id_col), tgt.alias("__tgt"),
        F.explode(toks).alias("token"))
    per_doc = t.groupBy(id_col, "__tgt", "token").agg(
        F.count("*").alias("tf"))
    cnt = per_doc.groupBy("token").agg(
        F.coalesce(F.sum(F.when(F.col("__tgt"), F.col("tf"))), F.lit(0))
        .cast("long").alias("ct"),
        F.sum("tf").cast("long").alias("cs"))
    # cnt (joint-vocabulary-sized) feeds the eager T/V probe AND the
    # scoring join — persist so the corpus tokenize+count runs once
    # (the bigram_perplexity cu/cb precedent)
    cnt = persist(cnt)
    stats = cnt.agg(
        F.sum("ct").cast("long").alias("tt"),
        F.sum("cs").cast("long").alias("ts"),
        F.count("*").alias("v")).first()
    tt, ts, v = int(stats["tt"]), int(stats["ts"]), int(stats["v"])
    if tt == 0:
        raise errors.Invalid("target subset matches no tokens")
    den_t = tt + add_k * v
    den_s = ts + add_k * v
    lnr = F.log(
        ((F.col("ct") + F.lit(add_k)) / F.lit(den_t))
        / ((F.col("cs") + F.lit(add_k)) / F.lit(den_s)))
    per_term = per_doc.join(cnt, "token").select(
        id_col, "tf",
        F.round(F.col("tf") * lnr, round_dp).alias("__s"))
    return per_term.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        (F.sum(F.col("__s").cast("decimal(18,6)")).cast("double")
         + F.lit(0.0)).alias("log_weight"))


def cooccurrence_edges(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_pair_count: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Undirected token co-occurrence graph: ``(u, v, c)`` with one
    row PER DIRECTION (both (a,b) and (b,a)) and ``c`` = number of
    documents where both tokens appear.  Same document-keyed
    self-join shape as :func:`pmi_pairs` — cost is
    Σ_doc (per-doc distinct tokens)², never vocab² — with the same
    ``max_df`` stop-term cut.  This is the graph TextRank walks."""
    from loudml_spark import errors

    if min_pair_count < 1:
        raise errors.Invalid("min_pair_count must be >= 1")
    if max_df is not None and max_df < 2:
        raise errors.Invalid("max_df must be >= 2")
    t = tokens(df, text_col=text_col, id_col=id_col) \
        .select(F.col(id_col).alias("id"), "token").distinct()
    if max_df is not None:
        dfreq = t.groupBy("token").agg(F.count("*").alias("df")) \
            .filter(F.col("df") <= max_df)
        t = t.join(dfreq.select("token"), "token")
    a, b = t.alias("a"), t.alias("b")
    pairs = (
        a.join(b, (F.col("a.id") == F.col("b.id"))
               & (F.col("a.token") < F.col("b.token")))
        .groupBy(F.col("a.token").alias("u"),
                 F.col("b.token").alias("v"))
        .agg(F.count("*").cast("long").alias("c"))
        .filter(F.col("c") >= min_pair_count))
    return pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"), "c"))


def textrank_keywords(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    damping: float = 0.85,
    iterations: int = 10,
    min_pair_count: int = 2,
    max_df: int | None = None,
    top_k: int | None = None,
    round_dp: int = 9,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004,
    "TextRank: Bringing Order into Texts"): PageRank over the token
    co-occurrence graph — ``r(v) = (1−d)/N + d·Σ_u r(u)·c(u,v)/
    out_w(u)`` for a fixed number of iterations.  Returns
    ``(token, score)`` ordered (score desc, token asc), optionally
    truncated to ``top_k`` (TakeOrderedAndProject).

    This is the repo's iterative-graph-algorithm template alongside
    large-star/small-star connected components: the edge frame is
    built once and persisted (reused every iteration); the rank
    frame is |vocab| rows — sublinear in corpus size — and is
    ``localCheckpoint``-ed each iteration so the lineage stays flat
    at any iteration count (the same truncation discipline as
    ``pipeline/dedup.py`` CC).  The co-occurrence graph is
    undirected, so there are no dangling nodes and every node
    receives mass each round.

    Cross-engine determinism (the oracle replays the SAME schedule
    as generated chained SQL CTEs): edge counts and weighted degrees
    are exact integers; the transition probability is one IEEE
    division; each contribution ``r(u)·p(u,v)`` rounds at
    ``round_dp`` and sums as DECIMAL(28,9) — order-independent — and
    each new rank rounds at ``round_dp``, so ranks stay bit-identical
    doubles by induction over iterations.  Final scores round at 6.
    """
    from loudml_spark import errors

    if not 0.0 < damping < 1.0:
        raise errors.Invalid(f"damping must be in (0,1), got {damping}")
    if iterations < 1:
        raise errors.Invalid("iterations must be >= 1")
    edges = cooccurrence_edges(
        df, text_col=text_col, id_col=id_col,
        min_pair_count=min_pair_count, max_df=max_df)
    out_w = edges.groupBy("u").agg(F.sum("c").cast("long").alias("w"))
    e = edges.join(out_w, "u").select(
        "u", "v",
        (F.col("c").cast("double") / F.col("w").cast("double"))
        .alias("p"))
    # persist through the session cache: the lazy-return contract
    # means the operator cannot unpersist e itself (the caller's
    # action is what materializes the iteration chain), so without
    # registration each call leaks one pinned vocab-sized frame until
    # session teardown
    e = persist(e)
    n = e.select("u").distinct().count()
    if n == 0:
        e.unpersist()
        raise errors.Invalid(
            "co-occurrence graph is empty (corpus too small for "
            f"min_pair_count={min_pair_count})")
    base = (1.0 - damping) / n
    ranks = e.select("u").distinct().select(
        F.col("u").alias("token"), F.lit(1.0 / n).alias("r"))
    for _ in range(iterations):
        contrib = e.join(ranks, ranks.token == e.u).select(
            F.col("v").alias("token"),
            F.round(F.col("r") * F.col("p"), round_dp).alias("__c"))
        ranks = contrib.groupBy("token").agg(
            F.round(
                F.lit(base) + F.lit(damping)
                * F.sum(F.col("__c").cast("decimal(28,9)"))
                .cast("double"),
                round_dp).alias("r"))
        ranks = ranks.localCheckpoint(eager=False)
    out = ranks.select(
        "token", (F.round(F.col("r"), 6) + F.lit(0.0)).alias("score"))
    out = out.orderBy(F.desc("score"), F.asc("token"))
    return out.limit(top_k) if top_k is not None else out


def perplexity_buckets(
    df: DataFrame,
    *,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
    labels: tuple = ("head", "middle", "tail"),
    approx: bool = False,
    approx_accuracy: int = 10000,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    language, split the corpus into head / middle / tail thirds by
    language-model perplexity — the standard Common-Crawl curation
    move (train on head+middle, drop or downweight tail).  Uses the
    corpus's own add-k unigram LM (:func:`lm_perplexity`; CCNet uses
    a pretrained 5-gram model — same decision shape, simpler scorer).

    Returns ``(id_col, lang, ppl, ppl_bucket)``.

    Scale shape: the per-language tertile CUTOFFS reduce to |langs|
    rows in one aggregation and join back onto the scored frame
    unhinted — AQE broadcasts the tiny cutoff side; no per-language
    ntile (which would funnel each language through one task).
    Exact ``percentile`` buffers each language's ppl values in its
    aggregation buffer — right at test scale and REQUIRED for the
    value oracle.  ``approx=True`` is the 100 TB path: cutoffs come
    from ``percentile_approx`` (Greenwald–Khanna sketch, bounded
    O(accuracy) buffer per language, mergeable map-side) at
    ``approx_accuracy``; CCNet itself fits cutoffs on a sample, so
    boundary wobble is in-contract — the agreement gate
    (tests/test_curation_round10.py) holds assignments ≥95%
    identical to exact on the driver corpus, and SCALE.md §round-10
    records the measured agreement.  Boundary determinism: ppl is
    rounded at 6 dp inside lm_perplexity and the interpolated
    cutoffs round at 6 dp on both engines before the <= comparison,
    so bucket labels are bit-stable cross-engine (exact path).
    """
    ppl = lm_perplexity(
        df, text_col=text_col, id_col=id_col, add_k=add_k)
    scored = df.select(id_col, F.col(lang_col).alias("lang")).join(
        ppl.select(id_col, "ppl"), id_col)
    if approx:
        acc = int(approx_accuracy)
        c1 = F.expr(f"percentile_approx(ppl, 1.0/3, {acc})")
        c2 = F.expr(f"percentile_approx(ppl, 2.0/3, {acc})")
    else:
        c1 = F.expr("percentile(ppl, 1.0/3)")
        c2 = F.expr("percentile(ppl, 2.0/3)")
    cutoffs = scored.groupBy("lang").agg(
        F.round(c1, 6).alias("__c1"),
        F.round(c2, 6).alias("__c2"),
    )
    out = scored.join(cutoffs, "lang")
    bucket = (
        F.when(F.col("ppl") <= F.col("__c1"), labels[0])
        .when(F.col("ppl") <= F.col("__c2"), labels[1])
        .otherwise(labels[2])
    )
    return out.select(
        id_col, "lang", "ppl", bucket.alias("ppl_bucket"))


def bpe_merge_col(arr, a: str, b: str):
    """Apply ONE BPE merge (a, b) -> a+b to a symbol-array Column —
    a left fold that appends, or fuses with the accumulator's last
    element when (last, x) == (a, b).  Equivalent to greedy
    left-to-right application: the fused symbol is strictly longer
    than `a`, so it can never re-fuse as the LEFT side in the same
    pass."""
    ab = a + b
    return F.aggregate(
        arr,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(ab))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_apply_merge(syms: list, a: str, b: str) -> list:
    """Greedy left-to-right application of one merge — the Python
    twin of :func:`bpe_merge_col`'s left fold (append, or fuse with
    the accumulator's last element when (last, x) == (a, b))."""
    out: list = []
    ab = a + b
    for x in syms:
        if out and out[-1] == a and x == b:
            out[-1] = ab
        else:
            out.append(x)
    return out


def _bpe_train_driver(words: list, n_merges: int) -> list:
    """Drive the merge loop on a COLLECTED word-frequency table with
    INCREMENTALLY maintained pair counts — what real BPE trainers
    (Sennrich 2016's learn_bpe, HuggingFace tokenizers) do: after a
    merge, only the words that contained the pair have their pair
    contributions subtracted and re-added; the global counter is
    never rebuilt.  ``words`` is ``[[syms, count], ...]``; returns
    ``(step, "a b", n, ab)`` records identical to the distributed
    path (same argmax tie-break: count desc, left asc, right asc —
    Python code-point string order == Spark UTF8 binary order).
    """
    import heapq
    from collections import Counter, defaultdict

    counts: Counter = Counter()
    where: dict = defaultdict(set)  # pair -> indices of words seen in
    for i, (syms, c) in enumerate(words):
        for p in zip(syms, syms[1:]):
            counts[p] += c
            where[p].add(i)
    # lazy-deletion priority queue over (-count, a, b): heap order ==
    # the argmax tie-break (count desc, left asc, right asc), and an
    # entry is live iff its count still matches `counts` (every count
    # change pushes a fresh entry, so the true max always has a live
    # one).  Replaces the O(|pairs|) full scan per merge — at real
    # merge budgets (8192 on a ~60k-word vocabulary ≈ 400k live
    # pairs) the scan dominated the whole trainer.
    heap = [(-n, p[0], p[1]) for p, n in counts.items()]
    heapq.heapify(heap)
    records = []
    for step in range(n_merges):
        while heap:
            negn, a, b = heap[0]
            if counts.get((a, b), 0) == -negn:
                break
            heapq.heappop(heap)      # stale entry
        if not heap:
            break
        negn, a, b = heapq.heappop(heap)
        n = -negn
        ab = a + b
        touched = set()
        # `where` holds every word that EVER contained the pair; a
        # stale member (pair merged away earlier) nets to zero under
        # subtract-all/re-add-all, so no containment re-check needed
        for i in where.pop((a, b), ()):
            syms, c = words[i]
            for p in zip(syms, syms[1:]):
                counts[p] -= c
                touched.add(p)
            new = _bpe_apply_merge(syms, a, b)
            for p in zip(new, new[1:]):
                counts[p] += c
                touched.add(p)
                where[p].add(i)
            words[i][0] = new
        for p in touched:
            c = counts.get(p, 0)
            if c <= 0:
                counts.pop(p, None)
            else:
                heapq.heappush(heap, (-c, p[0], p[1]))
        records.append((step, f"{a} {b}", n, ab))
    return records


def bpe_train_merges(
    df: DataFrame,
    *,
    n_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    driver_max_vocab: int = 1_000_000,
) -> DataFrame:
    """Train ``n_merges`` BPE merges over the corpus — the tokenizer
    TRAINER, not just one iteration's statistic
    (:func:`bpe_pair_counts` is the per-step priority queue; this
    runs the loop).  Returns one row per merge:
    ``(step, pair, n, new_symbol)`` with ``pair`` in the standard
    space-separated merges-file format ("t h", "th e", ...).

    Two-regime shape (what real trainers do, made Spark-native):
    the corpus reduces ONCE to the word-frequency table (one
    map-side-combined shuffle — the only pass that sees corpus rows;
    corpus size only ever affects this pass).  Then:

    * **Driver path (the real-tokenizer regime).** When the distinct
      vocabulary holds ≤ ``driver_max_vocab`` words, collect the
      (word, count) table — the bounded-model idiom the IVF/PQ/
      classifier fits use; 1M words ≈ tens of MB — and run the merge
      loop in-process with INCREMENTALLY maintained pair counts
      (only words containing the merged pair are re-counted, the
      Sennrich learn_bpe shape).  32k merges are 32k dict updates,
      not 32k Spark jobs: measured 1024 merges in 1.7 s where the
      distributed recount costs ~0.33 s/merge (~340 s projected at
      1024, hours at 32k) — SCALE.md §round-10, tools/
      bpe_train_bench.py.
    * **Distributed overflow.** Vocabularies past the driver bound
      (realistic for multi-TB multilingual crawls: >1e8 distinct
      "words") iterate on the |vocab|-sized frame: adjacent-pair
      counts weighted by word frequency (explode + agg), a 1-ROW
      argmax collect (the merge decision is the only thing crossing
      to the driver), and a pure-Column fold applying the merge.
      localCheckpoint per iteration bounds the lineage.

    Both paths share the argmax tie-break (count desc, left asc,
    right asc) and greedy left-to-right merge application, and are
    parity-gated bit-identical in the suite
    (tests/test_curation_round10.py).  The distributed merge fold is
    a LEFT FOLD — append, or fuse with the accumulator's last
    element — exactly greedy left-to-right BPE: a fused symbol is
    strictly longer than the pair's left element, so it can never
    re-fuse as the LEFT side within the same pass ("aaa" + (a,a) →
    [aa, a], never [aaa]).
    """
    from loudml_spark import errors

    if n_merges <= 0:
        raise errors.Invalid(f"n_merges must be > 0, got {n_merges}")
    t = tokens(df, text_col=text_col, id_col=id_col)
    freq = t.groupBy("token").agg(F.count("*").alias("c"))
    spark = df.sparkSession
    if driver_max_vocab > 0:
        # limit(N+1) bounds the collect whatever the true vocabulary
        # size: one job, ≤ N+1 (word, count) rows of driver memory
        head = freq.limit(driver_max_vocab + 1).collect()
        if len(head) <= driver_max_vocab:
            words = [[list(r["token"]), int(r["c"])] for r in head]
            return spark.createDataFrame(
                _bpe_train_driver(words, n_merges),
                "step int, pair string, n long, new_symbol string")
    cur = (
        freq.select(F.split("token", "").alias("syms"), "c")
        .localCheckpoint()
    )
    records = []
    for step in range(n_merges):
        s = F.col("syms")
        # single-symbol words contribute no pairs — and sequence(1, 0)
        # DESCENDS in Spark, so they must not reach the explode
        pairs = cur.filter(F.size(s) >= 2).select(
            F.explode(F.transform(
                F.sequence(F.lit(1), F.size(s) - 1),
                lambda i: F.struct(
                    F.element_at(s, i).alias("a"),
                    F.element_at(s, i + 1).alias("b")),
            )).alias("p"),
            "c",
        ).groupBy("p.a", "p.b").agg(F.sum("c").alias("n"))
        top = pairs.orderBy(
            F.desc("n"), F.asc("a"), F.asc("b")).limit(1).collect()
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        ab = a + b
        cur = cur.select(
            bpe_merge_col(s, a, b).alias("syms"), "c").localCheckpoint()
        records.append((step, f"{a} {b}", n, ab))
    return spark.createDataFrame(
        records, "step int, pair string, n long, new_symbol string")


def _bpe_nsyms_udf(merges: list):
    """Arrow-batched encoder: token → symbol count under a trained
    merge list — the apply path that survives REAL merge counts.
    One nested :func:`bpe_merge_col` per merge breaks plan
    compilation past toy sizes (JVM stack overflow converting the
    column tree at ~2k nestings; the analyzer's fixed-point loop
    caps at 100 nested higher-order lambdas — both found by running
    the fertility audit at 2048+ merges on the realtext fixture),
    and chunked projections stay O(n_merges) interpreted-HOF passes
    over the vocab.  This UDF is O(occurring-merges · len) per word
    and independent of the merge-list length.

    Semantics are EXACTLY the in-order Sennrich application the
    Column fold implements (parity-gated in the suite): iteratively
    fuse the lowest-RANK adjacent pair with the same greedy
    left-to-right pass.  Equivalent to one exhaustive pass per merge
    in training order because a merge's output symbol is born at its
    training step — no earlier-ranked pair can ever contain it, so
    applying merge k can never create an occurrence of a pair
    ranked < k.

    Python boundary justification (the char_entropy policy-table
    class): input is the DISTINCT-token frame (vocabulary-sized, not
    corpus-sized), one Arrow batch pass, no shuffle."""
    ranks = {(a, b): i for i, (a, b) in enumerate(merges)}
    pairs = [tuple(m) for m in merges]

    @F.pandas_udf("long")
    def fn(tokens: pd.Series) -> pd.Series:
        out = []
        for tok in tokens:
            if not tok:
                out.append(0)
                continue
            syms = list(tok)
            while len(syms) >= 2:
                best = None
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best is None or r < best):
                        best = r
                if best is None:
                    break
                syms = _bpe_apply_merge(syms, *pairs[best])
            out.append(len(syms))
        return pd.Series(out, dtype="int64")

    return fn


def bpe_encode(
    df: DataFrame,
    merges: list,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize the corpus with a TRAINED merge list — the apply half
    of the BPE tokenizer (:func:`bpe_train_merges` is the train
    half).  Returns per document ``(id_col, n_chars, n_syms,
    chars_per_token)``: the symbol count under the learned vocabulary
    and the compression it bought (chars per BPE token; 1.0 = no
    merges fired).  Docs with no tokens get zeros and null ratio.

    Scale shape: each DISTINCT word encodes exactly once — the corpus
    reduces to (doc, token) rows (one map-side-combined pass) and the
    merge folds run on the |vocab|-sized distinct-token frame, which
    joins back on the token key (AQE broadcasts it while it fits).
    Encoding applies the merges IN TRAINING ORDER, each as the same
    greedy left-fold the trainer used (``bpe_merge_col``), so
    train→encode round-trips exactly.
    """
    t = tokens(df, text_col=text_col, id_col=id_col)
    vocab = t.select("token").distinct()
    enc = vocab.select(
        "token",
        F.length("token").cast("long").alias("__len"),
        _bpe_nsyms_udf(merges)(F.col("token")).alias("__ns"),
    )
    per_doc = (
        t.join(enc, "token")
        .groupBy(id_col)
        .agg(F.sum("__len").alias("n_chars"),
             F.sum("__ns").alias("n_syms"))
    )
    base = df.select(id_col)
    return base.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_chars", F.lit(0)).alias("n_chars"),
        F.coalesce("n_syms", F.lit(0)).alias("n_syms"),
        F.when(F.col("n_syms") > 0,
               F.col("n_chars") / F.col("n_syms"))
        .alias("chars_per_token"),
    )


def bpe_fertility(
    df: DataFrame,
    merges: list,
    *,
    by: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer fertility per group (Ács 2019 / Rust et al. 2021's
    multilingual-equity measurement): subword tokens per word and
    chars per token under a TRAINED merge list, grouped by ``by``
    (typically language).  A tokenizer that fragments one language
    2× more than another silently halves its effective context
    window and doubles its training cost — this is the audit that
    catches it.

    Returns ``(by, n_words, n_chars, n_syms, fertility,
    chars_per_token)`` with the ratios rounded at 6 dp (ratios of
    exact integer sums — bit-stable cross-engine).

    Scale shape: the same two-level aggregation as
    :func:`bpe_encode` — each DISTINCT word encodes once (merge
    folds on the vocab frame), joins back on the token key (AQE
    broadcasts it while it fits), and the group rollup reduces
    map-side to |groups| rows.
    """
    t = tokens(df, text_col=text_col, id_col=id_col)
    vocab = t.select("token").distinct()
    enc = vocab.select(
        "token",
        F.length("token").cast("long").alias("__len"),
        _bpe_nsyms_udf(merges)(F.col("token")).alias("__ns"),
    )
    labeled = t.join(df.select(id_col, by), id_col).join(enc, "token")
    return (
        labeled.groupBy(by)
        .agg(F.count("*").alias("n_words"),
             F.sum("__len").alias("n_chars"),
             F.sum("__ns").alias("n_syms"))
        .select(
            by, "n_words", "n_chars", "n_syms",
            F.round(F.col("n_syms") / F.col("n_words"), 6)
            .alias("fertility"),
            F.round(F.col("n_chars") / F.col("n_syms"), 6)
            .alias("chars_per_token")))


def rrf_fuse(
    runs: "Sequence[DataFrame]",
    *,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k0: int = 60,
    top_k: int | None = None,
    round_dp: int = 6,
    validate: bool = True,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR
    2009): combine N ranked runs without score calibration —
    ``rrf(d) = Σ_runs 1 / (k0 + rank_run(d))``, items missing from a
    run contribute 0.  The standard way to merge a lexical ranker
    (BM25) with a dense/quality ranker when their raw scores live on
    incomparable scales; k0=60 is the paper's constant.

    Each input frame needs (``id_col``, ``rank_col``) with 1-based
    integer ranks.  Runs join full-outer on id IN ARGUMENT ORDER and
    each reciprocal term rounds at ``round_dp`` then sums as DECIMAL,
    so the fused score is addition-order-independent and
    engine-portable (1/(k0+rank) is one IEEE division of exact
    integers — bit-identical everywhere).

    Scale shape: ranked runs are top-k frames (|queries|·k rows), so
    the full-outer chain is tiny equi-joins — no corpus-sized work.
    ``validate`` (default on) enforces the input contract with two
    cheap actions per run — ranks must be ≥ 1 and non-null, and ids
    unique within a run (a duplicated id would fan out through the
    full-outer chain and silently double-count reciprocal terms);
    runs are top-k-sized, so the checks cost nothing material.

    Output: (``id_col``, n_runs, rrf, rank) ranked by (rrf DESC, id
    ASC), cut to ``top_k`` when given."""
    from loudml_spark import errors

    runs = list(runs)
    if not runs:
        raise errors.Invalid("runs must be non-empty")
    if k0 < 1:
        raise errors.Invalid(f"k0 must be >= 1, got {k0}")
    if validate:
        for i, r in enumerate(runs):
            if r.where(
                F.col(rank_col).isNull() | (F.col(rank_col) < 1)
            ).limit(1).count():
                raise errors.Invalid(
                    f"rrf_fuse run {i}: {rank_col!r} must be a "
                    "non-null 1-based rank")
            if r.groupBy(id_col).count().where(
                F.col("count") > 1
            ).limit(1).count():
                raise errors.Invalid(
                    f"rrf_fuse run {i}: duplicate {id_col!r} — each "
                    "run must rank an id at most once")
    out = None
    for i, r in enumerate(runs):
        sel = r.select(
            F.col(id_col),
            F.col(rank_col).cast("long").alias(f"__r{i}"))
        out = sel if out is None else out.join(
            sel, id_col, "full_outer")
    zero = F.lit(0).cast("decimal(18,6)")
    terms = [
        F.coalesce(
            F.round(F.lit(1.0) / (F.lit(k0) + F.col(f"__r{i}")),
                    round_dp).cast("decimal(18,6)"),
            zero)
        for i in range(len(runs))
    ]
    score = terms[0]
    for t in terms[1:]:
        score = score + t
    n_runs = None
    for i in range(len(runs)):
        hit = F.col(f"__r{i}").isNotNull().cast("int")
        n_runs = hit if n_runs is None else n_runs + hit
    from pyspark.sql import Window

    scored = out.select(
        F.col(id_col),
        n_runs.cast("int").alias("n_runs"),
        (score.cast("double") + F.lit(0.0)).alias("rrf"))
    w = Window.orderBy(F.col("rrf").desc(), F.col(id_col).asc())
    ranked = scored.withColumn(
        "rank", F.row_number().over(w))
    if top_k is not None:
        ranked = ranked.filter(F.col("rank") <= top_k)
    return ranked.select(id_col, "n_runs", "rrf", "rank")


def bigram_perplexity(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.75,
    min_count: int = 1,
    round_dp: int = 6,
) -> DataFrame:
    """Per-document perplexity under the corpus's own
    Jelinek–Mercer-interpolated BIGRAM language model — the
    sequence-aware upgrade of :func:`lm_perplexity`: word-salad text
    with corpus-typical unigrams but improbable transitions (shuffled
    sentences, keyword stuffing) scores high where the unigram filter
    is blind.

        P(w | prev) = λ · c(prev,w)/c(prev,·) + (1−λ) · c(w)/N

    scored over every within-document bigram (docs with < 2 tokens
    drop out — they have no transitions to judge).

    Scale shape: bigram and context counts are vocabulary-sized
    grouped aggregations (the standard LM counting shuffle); scoring
    is three token-keyed equi-joins back onto the per-doc bigram
    frame — no driver traffic except the inlined corpus total N
    (the tf_idf precedent).  Per-bigram ``tf·ln P`` rounds at
    ``round_dp`` and sums as DECIMAL, so the doc score is
    addition-order-independent and engine-portable (lm_perplexity's
    convention).

    ``min_count`` > 1 prunes the bigram count frame (the growth
    knob for the vocabulary-bound shuffle — real LMs ship exactly
    this cut): a pruned bigram scores on its unigram term alone,
    i.e. the λ-weighted bigram probability falls to 0 — a backoff
    heuristic, not a renormalized model, which is fine for a
    QUALITY SCORE and documented as such.  min_count=1 (default)
    is the exact model.

    Output: (id_col, n_bigrams, ppl)."""
    from loudml_spark import errors

    if not 0.0 < lam < 1.0:
        raise errors.Invalid(f"lam must be in (0, 1), got {lam}")
    if min_count < 1:
        raise errors.Invalid(
            f"min_count must be >= 1, got {min_count}")
    uni = tokens(df, text_col=text_col, id_col=id_col)
    cu = uni.groupBy("token").agg(
        F.count("*").cast("long").alias("cu"))
    # cu (vocabulary-sized) feeds the eager N probe AND the unigram
    # join; cb (bigram-vocabulary-sized) feeds the context totals AND
    # the (possibly pruned) numerator join.  Persisting BOTH means
    # each tokenize+count pass over the corpus runs exactly once —
    # measured on the realtext corpus: 7.24 s → 4.77 s min
    # (interleaved A/B; persisting the corpus-sized per-doc frame
    # instead is slower, 5.58 s).  Both frames are model-sized, the
    # documented bounded-persist class; released via
    # catalog.release_caches or the session-cache LRU.
    cu = persist(cu)
    n_total = int(
        cu.agg(F.sum("cu").cast("long").alias("n")).first()["n"])
    if n_total == 0:
        raise errors.Invalid("corpus has no tokens")
    bg = tokens(df, text_col=text_col, id_col=id_col, n=2)
    per_doc = bg.groupBy(id_col, "token").agg(
        F.count("*").cast("long").alias("tf"))
    cb = per_doc.groupBy("token").agg(
        F.sum("tf").cast("long").alias("cb"))
    cb = persist(cb)
    # context totals stay exact (they come from the unpruned frame);
    # only the pairwise numerator table shrinks under min_count
    ctx = cb.groupBy(
        F.split(F.col("token"), " ").getItem(0).alias("prev")
    ).agg(F.sum("cb").cast("long").alias("cctx"))
    if min_count > 1:
        cb = cb.filter(F.col("cb") >= min_count)
    scored = (
        per_doc
        .join(cb, "token", "left")
        .withColumn("prev", F.split(F.col("token"), " ").getItem(0))
        .withColumn("w", F.split(F.col("token"), " ").getItem(1))
        .join(ctx, "prev")
        .join(cu.withColumnRenamed("token", "w"), "w")
    )
    p = (F.lit(float(lam)) * (F.coalesce(F.col("cb"), F.lit(0))
                              .cast("double") / F.col("cctx"))
         + F.lit(1.0 - float(lam)) * (F.col("cu").cast("double")
                                      / F.lit(float(n_total))))
    per_term = scored.select(
        id_col, "tf",
        F.round(F.col("tf") * F.log(p), round_dp).alias("__s"))
    return per_term.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        (F.round(
            F.exp(-(F.sum(F.col("__s").cast("decimal(18,6)"))
                    .cast("double")) / F.sum("tf")),
            round_dp) + F.lit(0.0)).alias("ppl"))
