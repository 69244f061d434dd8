"""Catalog entries for the training-data pipeline operators
(dedup / similarity / text analysis) with DuckDB oracles.

Hash parity strategy: every hash in these operators is portable int64
polynomial arithmetic (pipeline.text.HASH_MOD), so signatures, band
keys, simhashes and fingerprints are *bit-identical* between Spark
and DuckDB — the oracles verify the full machinery, not just row
counts.  Floating similarity scores are rounded to 6 dp on both sides
before thresholds/ranking so pair sets and ranks match exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from loudml_spark import session_cache
from loudml_spark.pipeline.dedup import (
    MINHASH_A,
    MINHASH_B,
    embedding_cosine_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from loudml_spark.pipeline.similarity import cosine_topk, lsh_cosine_topk
from loudml_spark.pipeline.text import (
    LANG_MARKERS,
    STOPWORDS,
    langid,
    text_stats,
)
from loudml_spark.sources.tables import load_table, table_path

MOD = 1_000_000_007

# ---- shared SQL fragments (mirror pipeline.text hash arithmetic) ----

# rolling char hash of an arbitrary string expression
def _sql_rh(expr: str) -> str:
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), "
        "c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * 31 + b) % {MOD})"
    )


_SQL_FP = _sql_rh("text[1:64]")  # fingerprint = hash of first 64 chars
_SQL_WORDS = "string_split(text, ' ')"
# distinct word (1-gram) hashes — the minhash/LSH shingle set
_SQL_WORD_HASHES = (
    f"list_distinct(list_transform({_SQL_WORDS}, w -> {_sql_rh('w')}))"
)


def _sql_wordcount(word: str) -> str:
    return (
        f"CAST(len(list_filter({_SQL_WORDS}, w -> w = '{word}')) AS BIGINT)"
    )


# ---------------------------------------------------------------- text


def q_text_stats_docs(spark, sf_dir):
    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    out = text_stats(docs)
    return out.select(
        "doc_id", "n_tokens", "fingerprint",
        "avg_word_len", "stopword_ratio", "quality",
    )


_SQL_STOP_HITS = " + ".join(_sql_wordcount(w) for w in STOPWORDS)

SQL_TEXT_STATS_DOCS = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars_calc,
         {_SQL_FP} AS fingerprint,
         ({_SQL_STOP_HITS}) AS stop_hits
  FROM documents
)
SELECT doc_id, n_tokens, fingerprint,
       (n_chars_calc - (n_tokens - 1)) / n_tokens AS avg_word_len,
       stop_hits / n_tokens AS stopword_ratio,
       LEAST(1.0, n_tokens / 100.0) * 0.5
         + (1.0 - stop_hits / n_tokens) * 0.3
         + LEAST(1.0, ((n_chars_calc - (n_tokens - 1)) / n_tokens)
                 / 8.0) * 0.2 AS quality
FROM base
"""


def q_text_stats_regex_docs(spark, sf_dir):
    """text_stats with the REGEX tokenizer (lowercased alnum runs):
    punctuation- and whitespace-run-robust statistics, the mode a
    real (non-synthetic) corpus needs.  Same single-pass plan as
    text_stats_docs; oracle runs the identical regexp_extract_all in
    DuckDB."""
    from loudml_spark.pipeline.text import text_stats

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    out = text_stats(docs, tokenizer="regex")
    return out.select(
        "doc_id", "n_tokens", "fingerprint",
        "avg_word_len", "stopword_ratio", "quality",
    )


_SQL_RE_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"
_SQL_STOPLIST = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"

SQL_TEXT_STATS_REGEX_DOCS = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len({_SQL_RE_TOKS}) AS BIGINT) AS n_tokens,
         CAST(COALESCE(list_sum(
           list_transform({_SQL_RE_TOKS}, x -> length(x))), 0)
           AS BIGINT) AS token_chars,
         CAST(len(list_filter({_SQL_RE_TOKS},
           x -> list_contains({_SQL_STOPLIST}, x))) AS BIGINT) AS stop_hits,
         {_SQL_FP} AS fingerprint
  FROM documents
)
SELECT doc_id, n_tokens, fingerprint,
       token_chars / NULLIF(n_tokens, 0) AS avg_word_len,
       stop_hits / NULLIF(n_tokens, 0) AS stopword_ratio,
       LEAST(1.0, n_tokens / 100.0) * 0.5
         + (1.0 - stop_hits / NULLIF(n_tokens, 0)) * 0.3
         + LEAST(1.0, (token_chars / NULLIF(n_tokens, 0)) / 8.0) * 0.2
         AS quality
FROM base
"""


def q_repetition_stats_docs(spark, sf_dir):
    """Gopher-style repetition/boilerplate fractions (duplicate
    lines, top-bigram share, bullet/ellipsis lines, symbol ratio) —
    the curation rules applied after the basic quality gate.  One
    Arrow pass, no shuffle; the oracle recomputes the same integer
    counts with DuckDB list lambdas and divides identically."""
    from loudml_spark.pipeline.text import repetition_stats

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    out = repetition_stats(docs)
    return out.select(
        "doc_id", "n_lines", "dup_line_frac", "dup_line_char_frac",
        "top_bigram_frac", "bullet_line_frac", "ellipsis_line_frac",
        "symbol_word_ratio",
    )


_SQL_LINES = "string_split(text, chr(10))"
_SQL_DUP_LINES = (
    "list_filter(lines, x -> len(list_filter(lines, y -> y = x)) > 1)"
)

SQL_REPETITION_STATS_DOCS = f"""
WITH base AS (
  SELECT doc_id, {_SQL_LINES} AS lines, {_SQL_WORDS} AS words,
         CAST(length(text) - length(replace(text, '#', ''))
              AS BIGINT) AS n_hash_chars
  FROM documents
), b2 AS (
  SELECT doc_id, n_hash_chars,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len({_SQL_DUP_LINES}) AS BIGINT) AS n_dup_lines,
         CAST(COALESCE(list_sum(list_transform({_SQL_DUP_LINES},
              x -> length(x))), 0) AS BIGINT) AS dup_line_chars,
         CAST(COALESCE(list_sum(list_transform(lines,
              x -> length(x))), 0) AS BIGINT) AS line_chars,
         CAST(len(words) - 1 AS BIGINT) AS n_bigrams,
         list_transform(range(len(words) - 1),
              i -> words[i + 1] || ' ' || words[i + 2]) AS bigrams,
         CAST(len(list_filter(lines, x -> starts_with(x, '- ')
              OR starts_with(x, '* ') OR starts_with(x, '• ')))
              AS BIGINT) AS n_bullet_lines,
         CAST(len(list_filter(lines, x -> ends_with(x, '...')))
              AS BIGINT) AS n_ellipsis_lines,
         CAST(len(words) AS BIGINT) AS n_words
  FROM base
), b3 AS (
  SELECT *,
         CAST(COALESCE(list_max(list_transform(bigrams,
              x -> len(list_filter(bigrams, y -> y = x)))), 0)
              AS BIGINT) AS top_bigram
  FROM b2
)
SELECT doc_id, n_lines,
       n_dup_lines / NULLIF(n_lines, 0) AS dup_line_frac,
       dup_line_chars / NULLIF(line_chars, 0) AS dup_line_char_frac,
       top_bigram / NULLIF(n_bigrams, 0) AS top_bigram_frac,
       n_bullet_lines / NULLIF(n_lines, 0) AS bullet_line_frac,
       n_ellipsis_lines / NULLIF(n_lines, 0) AS ellipsis_line_frac,
       n_hash_chars / n_words AS symbol_word_ratio
FROM b3
"""


def q_quality_gate_docs(spark, sf_dir):
    """Curation keep/drop decision per document: ordered threshold
    rules over the single-pass text statistics; `reason` names the
    first failing rule (drop audit), `keep` the verdict.  One scan,
    zero shuffles.  Oracle: the same CASE chain over the shared SQL
    stat expressions."""
    from loudml_spark.pipeline.text import quality_gate

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    out = quality_gate(docs)
    return out.select("doc_id", "n_tokens", "keep", "reason")


SQL_QUALITY_GATE_DOCS = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars_calc,
         ({_SQL_STOP_HITS}) AS stop_hits
  FROM documents
),
s AS (
  SELECT doc_id, n_tokens,
         (n_chars_calc - (n_tokens - 1)) / n_tokens AS avg_word_len,
         stop_hits / n_tokens AS stopword_ratio,
         LEAST(1.0, n_tokens / 100.0) * 0.5
           + (1.0 - stop_hits / n_tokens) * 0.3
           + LEAST(1.0, ((n_chars_calc - (n_tokens - 1)) / n_tokens)
                   / 8.0) * 0.2 AS quality
  FROM base
)
SELECT doc_id, n_tokens,
       CASE WHEN n_tokens < 5 THEN 'too_short'
            WHEN stopword_ratio > 0.6 THEN 'stopword_heavy'
            WHEN avg_word_len < 2.0 THEN 'degenerate_words'
            WHEN avg_word_len > 12.0 THEN 'unsegmented'
            WHEN quality < 0.3 THEN 'low_quality'
            END AS reason,
       CASE WHEN n_tokens < 5 THEN FALSE
            WHEN stopword_ratio > 0.6 THEN FALSE
            WHEN avg_word_len < 2.0 THEN FALSE
            WHEN avg_word_len > 12.0 THEN FALSE
            WHEN quality < 0.3 THEN FALSE
            ELSE TRUE END AS keep
FROM s
"""


def q_langid_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = langid(docs)
    return out.select(
        "doc_id",
        *[f"score_{lang}" for lang in LANG_MARKERS],
        "lang_guess",
    )


def _sql_lang_score(lang: str) -> str:
    return " + ".join(_sql_wordcount(w) for w in LANG_MARKERS[lang])


SQL_LANGID_DOCS = f"""
WITH s AS (
  SELECT doc_id,
         {_sql_lang_score('en')} AS score_en,
         {_sql_lang_score('fr')} AS score_fr,
         {_sql_lang_score('es')} AS score_es,
         {_sql_lang_score('de')} AS score_de
  FROM documents
),
g AS (
  SELECT *, GREATEST(score_en, score_fr, score_es, score_de) AS best
  FROM s
)
SELECT doc_id, score_en, score_fr, score_es, score_de,
       CASE WHEN score_de = best AND best > 0 THEN 'de'
            WHEN score_en = best AND best > 0 THEN 'en'
            WHEN score_es = best AND best > 0 THEN 'es'
            WHEN score_fr = best AND best > 0 THEN 'fr'
            ELSE 'und' END AS lang_guess
FROM g
"""


# ---------------------------------------------------------------- dedup


def q_exact_dedup_fp(spark, sf_dir):
    from loudml_spark.pipeline.text import rolling_hash_col

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "fingerprint", rolling_hash_col(F.col("text"))
    )
    return exact_dedup(docs, ["fingerprint"], id_col="doc_id")


SQL_EXACT_DEDUP_FP = f"""
WITH f AS (SELECT doc_id, {_SQL_FP} AS fingerprint FROM documents)
SELECT fingerprint, MIN(doc_id) AS kept_id, COUNT(*) AS n_dups
FROM f GROUP BY fingerprint
"""


def q_split_docs_80_10_10(spark, sf_dir):
    """Deterministic content-hash train/val/test split (80/10/10):
    the split label is a pure function of the document's rolling-hash
    fingerprint, so re-runs, repartitions, and other engines assign
    identically — unlike randomSplit.  Zero shuffles: the assignment
    is Column arithmetic folded into the scan projection.  See
    pipeline/sampling.py."""
    from loudml_spark.pipeline.sampling import hash_split, split_bucket
    from loudml_spark.pipeline.text import rolling_hash_col

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", rolling_hash_col(F.col("text")).alias("fp")
    )
    out = hash_split(
        docs, key=F.col("fp"),
        weights={"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return out.select(
        "doc_id", "lang",
        split_bucket(F.col("fp")).alias("fp_bucket"),
        "split",
    )


SQL_SPLIT_DOCS_80_10_10 = f"""
WITH f AS (SELECT doc_id, lang, {_SQL_FP} AS fp FROM documents),
b AS (SELECT doc_id, lang, fp % 10000 AS fp_bucket FROM f)
SELECT doc_id, lang, fp_bucket,
       CASE WHEN fp_bucket < 8000 THEN 'train'
            WHEN fp_bucket < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


def q_group_split_docs(spark, sf_dir):
    """Leakage-safe GROUP-level split (70/15/15 by source): every
    document from the same source lands on the same side of the
    train/val/test fence, so eval never shares a source with train —
    the contamination-by-relatedness guard a row-level split can't
    give.  The group's identity is the portable rolling hash of its
    VALUE, so no groupBy is needed — zero shuffles, a map stage at
    100 TB.  The hash is scrambled (one quadratic round) before
    bucketing: short near-sequential source names hash to
    near-consecutive values under the base-31 rolling hash and would
    otherwise all land in one narrow split band.  See
    pipeline/sampling.py group_split, pipeline/text.py scramble_col."""
    from loudml_spark.pipeline.sampling import group_split, split_bucket
    from loudml_spark.pipeline.text import rolling_hash_col, scramble_col

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source",
        scramble_col(rolling_hash_col(F.col("source"))).alias("gh"),
    )
    out = group_split(
        docs, group_key=F.col("gh"),
        weights={"train": 0.7, "val": 0.15, "test": 0.15},
    )
    return out.select(
        "doc_id", "source",
        split_bucket(F.col("gh")).alias("src_bucket"),
        "split",
    )


_SQL_GH_SOURCE = _sql_rh("source")

SQL_GROUP_SPLIT_DOCS = f"""
WITH r AS (SELECT doc_id, source, {_SQL_GH_SOURCE} AS h
           FROM documents),
f AS (SELECT doc_id, source, (h * h % {MOD} + h) % {MOD} AS gh
      FROM r),
b AS (SELECT doc_id, source, gh % 10000 AS src_bucket FROM f)
SELECT doc_id, source, src_bucket,
       CASE WHEN src_bucket < 7000 THEN 'train'
            WHEN src_bucket < 8500 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


def q_stratified_sample_docs(spark, sf_dir):
    """Per-stratum deterministic sampling (corpus mixing): keep 100%
    of 'en' docs, 50% of 'fr', 20% of everything else, decided by
    content-hash threshold — stable under re-runs/repartitions/
    engines.  Zero shuffles (Column arithmetic in the scan
    projection).  Oracle: the same CASE thresholds over the same
    rolling-hash fingerprint."""
    from loudml_spark.pipeline.sampling import (
        split_bucket,
        stratified_sample,
    )
    from loudml_spark.pipeline.text import rolling_hash_col

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", rolling_hash_col(F.col("text")).alias("fp")
    )
    out = stratified_sample(
        docs, key=F.col("fp"), strat_col="lang",
        rates={"en": 1.0, "fr": 0.5}, default_rate=0.2,
    )
    return out.select(
        "doc_id", "lang",
        split_bucket(F.col("fp")).alias("fp_bucket"),
        "keep",
    )


SQL_STRATIFIED_SAMPLE_DOCS = f"""
WITH f AS (SELECT doc_id, lang, {_SQL_FP} AS fp FROM documents),
b AS (SELECT doc_id, lang, fp % 10000 AS fp_bucket FROM f)
SELECT doc_id, lang, fp_bucket,
       fp_bucket < (CASE lang WHEN 'en' THEN 10000
                              WHEN 'fr' THEN 5000
                              ELSE 2000 END) AS keep
FROM b
"""


def q_temperature_mix_docs(spark, sf_dir):
    """mT5-style temperature mixing (alpha = 0.5): stratum keep
    rates (n_s/n_min)^(alpha−1) flatten the language distribution so
    kept counts ∝ n_s^0.5, applied by the deterministic content-hash
    threshold.  The rates compute DRIVER-side from one count
    aggregation and inline as integer literals; the oracle generator
    recomputes them through the SAME Python function from the same
    parquet (the IVF data-derived-oracle pattern), so both engines
    compare identical integers — per-engine pow() could flip a
    rounding tie."""
    from loudml_spark.pipeline.sampling import split_bucket, temperature_mix
    from loudml_spark.pipeline.text import rolling_hash_col

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", rolling_hash_col(F.col("text")).alias("fp")
    )
    out = temperature_mix(
        docs, key=F.col("fp"), strat_col="lang", alpha=0.5)
    return out.select(
        "doc_id", "lang",
        split_bucket(F.col("fp")).alias("fp_bucket"),
        "keep",
    )


def _sql_temperature_mix_docs(sf_dir=None):
    """Data-derived oracle: stratum counts read from the SAME parquet
    via DuckDB, thresholds computed by the SAME temperature_rates
    code, inlined as a CASE of integer literals."""
    import duckdb

    from loudml_spark.pipeline.sampling import (
        SPLIT_MOD,
        temperature_rates,
    )

    from loudml_spark.oracle_util import resolve_oracle_sf_dir
    sf_dir = resolve_oracle_sf_dir(sf_dir)
    con = duckdb.connect()
    # NULL strata are excluded on BOTH sides (temperature_mix drops
    # them from the counts; they fall to the CASE's ELSE = keep)
    counts = dict(con.execute(
        f"SELECT lang, COUNT(*) FROM "
        f"read_parquet('{sf_dir}/documents.parquet') "
        f"WHERE lang IS NOT NULL GROUP BY lang"
    ).fetchall())
    con.close()
    rates = temperature_rates(counts, 0.5)
    case = " ".join(
        "WHEN '{}' THEN {}".format(
            str(s).replace("'", "''"), int(round(r * SPLIT_MOD)))
        for s, r in sorted(rates.items()))
    return f"""
WITH f AS (SELECT doc_id, lang, {_SQL_FP} AS fp FROM documents),
b AS (SELECT doc_id, lang, fp % {SPLIT_MOD} AS fp_bucket FROM f)
SELECT doc_id, lang, fp_bucket,
       fp_bucket < (CASE lang {case} ELSE {SPLIT_MOD} END) AS keep
FROM b
"""


ISO_BIN_DP = 2


def q_isotonic_calibration_docs(spark, sf_dir):
    """Isotonic (PAV) calibration of the heuristic quality score
    against the lang='en' label: the monotone fitted curve is the
    calibrated P(en | quality) — the standard step before a raw
    score gates a pipeline (operators/calibrate.py).  Binned
    aggregation first (map-side combined; the PAV pass sees #bins
    rows, never the corpus); all pooling in exact integer
    arithmetic.  Oracle: DuckDB computes the identical bins, the
    SAME pav_fit replays, literals inline."""
    from loudml_spark.operators.calibrate import isotonic_calibrate
    from loudml_spark.pipeline.text import text_stats

    docs = load_table(spark, sf_dir, "documents")
    scored = text_stats(docs).select(
        F.col("quality").alias("score"),
        (F.col("lang") == "en").alias("is_en"))
    return isotonic_calibrate(
        scored, score_col="score", label_col="is_en",
        bin_dp=ISO_BIN_DP)


def _sql_isotonic_calibration_docs(sf_dir=None) -> str:
    import duckdb

    from loudml_spark.operators.calibrate import pav_fit
    from loudml_spark.oracle_util import resolve_oracle_sf_dir

    sf_dir = resolve_oracle_sf_dir(sf_dir)
    con = duckdb.connect()
    rows = con.execute(f"""
WITH base AS (
  SELECT doc_id, lang,
         CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars_calc,
         ({_SQL_STOP_HITS}) AS stop_hits
  FROM read_parquet('{sf_dir}/documents.parquet')
),
s AS (
  SELECT lang,
         LEAST(1.0, n_tokens / 100.0) * 0.5
           + (1.0 - stop_hits / n_tokens) * 0.3
           + LEAST(1.0, ((n_chars_calc - (n_tokens - 1)) / n_tokens)
                   / 8.0) * 0.2 AS quality
  FROM base
)
SELECT FLOOR(quality * {10 ** ISO_BIN_DP}) / {10 ** ISO_BIN_DP} AS bin,
       COUNT(*) AS n,
       SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
FROM s
WHERE quality IS NOT NULL AND (lang = 'en') IS NOT NULL
GROUP BY 1 ORDER BY 1
""").fetchall()
    con.close()
    pos = [int(r[2]) for r in rows]
    n = [int(r[1]) for r in rows]
    fitted = pav_fit(pos, n)
    vals = ", ".join(
        f"(CAST({b!r} AS DOUBLE), {c}, {p}, "
        f"CAST({round(p / c, 6) + 0.0!r} AS DOUBLE), "
        f"CAST({round(f, 6) + 0.0!r} AS DOUBLE))"
        for (b, c, p), f in zip(
            ((float(r[0]), int(r[1]), int(r[2])) for r in rows),
            fitted))
    return ("SELECT * FROM (VALUES " + vals
            + ") AS t(bin, n, pos, rate, fitted)")


def q_auc_quality_by_source(spark, sf_dir):
    """Exact ROC-AUC of the quality score against the lang='en'
    label, per source — the evaluation companion to the isotonic
    calibration: does the score actually rank target docs above the
    rest, and does that hold per slice?  Mann–Whitney rank identity
    over the (distinct score → count, positives) table; every
    intermediate is an integer (tie-averaged ranks enter as
    2·rank = 2·cum_before + c + 1), only the final ratio divides —
    bit-portable with no rounding schedule.  See
    operators/calibrate.py binary_auc."""
    from loudml_spark.operators.calibrate import binary_auc
    from loudml_spark.pipeline.text import text_stats

    docs = load_table(spark, sf_dir, "documents")
    scored = text_stats(docs).select(
        "source",
        F.col("quality").alias("score"),
        (F.col("lang") == "en").alias("is_en"))
    return binary_auc(
        scored, score_col="score", label_col="is_en", by=["source"])


SQL_AUC_QUALITY_BY_SOURCE = f"""
WITH base AS (
  SELECT source, lang,
         CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars_calc,
         ({_SQL_STOP_HITS}) AS stop_hits
  FROM documents
),
s AS (
  SELECT source,
         LEAST(1.0, n_tokens / 100.0) * 0.5
           + (1.0 - stop_hits / n_tokens) * 0.3
           + LEAST(1.0, ((n_chars_calc - (n_tokens - 1)) / n_tokens)
                   / 8.0) * 0.2 AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM base
  WHERE lang IS NOT NULL
),
g AS (
  SELECT source, score, COUNT(*) AS c, CAST(SUM(y) AS BIGINT) AS p
  FROM s WHERE score IS NOT NULL GROUP BY 1, 2
),
o AS (
  SELECT source, c, p,
         COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS cb
  FROM g
),
agg AS (
  SELECT source,
         CAST(SUM(p) AS BIGINT) AS n_pos,
         CAST(SUM(c) - SUM(p) AS BIGINT) AS n_neg,
         CAST(SUM(p * (2 * cb + c + 1)) AS BIGINT) AS two_rank_pos
  FROM o GROUP BY 1
)
SELECT source, n_pos, n_neg,
       ROUND(CAST(two_rank_pos - n_pos * (n_pos + 1) AS DOUBLE)
             / NULLIF(CAST(2 * n_pos * n_neg AS DOUBLE), 0), 6)
         + 0.0 AS auc
FROM agg
"""


def q_calibration_error_docs(spark, sf_dir):
    """Expected / maximum calibration error of the quality score as
    a P(en) probability, per source — closes the evaluation trio
    (calibrate → rank quality (AUC) → calibration gap).  Scores
    quantize to integer micro-units so ECE/MCE are exact-integer up
    to one final division (operators/calibrate.py
    calibration_error)."""
    from loudml_spark.operators.calibrate import calibration_error
    from loudml_spark.pipeline.text import text_stats

    docs = load_table(spark, sf_dir, "documents")
    scored = text_stats(docs).select(
        "source",
        F.col("quality").alias("score"),
        (F.col("lang") == "en").alias("is_en"))
    return calibration_error(
        scored, score_col="score", label_col="is_en", bin_dp=1,
        by=["source"])


SQL_CALIBRATION_ERROR_DOCS = f"""
WITH base AS (
  SELECT source, lang,
         CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars_calc,
         ({_SQL_STOP_HITS}) AS stop_hits
  FROM documents
),
s AS (
  SELECT source,
         LEAST(1.0, n_tokens / 100.0) * 0.5
           + (1.0 - stop_hits / n_tokens) * 0.3
           + LEAST(1.0, ((n_chars_calc - (n_tokens - 1)) / n_tokens)
                   / 8.0) * 0.2 AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM base WHERE lang IS NOT NULL
),
b AS (
  SELECT source, FLOOR(score * 10) / 10 AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS p,
         CAST(SUM(CAST(FLOOR(score * 1000000) AS BIGINT)) AS BIGINT)
           AS sm
  FROM s WHERE score IS NOT NULL GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n,
       ROUND(CAST(SUM(ABS(p * 1000000 - sm)) AS DOUBLE)
             / (SUM(n) * 1000000.0), 6) + 0.0 AS ece,
       ROUND(MAX(ABS(p * 1000000 - sm) / (n * 1000000.0)), 6) + 0.0
         AS mce
FROM b GROUP BY 1
"""


LB_BATCH = 16


def q_length_batch_waste(spark, sf_dir):
    """Length-bucketed batching audit per language: padding tokens
    burned when batches of {batch} pad to their max length, sorted-
    by-length batching vs arrival-order batching (the dataloader
    efficiency decision, quantified).  Both audits are exact integer
    arithmetic (waste = Σ n·max − Σlen); one shuffle each, rank
    windows riding the stratum keys.  See pipeline/sampling.py
    length_batches / padding_waste."""
    from loudml_spark.pipeline.sampling import (
        length_batches,
        padding_waste,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    sb = padding_waste(
        length_batches(docs, token_col="n_chars",
                       batch_size=LB_BATCH, by=["lang"]),
        token_col="n_chars", by=["lang"])
    ab = padding_waste(
        length_batches(docs, token_col="n_chars",
                       batch_size=LB_BATCH, by=["lang"],
                       sort_by_length=False),
        token_col="n_chars", by=["lang"])
    return (
        sb.select("lang", "n_batches", "n_docs", "real_tokens",
                  F.col("pad_tokens").alias("pad_sorted"))
        .join(ab.select("lang",
                        F.col("pad_tokens").alias("pad_arrival")),
              "lang")
    )


SQL_LENGTH_BATCH_WASTE = f"""
WITH s AS (
  SELECT lang, n_chars,
         (row_number() OVER (PARTITION BY lang
                             ORDER BY n_chars, doc_id) - 1)
           // {LB_BATCH} AS batch
  FROM documents
),
a AS (
  SELECT lang, n_chars,
         (row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1)
           // {LB_BATCH} AS batch
  FROM documents
),
sb AS (
  SELECT lang, batch, COUNT(*) AS n, MAX(n_chars) AS mx,
         SUM(n_chars) AS sm
  FROM s GROUP BY 1, 2
),
ab AS (
  SELECT lang, batch, COUNT(*) AS n, MAX(n_chars) AS mx,
         SUM(n_chars) AS sm
  FROM a GROUP BY 1, 2
),
sagg AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_batches,
         CAST(SUM(n) AS BIGINT) AS n_docs,
         CAST(SUM(sm) AS BIGINT) AS real_tokens,
         CAST(SUM(n * mx - sm) AS BIGINT) AS pad_sorted
  FROM sb GROUP BY 1
),
aagg AS (
  SELECT lang, CAST(SUM(n * mx - sm) AS BIGINT) AS pad_arrival
  FROM ab GROUP BY 1
)
SELECT sagg.lang AS lang, n_batches, n_docs, real_tokens,
       pad_sorted, pad_arrival
FROM sagg JOIN aagg ON aagg.lang = sagg.lang
"""


def q_gini_chars_by_source(spark, sf_dir):
    """Gini concentration of character mass per source — the
    corpus-balance audit before trusting per-source sampling rates:
    G → 1 means one document hoards the source's mass.  Exact
    integer rank-weighted sums, one final division
    (operators/profile.py gini_concentration)."""
    from loudml_spark.operators.profile import gini_concentration

    docs = load_table(spark, sf_dir, "documents")
    return gini_concentration(
        docs, value_col="n_chars", by=["source"],
        order_col="doc_id")


SQL_GINI_CHARS_BY_SOURCE = """
WITH r AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS i
  FROM documents WHERE n_chars IS NOT NULL
),
a AS (
  SELECT source, COUNT(*) AS n,
         CAST(SUM(n_chars) AS BIGINT) AS total,
         CAST(SUM(i * n_chars) AS BIGINT) AS s
  FROM r GROUP BY 1
)
SELECT source, n, total,
       CASE WHEN n > 1 THEN
         ROUND(CAST(2 * s - (n + 1) * total AS DOUBLE)
               / NULLIF(CAST(n * total AS DOUBLE), 0), 6) + 0.0
       END AS gini
FROM a
"""


def q_sample_16_per_lang(spark, sf_dir):
    """EXACTLY-16-per-language deterministic sample (eval-set
    carving): rows rank by (fingerprint bucket, doc_id) within each
    language; the first 16 survive — same 16 every run, any engine.
    One shuffle on the language key; strata sort independently.
    Oracle: the identical ROW_NUMBER construction."""
    from loudml_spark.pipeline.sampling import sample_exact_k
    from loudml_spark.pipeline.text import rolling_hash_col

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", rolling_hash_col(F.col("text")).alias("fp"))
    out = sample_exact_k(
        docs, key=F.col("fp"), k=16, order_col="doc_id", by=["lang"],
        rank_col="rank")
    return out.select("doc_id", "lang", "rank")


SQL_SAMPLE_16_PER_LANG = f"""
WITH f AS (SELECT doc_id, lang, {_SQL_FP} AS fp FROM documents),
r AS (
  SELECT doc_id, lang,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY fp % 10000, doc_id
         ) AS INTEGER) AS rank
  FROM f
)
SELECT doc_id, lang, rank FROM r WHERE rank <= 16
"""


def q_normalize_text_docs(spark, sf_dir):
    """Canonical text normalization (pre-dedup step): lowercase,
    control-char strip, whitespace-run collapse, trim — pure Column
    regex, map-only.  BOTH engines seed deterministic mess (an
    upper-cased prefix, a tab, doubled spaces) so every rule fires;
    output is the normalized text plus a changed audit flag."""
    from loudml_spark.pipeline.text import normalize_text

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 300")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.lit("HEADER\t"), F.col("text"),
            F.lit("  trailing  double  spaces "),
        ).alias("text"),
    )
    out = normalize_text(seeded)
    return out.select("doc_id", "text_norm", "changed")


SQL_NORMALIZE_TEXT_DOCS = """
WITH seeded AS (
  SELECT doc_id,
         'HEADER' || chr(9) || text || '  trailing  double  spaces '
           AS text
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text),
            '[\\x00-\\x1f\\x7f]', ' ', 'g'),
            '\\s+', ' ', 'g')) AS text_norm,
       trim(regexp_replace(regexp_replace(lower(text),
            '[\\x00-\\x1f\\x7f]', ' ', 'g'),
            '\\s+', ' ', 'g')) IS DISTINCT FROM text AS changed
FROM seeded
"""


def q_pack_shards_docs(spark, sf_dir):
    """Token-budget shard packing (corpus → training shards): walking
    docs per language in doc_id order, each doc lands in shard
    floor(tokens_before / budget) with its in-shard offset.  One
    shuffle on the language key (the window partition); an
    UNpartitioned running sum would be a single-task window — the
    `by` stratum is what makes packing scale.  Oracle: the same
    running-sum window in SQL."""
    from loudml_spark.pipeline.sampling import pack_shards
    from loudml_spark.pipeline.text import token_count_col

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        token_count_col(F.col("text")).cast("long").alias("n_tokens"),
    )
    out = pack_shards(docs, token_col="n_tokens", budget=2048, by="lang")
    return out.select(
        "doc_id", "lang", "n_tokens", "shard", "shard_offset")


SQL_PACK_SHARDS_DOCS = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, lang, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS before
  FROM t
)
SELECT doc_id, lang, n_tokens,
       CAST(before // 2048 AS BIGINT) AS shard,
       CAST(before - (before // 2048) * 2048 AS BIGINT) AS shard_offset
FROM c
"""


def _rebalance(spark, df):
    """Spread a SKEW-SPLIT input scan across the cores — gated on the
    ACTUAL split count, not unconditional.

    The committed fixture parquet is one tiny file → ONE input split,
    so every heavy per-row map pass (shingle hashing, Arrow cosine,
    langid n-grams) would run on a single core (guide §2.5 input
    skew).  But an unconditional ``repartition(n)`` is a full
    round-robin shuffle of the input before any filter — at 100 TB
    that is a self-inflicted §2 shuffle of the base table (the r12
    verdict's "What's wrong #2").  So: ask the physical plan how many
    splits the scan actually yields (``df.rdd.getNumPartitions()`` —
    driver-side planning only, no job; parquet split math already ran
    at load) and repartition ONLY when the input cannot occupy the
    cores.  A production-scale table yields thousands of ≥128 MB
    splits and is returned unchanged; the one-file fixture still
    rebalances, so sf0.1 bench behavior is identical."""
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    return df.repartition(p)


def q_minhash_signatures_docs(spark, sf_dir):
    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    sigs = minhash_signatures(docs, n=1)
    return sigs.select(
        "doc_id", F.posexplode("sig").alias("k", "minhash")
    )


def _sql_sigs(src: str) -> str:
    """Signature columns s0..s7 from a shingle-hash-list expression."""
    return ", ".join(
        f"list_min(list_append(list_transform({src}, "
        f"h -> ({a} * h + {b}) % {MOD}), CAST({MOD} AS BIGINT))) AS s{k}"
        for k, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )


_SQL_SIGS = _sql_sigs(_SQL_WORD_HASHES)
_SQL_SIG_LIST = "[" + ", ".join(f"s{k}" for k in range(len(MINHASH_A))) + "]"

SQL_MINHASH_SIGNATURES_DOCS = f"""
WITH sig AS (SELECT doc_id, {_SQL_SIGS} FROM documents)
SELECT doc_id, CAST(u.k AS INTEGER) AS k, u.v AS minhash
FROM (
  SELECT doc_id,
         unnest(list_transform(range(8),
                i -> {{'k': i, 'v': {_SQL_SIG_LIST}[i + 1]}})) AS u
  FROM sig
)
"""


def q_minhash_lsh_pairs_docs(spark, sf_dir):
    """The verified >= 0.8 MinHash-LSH pair frame over the doc_id <
    1000 slice — the near-dup EDGE LIST that seven consumers share
    (pagerank ×2, triangle_stats, the component census, kcore,
    incremental components, and the cluster frame).

    A session-cache frame (persisted MEMORY_AND_DISK, counted once):
    the consumers share ONE build of the banding + exact-verify
    pipeline per session instead of each re-running the exact-Jaccard
    verify (the family's dominant CPU stage, ~2.4 s warm at sf0.1 —
    so the graph family re-paid it up to 6×/pass).  The frame is the
    pair pipeline's OUTPUT (one row per verified pair: two ids + a
    double), and every bench/oracle invocation still computes it from
    the parquet inputs inside the timed pass."""
    # this synthetic corpus is pathologically self-similar (median
    # pairwise jaccard ~0.6), which defeats LSH's candidate pruning —
    # bound the input and use 4-row bands (collision prob j^4) so the
    # bench stays O(candidates), not O(n²)
    def build():
        docs = _rebalance(
            spark,
            load_table(spark, sf_dir, "documents").filter("doc_id < 1000"),
        )
        return minhash_lsh_pairs(docs, n=1, bands=2, threshold=0.8)
    return session_cache.memo_frame(spark, "lsh_pairs", build,
                                    table_path(sf_dir, "documents"))


# CTE chain shared by the pair query and the dedup-cluster oracle
_SQL_LSH_CTES = f"""sh AS (
  SELECT doc_id, {_SQL_WORD_HASHES} AS sh FROM documents
  WHERE doc_id < 1000
),
sig AS (
  SELECT doc_id, sh, {_sql_sigs('sh')}
  FROM sh
),
banded AS (
  SELECT doc_id, sh, u.band AS band, u.key AS key
  FROM (
    SELECT doc_id, sh,
           unnest(list_transform(range(2), b -> {{
             'band': b,
             'key': {_SQL_SIG_LIST}[4 * b + 1]
                    + {_SQL_SIG_LIST}[4 * b + 2] * 31
                    + {_SQL_SIG_LIST}[4 * b + 3] * 961
                    + {_SQL_SIG_LIST}[4 * b + 4] * 29791
           }})) AS u
    FROM sig
  )
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
j AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / CAST(len(sa.sh) + len(sb.sh)
                  - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) AS jaccard
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b
)"""

SQL_MINHASH_LSH_PAIRS_DOCS = f"""
WITH {_SQL_LSH_CTES}
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.8
"""

# connected components of the >= 0.8 LSH pair graph: cluster id = min
# reachable doc_id (recursive transitive closure — fine at oracle
# scale; the Spark side uses dedup_clusters instead).
# Docs outside any pair are their own singleton cluster.
SQL_DEDUP_CLUSTERS_DOCS = f"""
WITH RECURSIVE {_SQL_LSH_CTES},
pairs AS (
  SELECT id_a, id_b FROM j WHERE jaccard >= 0.8
),
e AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id
),
comp AS (
  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
)
SELECT d.doc_id,
       COALESCE(comp.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(comp.cluster_id, d.doc_id) = d.doc_id AS is_canonical
FROM (SELECT doc_id FROM documents WHERE doc_id < 1000) d
LEFT JOIN comp ON comp.doc_id = d.doc_id
"""


CDC_MAX_DOC = 300


def q_cdc_chunks_docs(spark, sf_dir):
    """Content-defined chunking of documents (doc_id < {max_doc}):
    rolling-window-hash boundaries make chunk ids EDIT-ROBUST — an
    insertion only changes the chunk containing it, every later
    chunk re-aligns (the storage-dedup trick fixed-size and
    whole-doc hashing lack).  Map-only, exact integer hashing; the
    oracle replays the identical shared cdc_boundaries on the same
    texts.  See pipeline/dedup.py cdc_chunks."""
    from loudml_spark.pipeline.dedup import cdc_chunks

    docs = load_table(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < CDC_MAX_DOC)
    return cdc_chunks(docs)


def q_cdc_dup_chunks_docs(spark, sf_dir):
    """Cross-document duplicate CDC chunks: the dedup signal itself —
    chunk hashes appearing in ≥ 2 documents, with occurrence counts.
    One map-side-combined groupBy on the chunk hash (the ONLY
    exchange of a CDC-dedup pipeline)."""
    from loudml_spark.pipeline.dedup import cdc_chunks

    docs = load_table(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < CDC_MAX_DOC)
    ch = cdc_chunks(docs)
    return (
        ch.groupBy("chunk_hash", "length")
        .agg(F.countDistinct("doc_id").alias("n_docs"),
             F.count("*").alias("n_occurrences"),
             F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs") >= 2)
    )


def _cdc_values(sf_dir=None) -> str:
    import duckdb

    from loudml_spark.oracle_util import resolve_oracle_sf_dir
    from loudml_spark.pipeline.dedup import cdc_boundaries

    sf_dir = resolve_oracle_sf_dir(sf_dir)
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet') "
        f"WHERE doc_id < {CDC_MAX_DOC} AND text IS NOT NULL "
        f"ORDER BY doc_id").fetchall()
    con.close()
    vals = []
    for doc_id, text in rows:
        for cid, (s, ln, h) in enumerate(cdc_boundaries(text)):
            vals.append(f"({int(doc_id)}, {cid}, {s}, {ln}, {h})")
    return ("(VALUES " + ", ".join(vals)
            + ") AS t(doc_id, chunk_id, start, length, chunk_hash)")


def _sql_cdc_chunks_docs(sf_dir=None) -> str:
    return f"SELECT * FROM {_cdc_values(sf_dir)}"


def _sql_cdc_dup_chunks_docs(sf_dir=None) -> str:
    return f"""
SELECT chunk_hash, length,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       COUNT(*) AS n_occurrences,
       MIN(doc_id) AS first_doc
FROM {_cdc_values(sf_dir)}
GROUP BY chunk_hash, length
HAVING COUNT(DISTINCT doc_id) >= 2
"""


CDC_CORPUS_ID = 200  # doc_id < 200 = standing corpus, 200..300 = delta


def q_incremental_cdc_docs(spark, sf_dir):
    """Incremental-ingestion dedup through the EDIT-ROBUST detector:
    which delta documents share CDC chunks with the standing corpus?
    Catches the daily-delta case the exact and LSH incremental
    queries miss — a re-crawled page with one inserted sentence
    shares every chunk but the edited one.  One equi-join of the
    delta's chunk hashes against the corpus' distinct hashes (the
    corpus text never re-chunks per delta at scale: persist its
    chunk-hash table once, append-only).  Output per delta doc:
    n_chunks, n_shared, is_near_dup (≥ half the chunks shared)."""
    from loudml_spark.pipeline.dedup import cdc_chunks

    docs = load_table(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < CDC_MAX_DOC)
    ch = cdc_chunks(docs)
    corpus_h = ch.filter(F.col("doc_id") < CDC_CORPUS_ID) \
        .select("chunk_hash").distinct() \
        .withColumn("__hit", F.lit(1))
    delta = ch.filter(F.col("doc_id") >= CDC_CORPUS_ID)
    return (
        delta.join(corpus_h, "chunk_hash", "left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_chunks"),
             F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
             .alias("n_shared"))
        .withColumn(
            "is_near_dup",
            F.col("n_shared") * 2 >= F.col("n_chunks"))
    )


def _sql_incremental_cdc_docs(sf_dir=None) -> str:
    return f"""
WITH t AS (SELECT * FROM {_cdc_values(sf_dir)}),
c AS (SELECT DISTINCT chunk_hash FROM t
      WHERE doc_id < {CDC_CORPUS_ID}),
d AS (SELECT doc_id, chunk_hash FROM t
      WHERE doc_id >= {CDC_CORPUS_ID})
SELECT d.doc_id AS doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN c.chunk_hash IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_shared,
       SUM(CASE WHEN c.chunk_hash IS NOT NULL THEN 1 ELSE 0 END) * 2
         >= COUNT(*) AS is_near_dup
FROM d LEFT JOIN c ON c.chunk_hash = d.chunk_hash
GROUP BY d.doc_id
"""


CORPUS_SPLIT_ID = 400  # doc_id < 400 = existing corpus, rest = delta


def q_incremental_new_docs(spark, sf_dir):
    """Incremental-ingestion exact dedup: which delta docs
    (doc_id ≥ {split}) already exist verbatim in the corpus
    (doc_id < {split})?  One equi-join of the delta against the
    corpus' per-text minima.  Oracle: the same LEFT JOIN."""
    from loudml_spark.pipeline.dedup import incremental_exact_new

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < CORPUS_SPLIT_ID)
    delta = docs.filter((F.col("doc_id") >= CORPUS_SPLIT_ID)
                        & (F.col("doc_id") < 1000))
    return incremental_exact_new(delta, corpus)


SQL_INCREMENTAL_NEW_DOCS = f"""
WITH idx AS (
  SELECT text, MIN(doc_id) AS dup_of FROM documents
  WHERE doc_id < {CORPUS_SPLIT_ID} GROUP BY text
)
SELECT d.doc_id, idx.dup_of IS NULL AS is_new, idx.dup_of
FROM documents d LEFT JOIN idx USING (text)
WHERE d.doc_id >= {CORPUS_SPLIT_ID} AND d.doc_id < 1000
"""


def q_incremental_lsh_pairs_docs(spark, sf_dir):
    """Incremental near-dup detection: LSH pairs BETWEEN the delta
    (doc_id ≥ {split}) and the corpus (doc_id < {split}) at
    jaccard ≥ 0.8 — the daily-crawl ingestion shape (the cross-frame
    band join moves only (id, band, key); corpus×corpus never
    re-runs).  Oracle: the full-corpus banding CTEs filtered to
    cross pairs (corpus ids sort below delta ids, so id_a < {split}
    ≤ id_b selects exactly the cross-frame candidates)."""
    from loudml_spark.pipeline.dedup import (
        incremental_minhash_pairs,
        shingle_signatures,
    )

    docs = _rebalance(
        spark, load_table(spark, sf_dir, "documents").filter("doc_id < 1000")
    )
    # the production shape: signatures computed ONCE (stored at
    # landing time); corpus and delta sides are filters of the same
    # persisted frame, so the Arrow shingle pass runs once, not twice
    sig = shingle_signatures(docs, n=1, persist=True)
    return incremental_minhash_pairs(
        None, None, n=1, bands=2, threshold=0.8,
        new_sig=sig.filter(F.col("id") >= CORPUS_SPLIT_ID),
        corpus_sig=sig.filter(F.col("id") < CORPUS_SPLIT_ID),
    )


SQL_INCREMENTAL_LSH_PAIRS_DOCS = f"""
WITH {_SQL_LSH_CTES}
SELECT id_a AS corpus_id, id_b AS new_id, jaccard
FROM j
WHERE jaccard >= 0.8
  AND id_a < {CORPUS_SPLIT_ID} AND id_b >= {CORPUS_SPLIT_ID}
"""


def q_ngram_jaccard_pairs_docs(spark, sf_dir):
    """Prefix-filtered inverted-index all-pairs join (PPJoin-style) —
    exact same output as the naive O(N²) verifier, which is retired
    to unit-level parity tests (tests/test_pipeline.py)."""
    from loudml_spark.pipeline.dedup import ngram_jaccard_pairs_indexed

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 100")
    # max_df=100: with ≤100 docs and per-doc-distinct shingles, no
    # document frequency can exceed 100, so the cut is provably a
    # no-op here (exactness preserved at every SF) while exercising
    # the posting-list bound a 100 TB run relies on for skew safety
    return ngram_jaccard_pairs_indexed(
        docs, n=1, threshold=0.8, max_df=100)


SQL_NGRAM_JACCARD_PAIRS_DOCS = f"""
WITH s AS (
  SELECT doc_id, list_distinct({_SQL_WORDS}) AS sh
  FROM documents WHERE doc_id < 100
),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(len(a.sh) + len(b.sh)
                  - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
  FROM s a JOIN s b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.8
"""


def q_decontaminate_docs(spark, sf_dir):
    """Benchmark decontamination: flag corpus documents (doc_id ≥ 20)
    sharing ≥ 8 distinct word 3-grams with any "benchmark" document
    (doc_id < 20 plays the eval set).  Broadcast the small bench
    n-gram side, equi-join on the n-gram hash, map-side-combined
    overlap counts — the corpus text itself never shuffles.  Oracle:
    list_intersect over the same 3-gram hash lists + QUALIFY rank."""
    from loudml_spark.pipeline.dedup import benchmark_overlap

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    corpus = docs.filter("doc_id >= 20")
    bench = docs.filter("doc_id < 20").select(
        F.col("doc_id").alias("bench_id"), "text")
    out = benchmark_overlap(corpus, bench, n=3, min_overlap=8)
    return out.select(
        "doc_id", "matched_bench", "n_overlap", "contaminated")


_SQL_3GRAM_HASHES = (
    "list_distinct(list_transform("
    "range(greatest(len(words) - 2, 0)), "
    "i -> " + _sql_rh(
        "(words[i + 1] || ' ' || words[i + 2] || ' ' || words[i + 3])"
    ) + "))"
)

SQL_DECONTAMINATE_DOCS = f"""
WITH w AS (
  SELECT doc_id, {_SQL_WORDS} AS words FROM documents
),
s AS (
  SELECT doc_id, {_SQL_3GRAM_HASHES} AS sh FROM w
),
hits AS (
  SELECT c.doc_id, b.doc_id AS matched_bench,
         CAST(len(list_intersect(c.sh, b.sh)) AS BIGINT) AS n_overlap
  FROM s c JOIN s b ON c.doc_id >= 20 AND b.doc_id < 20
  WHERE len(list_intersect(c.sh, b.sh)) >= 8
),
best AS (
  SELECT doc_id, matched_bench, n_overlap
  FROM hits
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY n_overlap DESC, matched_bench ASC
  ) = 1
)
SELECT d.doc_id,
       best.matched_bench,
       COALESCE(best.n_overlap, 0) AS n_overlap,
       best.matched_bench IS NOT NULL AS contaminated
FROM documents d LEFT JOIN best ON d.doc_id = best.doc_id
WHERE d.doc_id >= 20
"""


def q_dedup_clusters_docs(spark, sf_dir):
    """LSH pairs → connected components → canonical doc per cluster
    (the keep/drop decision of a dedup pass).  Spark:
    dedup_clusters; oracle: recursive-CTE transitive closure.  Both
    reduce to the same deterministic component-min labels.  A
    session-cache frame (500 rows): the cluster split and survivor
    queries consume it too, and recomputing it per query doubled its
    bench cost."""
    from loudml_spark.pipeline.dedup import dedup_clusters

    def build():
        docs = _rebalance(
            spark,
            load_table(spark, sf_dir, "documents").filter("doc_id < 1000"),
        )
        return dedup_clusters(q_minhash_lsh_pairs_docs(spark, sf_dir), docs)
    return session_cache.memo_frame(spark, "dedup_clusters", build,
                                    table_path(sf_dir, "documents"))


CLUSTER_SPLIT_A = 1299721
CLUSTER_SPLIT_B = 15485863


def q_cluster_split_docs(spark, sf_dir):
    """Near-dup-aware train/val/test split (80/10/10): the group key
    is the NEAR-DUP CLUSTER id, so two near-duplicate documents can
    never straddle the train/eval fence — the contamination a
    row-level (or even source-level) split misses, and the reason
    dedup must run before splitting in a real pipeline.  Composition:
    dedup_clusters ∘ group_split; the cluster id hashes affine→
    quadratic-scramble (small sequential ids would otherwise band).
    The shared cluster frame is cached across the three dedup
    queries."""
    from loudml_spark.pipeline.sampling import group_split, split_bucket
    from loudml_spark.pipeline.text import HASH_MOD, scramble_col

    clusters = q_dedup_clusters_docs(spark, sf_dir)
    gh = scramble_col(
        (F.col("cluster_id") * F.lit(CLUSTER_SPLIT_A)
         + F.lit(CLUSTER_SPLIT_B)) % F.lit(HASH_MOD))
    out = group_split(
        clusters.withColumn("gh", gh), group_key=F.col("gh"),
        weights={"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return out.select(
        "doc_id", "cluster_id",
        split_bucket(F.col("gh")).alias("cluster_bucket"), "split")


SQL_CLUSTER_SPLIT_DOCS = f"""
WITH c AS ({SQL_DEDUP_CLUSTERS_DOCS}),
g AS (
  SELECT doc_id, cluster_id,
         (cluster_id * {CLUSTER_SPLIT_A} + {CLUSTER_SPLIT_B})
           % 1000000007 AS h
  FROM c
),
b AS (
  SELECT doc_id, cluster_id,
         ((h * h % 1000000007 + h) % 1000000007) % 10000
           AS cluster_bucket
  FROM g
)
SELECT doc_id, cluster_id, cluster_bucket,
       CASE WHEN cluster_bucket < 8000 THEN 'train'
            WHEN cluster_bucket < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


def q_dedup_survivors_docs(spark, sf_dir):
    """Survivorship policy on top of near-dup clustering: per cluster
    keep the LONGEST document (tie → lowest doc_id) instead of the
    arbitrary min-id canonical — the decision a curation pass
    actually ships (the cluster's best exemplar, not its smallest
    key).  Composition: dedup_clusters ∘ LSH pairs + one window
    rank over the bounded per-cluster members."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 1000")
    clusters = q_dedup_clusters_docs(spark, sf_dir)
    sized = clusters.join(
        docs.select("doc_id", F.length("text").alias("text_len")),
        "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("text_len").desc(), F.col("doc_id").asc())
    return (
        sized.withColumn("__rk", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.min(F.when(F.col("__rk") == 1, F.col("doc_id")))
            .alias("survivor_doc_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.max("text_len").alias("max_len"),
        )
    )


SQL_DEDUP_SURVIVORS_DOCS = SQL_DEDUP_CLUSTERS_DOCS.replace(
    """SELECT d.doc_id,
       COALESCE(comp.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(comp.cluster_id, d.doc_id) = d.doc_id AS is_canonical
FROM (SELECT doc_id FROM documents WHERE doc_id < 1000) d
LEFT JOIN comp ON comp.doc_id = d.doc_id""",
    """SELECT cluster_id,
       MIN(doc_id) FILTER (rk = 1) AS survivor_doc_id,
       COUNT(*) AS n_members,
       MAX(text_len) AS max_len
FROM (
  SELECT m.*, ROW_NUMBER() OVER (
           PARTITION BY cluster_id
           ORDER BY text_len DESC, doc_id ASC) AS rk
  FROM (
    SELECT d.doc_id,
           COALESCE(comp.cluster_id, d.doc_id) AS cluster_id,
           LENGTH(d.text) AS text_len
    FROM (SELECT doc_id, text FROM documents WHERE doc_id < 1000) d
    LEFT JOIN comp ON comp.doc_id = d.doc_id
  ) m
)
GROUP BY cluster_id""")

assert "survivor_doc_id" in SQL_DEDUP_SURVIVORS_DOCS  # splice guard


def q_simhash_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs).withColumnRenamed("id", "doc_id")


SQL_SIMHASH_DOCS = f"""
WITH w AS (
  SELECT doc_id, unnest({_SQL_WORDS}) AS word FROM documents
),
h AS (
  SELECT doc_id, {_sql_rh('word')} AS h FROM w
),
v AS (
  SELECT doc_id, CAST(b.range AS INTEGER) AS bit,
         SUM(CASE WHEN (h >> CAST(b.range AS INTEGER)) & 1 = 1
                  THEN 1 ELSE -1 END) AS vote
  FROM h, range(32) b
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(CASE WHEN vote >= 0 THEN CAST(pow(2.0, bit) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS simhash
FROM v GROUP BY doc_id
"""


def q_simhash_pairs_docs(spark, sf_dir):
    """Runs the BLOCKED pigeonhole implementation (full recall by
    construction) — the naive O(N²) self-join is retired to
    unit-level parity tests (tests/test_pipeline.py)."""
    from loudml_spark.pipeline.dedup import simhash_pairs_blocked

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 150")
    out = simhash_pairs_blocked(docs, max_distance=6)
    return out.withColumn("hamming", F.col("hamming").cast("int"))


SQL_SIMHASH_PAIRS_DOCS = f"""
WITH w AS (
  SELECT doc_id, unnest({_SQL_WORDS}) AS word
  FROM documents WHERE doc_id < 150
),
h AS (
  SELECT doc_id, {_sql_rh('word')} AS h FROM w
),
v AS (
  SELECT doc_id, CAST(b.range AS INTEGER) AS bit,
         SUM(CASE WHEN (h >> CAST(b.range AS INTEGER)) & 1 = 1
                  THEN 1 ELSE -1 END) AS vote
  FROM h, range(32) b
  GROUP BY 1, 2
),
s AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN vote >= 0 THEN CAST(pow(2.0, bit) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS simhash
  FROM v GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
"""


# ------------------------------------------------------- similarity / ANN

_SQL_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(64), i -> {a}[i + 1]::DOUBLE * {b}[i + 1]::DOUBLE)),"
    " (x, y) -> x + y)"
)


def _sql_cosine(a: str, b: str) -> str:
    dot = _SQL_DOT.format(a=a, b=b)
    na = _SQL_DOT.format(a=a, b=a)
    nb = _SQL_DOT.format(a=b, b=b)
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


def q_simhash_pairs_blocked(spark, sf_dir):
    """Same pair set as simhash_pairs_docs but candidates come from the
    pigeonhole block equi-join (7 blocks for d≤6 — at least one block
    of any qualifying pair matches exactly), not an O(N²) self-join.
    Shares simhash_pairs_docs' oracle: the value-hash match IS the
    proof the blocked path loses nothing."""
    from loudml_spark.pipeline.dedup import simhash_pairs_blocked

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 150")
    out = simhash_pairs_blocked(docs, max_distance=6)
    return out.withColumn("hamming", F.col("hamming").cast("int"))


SQL_SIMHASH_PAIRS_BLOCKED = SQL_SIMHASH_PAIRS_DOCS


def q_embedding_cosine_pairs(spark, sf_dir):
    """Runs the blocked-GEMM exact implementation — the naive
    cartesian verifier is retired to unit-level parity tests
    (tests/test_pipeline.py)."""
    from loudml_spark.pipeline.dedup import embedding_cosine_pairs_blocked

    emb = load_table(spark, sf_dir, "embeddings").filter("vec_id < 100")
    return embedding_cosine_pairs_blocked(emb, threshold=0.3, block_size=32)


def q_embedding_pairs_blocked(spark, sf_dir):
    """Same pairs as embedding_cosine_pairs via the blocked-GEMM exact
    path: block-pair equi-join + one numpy GEMM per block pair (no
    nested-loop join; pair volume distributed evenly over B² keys).
    Shares embedding_cosine_pairs' oracle — exact by construction."""
    from loudml_spark.pipeline.dedup import embedding_cosine_pairs_blocked

    emb = load_table(spark, sf_dir, "embeddings").filter("vec_id < 100")
    return embedding_cosine_pairs_blocked(
        emb, threshold=0.3, block_size=32)


SQL_EMBEDDING_COSINE_PAIRS = f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND({_sql_cosine('a.embedding', 'b.embedding')}, 6) AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.3
"""
SQL_EMBEDDING_PAIRS_BLOCKED = SQL_EMBEDDING_COSINE_PAIRS


# The ANN top-k frames are session-cache frames: every ANN index
# pipeline is consumed at least twice per corpus dir (its own catalog
# query + the recall gate composing it against the exact frame; the
# exact frame itself has SEVEN consumers: its query + six recall gates
# — and the realemb twins repeat the pattern on the fixture dir).  Each
# consumer otherwise re-collects the query vectors / codebooks (driver
# jobs per construction) and re-runs the index scan + rank window.  The
# frame is the pipeline's OUTPUT (|queries|·k ≈ 50-100 rows); every
# bench/oracle run still computes it from parquet inside the timed pass
# (rep-1 carries the build; bench reports cold next to min).
def q_ann_cosine_topk(spark, sf_dir):
    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        return cosine_topk(emb.filter("vec_id < 10"), emb, k=5)
    return session_cache.memo_frame(spark, "ann_exact_topk", build,
                                    table_path(sf_dir, "embeddings"))


SQL_ANN_COSINE_TOPK = f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
p AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND({_sql_cosine('q.embedding', 'c.embedding')}, 6) AS cosine
  FROM q JOIN embeddings c ON q.vec_id != c.vec_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
       ) AS INTEGER) AS rank
FROM p QUALIFY rank <= 5
"""


def q_ann_lsh_topk(spark, sf_dir):
    """ANN scale path (LSH sign-buckets).  Fully oracle-paired since
    r4: the hyperplanes are SEEDED LITERALS, so the DuckDB oracle
    recomputes the exact same buckets (same fold order, same doubles)
    and the value-hash covers buckets + candidate join + ranking."""
    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        return lsh_cosine_topk(emb.filter("vec_id < 10"), emb, k=5,
                               bits=6)
    return session_cache.memo_frame(spark, "ann_lsh_topk", build,
                                    table_path(sf_dir, "embeddings"))


def q_ann_ivf_topk(spark, sf_dir):
    """ANN via IVF (spherical k-means coarse quantizer + n_probe cell
    search).  Fully oracle-paired since r4: centroid training samples
    by a PORTABLE id-hash and runs shared deterministic numpy, so the
    oracle generator retrains bit-identical centroids from the same
    parquet and inlines them as SQL literals — the value-hash covers
    assignment, probing and ranking."""
    from loudml_spark.pipeline.similarity import ivf_cosine_topk

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        return ivf_cosine_topk(emb.filter("vec_id < 10"), emb, k=5,
                               n_centroids=16, n_probe=4)
    return session_cache.memo_frame(spark, "ann_ivf_topk", build,
                                    table_path(sf_dir, "embeddings"))


def q_ann_pq_topk(spark, sf_dir):
    """ANN via product quantization: corpus compresses to m=8
    sub-space codes (8 bytes vs 256 — at 100 TB the codes fit where
    the floats cannot), queries rank by ADC lookup-table sums over
    ONE scan of the code table (no join operator).  Codebooks train
    on the portable id-hash sample through shared deterministic
    numpy, so the oracle retrains bit-identical codebooks and
    recomputes encoding + ADC + ranking entirely in SQL."""
    from loudml_spark.pipeline.similarity import pq_adc_topk

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        return pq_adc_topk(emb.filter("vec_id < 10"), emb, k=5, m=8,
                           n_codes=16)
    return session_cache.memo_frame(spark, "ann_pq_topk", build,
                                    table_path(sf_dir, "embeddings"))


def _sql_pq_subdot(v: str, j: str, cv: str, dsub: int) -> str:
    """Sequential-fold dot of subvector j of ``v`` against a code
    vector column — Spark's numpy path dots THEN normalizes, and the
    fold keeps the sign decisions aligned."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range({dsub}), "
        f"i -> {v}[{j} * {dsub} + i + 1]::DOUBLE * {cv}[i + 1]::DOUBLE)), "
        f"(x, y) -> x + y)"
    )


def _sql_ann_pq_topk(sf_dir=None) -> str:
    """DuckDB mirror of q_ann_pq_topk: retrain the PQ codebooks from
    the same parquet via the shared numpy path, inline them as
    (j, c, cv, half) literals, then recompute corpus encoding
    (argmax of dot/norm − ½‖c‖², ties → lowest code), per-query
    LUTs and ADC sums in SQL."""
    import numpy as np
    import pyarrow.parquet as pq

    from loudml_spark.pipeline.similarity import (
        train_pq_codebooks_from_arrays,
    )

    from loudml_spark.oracle_util import resolve_oracle_sf_dir
    sf_dir = resolve_oracle_sf_dir(sf_dir)
    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                      columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    X = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    CB = train_pq_codebooks_from_arrays(ids, X, m=8, n_codes=16, seed=42)
    m, n_codes, dsub = CB.shape
    halves = 0.5 * np.einsum("mcd,mcd->mc", CB, CB)
    values = ", ".join(
        f"({j}, {c}, ["
        + ", ".join(repr(float(x)) for x in CB[j, c])
        + f"], {halves[j, c]!r})"
        for j in range(m) for c in range(n_codes)
    )
    subdot_e = _sql_pq_subdot("e.embedding", "CB.j", "CB.cv", dsub)
    subdot_q = _sql_pq_subdot("q.embedding", "CB.j", "CB.cv", dsub)
    full_dot = _SQL_DOT.format(a="embedding", b="embedding")
    return f"""
WITH CB(j, c, cv, half) AS (VALUES {values}),
nrm AS (
  SELECT vec_id, GREATEST(sqrt({full_dot}), 1e-12) AS norm
  FROM embeddings
),
sc AS (
  SELECT e.vec_id, CB.j, CB.c,
         {subdot_e} / n.norm - CB.half AS score
  FROM embeddings e JOIN nrm n USING (vec_id) CROSS JOIN CB
),
codes AS (
  SELECT vec_id, j, c AS code
  FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id, j ORDER BY score DESC, c ASC) AS rn
        FROM sc)
  WHERE rn = 1
),
lut AS (
  SELECT q.vec_id AS query_id, CB.j, CB.c,
         {subdot_q} / n.norm AS sim
  FROM embeddings q JOIN nrm n USING (vec_id) CROSS JOIN CB
  WHERE q.vec_id < 10
),
adc AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id,
         ROUND(SUM(l.sim), 6) AS adc
  FROM codes cd JOIN lut l ON l.j = cd.j AND l.c = cd.code
  WHERE l.query_id != cd.vec_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY adc DESC, neighbor_id ASC
       ) AS INTEGER) AS rank
FROM adc QUALIFY rank <= 5
"""


def _sql_list_dot(v: str, lit: list[float]) -> str:
    """Sequential-fold dot of a vector column against a literal list —
    the exact fold order of Spark's F.aggregate(zip_with(...)), so
    sign decisions are bit-identical."""
    arr = "[" + ", ".join(repr(float(x)) for x in lit) + "]"
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range({len(lit)}), "
        f"i -> {v}[i + 1]::DOUBLE * {arr}[i + 1])), (x, y) -> x + y)"
    )


def _sql_ann_lsh_topk(sf_dir=None) -> str:
    """DuckDB mirror of q_ann_lsh_topk with inlined plane literals.
    (``sf_dir`` unused — the planes are seed-derived, not
    data-derived — but the oracle_fn contract threads it.)"""
    from loudml_spark.pipeline.similarity import hyperplanes

    planes = hyperplanes(dim=64, bits=6, seed=42)
    bucket = " + ".join(
        f"(CASE WHEN {_sql_list_dot('embedding', p)} >= 0 "
        f"THEN {2 ** i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
WITH b AS (
  SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
),
p AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND({_sql_cosine('q.embedding', 'c.embedding')}, 6) AS cosine
  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
  WHERE q.vec_id < 10
)
SELECT query_id, neighbor_id, cosine,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
       ) AS INTEGER) AS rank
FROM p QUALIFY rank <= 5
"""


def _sql_ann_ivf_topk(sf_dir=None) -> str:
    """DuckDB mirror of q_ann_ivf_topk.  Retrains the coarse
    quantizer from the same parquet via the shared numpy path (the
    portable sample key makes the sample — hence the centroids —
    bit-identical to Spark's), then inlines centroids as literals.
    ``sf_dir`` MUST match the dir the Spark side runs against (the
    driver's correctness gate runs both at sf0.01, the default);
    it is threaded through ``catalog.oracle_sql(sf_dir)`` rather
    than an env-var side channel so any consumer comparing at a
    different scale factor gets matching centroids."""
    import numpy as np
    import pyarrow.parquet as pq

    from loudml_spark.pipeline.similarity import (
        train_ivf_centroids_from_arrays,
    )

    from loudml_spark.oracle_util import resolve_oracle_sf_dir
    sf_dir = resolve_oracle_sf_dir(sf_dir)
    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                      columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    X = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    C = train_ivf_centroids_from_arrays(ids, X, n_centroids=16, seed=42)
    values = ", ".join(
        "(" + str(j) + ", ["
        + ", ".join(repr(float(x)) for x in row) + "])"
        for j, row in enumerate(C)
    )
    dot = _SQL_DOT.format(a="e.embedding", b="C.cv")
    return f"""
WITH C(cell, cv) AS (VALUES {values}),
a AS (
  SELECT e.vec_id, e.embedding, C.cell,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {dot} DESC, C.cell ASC
         ) AS rn
  FROM embeddings e CROSS JOIN C
),
cor AS (
  SELECT vec_id AS neighbor_id, embedding AS cv, cell FROM a WHERE rn = 1
),
qa AS (
  SELECT vec_id AS query_id, embedding AS qv, cell
  FROM a WHERE vec_id < 10 AND rn <= 4
),
p AS (
  SELECT qa.query_id, cor.neighbor_id,
         ROUND({_sql_cosine('qa.qv', 'cor.cv')}, 6) AS cosine
  FROM qa JOIN cor ON qa.cell = cor.cell
  WHERE qa.query_id != cor.neighbor_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
       ) AS INTEGER) AS rank
FROM p QUALIFY rank <= 5
"""


# ----------------------------------------------------- multimodal / streaming


def q_redact_pii_docs(spark, sf_dir):
    """PII scrub: emails / IPv4 / phone numbers → placeholders, with
    per-kind audit counts.  The synthetic corpus contains no PII, so
    BOTH engines first append a deterministic doc_id-derived
    email+IP+phone suffix to every document — the redaction and its
    counts are then exercised for real and the value-hash covers the
    actual regex semantics, not a vacuous no-match pass.  Map-only
    JVM regex; fingerprints of the redacted text prove replacement
    byte-parity across engines."""
    from loudml_spark.pipeline.text import redact_pii, rolling_hash_col

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 200")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id"),
            F.lit("@example.com at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 or +1555"), (F.col("doc_id") + 1000000).cast("string"),
        ).alias("text"),
    )
    out = redact_pii(seeded)
    return out.select(
        "doc_id", "n_email", "n_ipv4", "n_phone",
        rolling_hash_col(F.col("redacted"), prefix=4096)
        .alias("redacted_fp"),
    )


_SQL_PII_SEED = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) "
    "|| '@example.com at 10.0.' || CAST(doc_id % 256 AS VARCHAR) "
    "|| '.7 or +1555' || CAST(doc_id + 1000000 AS VARCHAR)"
)
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IP = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
_PII_PHONE = "\\+\\d{7,15}\\b"

SQL_REDACT_PII_DOCS = f"""
WITH seeded AS (
  SELECT doc_id, {_SQL_PII_SEED} AS text
  FROM documents WHERE doc_id < 200
),
red AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT)
           AS n_email,
         CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS BIGINT)
           AS n_ipv4,
         CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT)
           AS n_phone,
         regexp_replace(regexp_replace(regexp_replace(text,
           '{_PII_EMAIL}', '[EMAIL]', 'g'),
           '{_PII_IP}', '[IP]', 'g'),
           '{_PII_PHONE}', '[PHONE]', 'g') AS redacted
  FROM seeded
)
SELECT doc_id, n_email, n_ipv4, n_phone,
       {_sql_rh("redacted[1:4096]")} AS redacted_fp
FROM red
"""


def q_char_entropy_docs(spark, sf_dir):
    """Character-entropy gibberish detector per document (nats) —
    natural text ~2.8-3.2, base64 blobs higher, repeated junk → 0.
    One Arrow pass; the oracle recomputes the same -Σ p·ln p over
    character counts with list lambdas (round 9: entropy sums libm
    ln terms whose last ulp is not engine-portable)."""
    from loudml_spark.pipeline.text import char_entropy

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    return char_entropy(docs).select("doc_id", "entropy")


SQL_CHAR_ENTROPY_DOCS = """
WITH c AS (
  SELECT doc_id, string_split(text, '') AS ch,
         CAST(length(text) AS DOUBLE) AS n
  FROM documents
)
SELECT doc_id,
       ROUND(COALESCE(-list_sum(list_transform(
         list_distinct(ch),
         x -> (len(list_filter(ch, y -> y = x)) / n)
              * ln(len(list_filter(ch, y -> y = x)) / n))), 0.0), 9)
         AS entropy
FROM c
"""


def q_url_stats_docs(spark, sf_dir):
    """Web-crawl curation: URL extraction + domain blocklist flag.
    The synthetic corpus has no URLs, so BOTH engines append a
    deterministic doc_id-derived URL suffix (every third doc cites a
    blocklisted domain) — the regex extraction, domain lowering and
    blocklist matching are then exercised for real.  The blocklist
    ships as a Column literal, never a join."""
    from loudml_spark.pipeline.text import url_stats

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 300")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://Site"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p/"), F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit(" and http://blocked.bad/x")).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = url_stats(seeded, blocklist=["blocked.bad"])
    # domains is already sorted-distinct; joined to a scalar CSV so
    # every output column canonicalizes (array cells are unsortable
    # in a pandas frame — the driver's compare would error).
    return out.select(
        "doc_id", "n_urls",
        F.concat_ws(",", "domains").alias("domains_csv"), "blocked")


_SQL_URL_SEED = (
    "text || ' see https://Site' || CAST(doc_id % 7 AS VARCHAR) "
    "|| '.example.com/p/' || CAST(doc_id AS VARCHAR) "
    "|| (CASE WHEN doc_id % 3 = 0 THEN ' and http://blocked.bad/x' "
    "ELSE '' END)"
)

SQL_URL_STATS_DOCS = f"""
WITH seeded AS (
  SELECT doc_id, {_SQL_URL_SEED} AS text
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
         'https?://[A-Za-z0-9.-]+(?:/[^\\s]*)?')) AS BIGINT) AS n_urls,
       array_to_string(list_sort(list_distinct(list_transform(
         regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)', 1),
         x -> lower(x)))), ',') AS domains_csv,
       len(list_filter(
         list_distinct(list_transform(
           regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)', 1),
           x -> lower(x))),
         d -> d = 'blocked.bad')) > 0 AS blocked
FROM seeded
"""


def q_chunk_docs_32_24(spark, sf_dir):
    """Overlapping token-window chunking (32-token chunks every 24 —
    the pre-embedding step of a retrieval pipeline).  Map-only: split
    → start sequence → slice → posexplode, all inside the scan stage.
    Bounded to doc_id < 100 so the oracle diff stays small; the
    operator itself is corpus-size-free.  Oracle: the same slicing
    via a lateral UNNEST(range(0, n, stride))."""
    from loudml_spark.pipeline.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 100")
    return chunk_documents(docs, size=32, stride=24)


SQL_CHUNK_DOCS_32_24 = f"""
WITH w AS (
  SELECT doc_id, {_SQL_WORDS} AS words FROM documents
  WHERE doc_id < 100
)
SELECT doc_id,
       CAST(t.s // 24 AS INTEGER) AS chunk_id,
       CAST(len(list_slice(words, t.s + 1, t.s + 32)) AS BIGINT)
         AS n_tokens,
       array_to_string(list_slice(words, t.s + 1, t.s + 32), ' ')
         AS chunk_text
FROM w, UNNEST(range(0, len(words), 24)) AS t(s)
"""


def q_embedding_centroids(spark, sf_dir):
    """Per-group embedding centroids (cluster labeling / corpus
    profile vectors): posexplode → map-side-combined per-(group, dim)
    averages → dim-sorted array re-assembly.  The shuffle carries
    |groups|·|dims| aggregates however large the corpus; a
    collect_list-of-vectors formulation would shuffle every vector.
    Elements round to 6 dp on both sides (summation-order ulps).
    Groups are vec_id % 8 (synthetic labels — the operator is the
    point)."""
    from loudml_spark.pipeline.embeddings import group_centroids

    emb = load_table(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 8).alias("grp"), "embedding")
    out = group_centroids(emb, group_col="grp")
    # Scalarized output (one row per (grp, dim)): array cells break
    # the driver's pandas canonicalizer, same posexplode pattern as
    # q_minhash_signatures_docs.
    return out.select(
        "grp", "n_vectors",
        F.posexplode(
            F.transform("centroid", lambda x: F.round(x, 6))
        ).alias("dim", "value"),
    )


SQL_EMBEDDING_CENTROIDS = """
WITH e AS (
  SELECT vec_id % 8 AS grp, embedding FROM embeddings
),
d AS (
  SELECT grp, t.i AS dim, embedding[t.i + 1] AS v
  FROM e, UNNEST(range(len(embedding))) AS t(i)
),
p AS (
  SELECT grp, dim, ROUND(AVG(CAST(v AS DOUBLE)), 6) AS a,
         COUNT(*) AS n
  FROM d GROUP BY 1, 2
)
SELECT grp, CAST(n AS BIGINT) AS n_vectors,
       CAST(dim AS INTEGER) AS dim, a AS value
FROM p
"""


def q_multimodal_features(spark, sf_dir):
    from loudml_spark.pipeline.multimodal import (
        extract_features,
        fake_media_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = fake_media_table(docs)
    out = extract_features(media, use_fake_decoder=True)
    return out.select("media_id", "media_type", "n_bytes", "sha256")


SQL_MULTIMODAL_FEATURES = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256
FROM documents
"""


def q_streaming_detect_1h(spark, sf_dir):
    """The batch anomaly pipeline executed THROUGH Structured
    Streaming (file source → applyInPandasWithState → memory sink),
    so the streaming path itself is oracle-checked."""
    import shutil
    import tempfile

    from loudml_spark.catalog import _scored_series
    from loudml_spark.catalog_ext import _small_shuffle
    from loudml_spark.streaming.job import (
        drain_stream_to_df,
        stateful_detect_stream,
    )

    scored = _scored_series(spark, sf_dir).select(
        F.lit("m1").alias("model"), "bucket_ts", "score"
    )
    tmp = tempfile.mkdtemp(prefix="lms_stream_")
    try:
        with _small_shuffle(spark):
            scored.coalesce(1).write.mode("overwrite").parquet(tmp)
            stream = spark.readStream.schema(
                "model string, bucket_ts long, score double"
            ).parquet(tmp)
            out = stateful_detect_stream(stream, key_col="model")
            return drain_stream_to_df(
                out,
                ["model", "bucket_ts", "score", "is_anomaly", "episode_id"],
                prefix="stream_detect",
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _sql_streaming_detect_1h(sf_dir=None) -> str:
    from loudml_spark.catalog import _SQL_SCORED_SERIES

    return _SQL_SCORED_SERIES + """
, m AS (
  SELECT bucket_ts, score,
         CASE WHEN score >= 99.7 THEN 1
              WHEN score < 68.0 THEN 0 END AS mark
  FROM scored
),
c AS (
  SELECT *,
         COALESCE(LAST_VALUE(mark IGNORE NULLS) OVER (
           ORDER BY bucket_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS open_now,
         COALESCE(LAST_VALUE(mark IGNORE NULLS) OVER (
           ORDER BY bucket_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS was_open
  FROM m
),
d AS (
  SELECT *,
         CASE WHEN COALESCE(mark, -1) = 1 AND was_open = 0
              THEN 1 ELSE 0 END AS is_start
  FROM c
)
SELECT 'm1' AS model, bucket_ts, score,
       COALESCE(mark, -1) = 1 AS is_anomaly,
       CASE WHEN open_now = 1
            THEN SUM(is_start) OVER (ORDER BY bucket_ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END
         AS episode_id
FROM d
"""


def q_dedup_lines_docs(spark, sf_dir):
    """C4-style boilerplate-line removal: lines occurring in more
    than 2 distinct documents are dropped, originals re-join in
    order.  The synthetic corpus is single-line, so BOTH engines
    seed deterministic boilerplate (a copyright footer on every doc,
    a subscribe banner on even ids, a unique footnote per doc) — the
    split / trim / global-frequency / rebuild machinery is then
    exercised for real.  Bounded to doc_id < 300 for the oracle
    diff; the operator is corpus-size-free (pipeline/text.py
    dedup_lines)."""
    from loudml_spark.pipeline.text import dedup_lines

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 300")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 2 == 0,
                   F.lit("SUBSCRIBE to our newsletter\n"))
            .otherwise(F.lit("")),
            F.col("text"),
            F.lit("\nCopyright 2024 Example Corp\nfootnote "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return dedup_lines(seeded, max_doc_freq=2)


SQL_DEDUP_LINES_DOCS = """
WITH seeded AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0
               THEN 'SUBSCRIBE to our newsletter' || chr(10)
               ELSE '' END)
         || text
         || chr(10) || 'Copyright 2024 Example Corp'
         || chr(10) || 'footnote ' || CAST(doc_id AS VARCHAR) AS text
  FROM documents WHERE doc_id < 300
),
ls AS (
  SELECT doc_id, string_split(text, chr(10)) AS parts FROM seeded
),
lines AS (
  SELECT doc_id, t.i AS line_no, trim(parts[t.i + 1]) AS line
  FROM ls, UNNEST(range(len(parts))) AS t(i)
  WHERE length(trim(parts[t.i + 1])) >= 1
),
freq AS (
  SELECT line, COUNT(DISTINCT doc_id) AS df FROM lines GROUP BY line
)
SELECT l.doc_id,
       CAST(SUM(CASE WHEN f.df <= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lines_kept,
       CAST(SUM(CASE WHEN f.df > 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lines_dropped,
       COALESCE(array_to_string(
         list(l.line ORDER BY l.line_no) FILTER (WHERE f.df <= 2),
         chr(10)), '') AS text
FROM lines l JOIN freq f USING (line)
GROUP BY l.doc_id
"""



# ------------------------------------------------- winnowing fingerprints


def q_winnow_fingerprints_docs(spark, sf_dir):
    """MOSS winnowing fingerprints (k=8 chars, window w=4) over the
    document corpus — the partial-overlap detector whole-document
    MinHash lacks: any shared substring of length >= k+w-1 = 11 chars
    is guaranteed to yield a shared fingerprint.  Selection is a plain
    windowed MIN over the combined (hash, rightmost-pos) integer
    encoding, identical in Spark and the SQL oracle (see
    pipeline/text.py winnow_fingerprints).  Explode is map-side; the
    only shuffle partitions BY DOCUMENT."""
    from loudml_spark.pipeline.text import winnow_fingerprints

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents")) \
        .filter(F.col("doc_id") < 200).select("doc_id", "text")
    return winnow_fingerprints(docs, k=8, w=4)


def _winnow_sql_cte(docs_sql: str, k: int = 8, w: int = 4) -> str:
    """Shared oracle CTE: winnowing over ``docs_sql`` (doc_id, text)."""
    from loudml_spark.pipeline.text import winnow_hash_sql

    h = winnow_hash_sql("t", "pos", k)
    return f"""
WITH d AS ({docs_sql}),
dd AS (SELECT doc_id, substr(text, 1, 2040) AS t FROM d),
p AS (
  SELECT doc_id, t,
         unnest(generate_series(1, length(t) - {k - 1})) AS pos
  FROM dd WHERE length(t) >= {k}
), g AS (
  SELECT doc_id, pos, {h} AS h FROM p
), c AS (
  SELECT doc_id, pos, h * 2048 + (2047 - pos) AS comb FROM g
), wnd AS (
  SELECT doc_id, pos,
         MIN(comb) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)
           AS cmin
  FROM c
), fps AS (
  SELECT DISTINCT doc_id, cmin // 2048 AS fp,
         CAST(2047 - cmin % 2048 AS INTEGER) AS pos
  FROM wnd WHERE pos >= {w}
)"""


def _sql_winnow_fingerprints_docs(sf_dir=None) -> str:
    return _winnow_sql_cte(
        "SELECT doc_id, text FROM documents WHERE doc_id < 200"
    ) + "\nSELECT doc_id, fp, pos FROM fps"


def q_winnow_overlap_pairs(spark, sf_dir):
    """Partial-overlap pair detection via shared winnowing
    fingerprints, demonstrated on a SEEDED corpus with ground truth:
    each base doc i spawns members (i, i+1000) sharing a ~30-char
    injected segment interleaving the doc id with four distinct
    padding blocks (every 8-gram of it contains the doc id, so none is
    corpus boilerplate, and no two grams repeat; member b's remainder
    is the reversed text).  The winnowing guarantee
    (shared substring >= k+w-1 = 11 chars -> >= 1 shared fingerprint)
    makes every seeded pair present in the answer — pinned by a unit
    test; additional pairs are GENUINE >= 11-char overlaps in the
    word-soup corpus.  Fingerprints appearing in more than 4 documents
    are dropped first (stop-gram cut — the same document-frequency
    bound that keeps LSH band buckets from exploding on boilerplate),
    then pairs form by fingerprint EQUI-join and keep >= 2 shared
    prints.  At 100 TB the df cut is what bounds the self-join
    fan-out.  Slice: doc_id < 500 = the FULL table at the sf0.01
    correctness gate (500 seeded pairs there), a bounded bench input
    at sf0.1 — r8, lifted from the r7 doc_id < 60 demo slice."""
    from loudml_spark.pipeline.text import winnow_fingerprints

    base = _rebalance(spark, load_table(spark, sf_dir, "documents")) \
        .filter(F.col("doc_id") < 500).select("doc_id", "text")
    did = F.col("doc_id").cast("string")
    seg = F.concat(F.lit("zq"), did, F.lit("avq"), did, F.lit("bwq"),
                   did, F.lit("cxq"), did, F.lit("dyq "))
    a = base.select("doc_id", F.concat(seg, F.col("text")).alias("text"))
    b = base.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(seg, F.reverse(F.col("text"))).alias("text"))
    fps = winnow_fingerprints(a.unionByName(b), k=8, w=4) \
        .select("doc_id", "fp").distinct()
    rare = fps.join(
        fps.groupBy("fp").agg(
            F.countDistinct("doc_id").alias("df")).filter(F.col("df") <= 4),
        "fp")
    lhs = rare.select(F.col("doc_id").alias("doc_a"), "fp")
    rhs = rare.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        lhs.join(rhs, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.countDistinct("fp").alias("shared_fps"))
        .filter(F.col("shared_fps") >= 2)
    )


def _sql_winnow_overlap_pairs(sf_dir=None) -> str:
    seeded = """
  SELECT doc_id,
         'zq' || CAST(doc_id AS VARCHAR) || 'avq'
              || CAST(doc_id AS VARCHAR) || 'bwq'
              || CAST(doc_id AS VARCHAR) || 'cxq'
              || CAST(doc_id AS VARCHAR) || 'dyq ' || text AS text
  FROM documents WHERE doc_id < 500
  UNION ALL
  SELECT doc_id + 10000000,
         'zq' || CAST(doc_id AS VARCHAR) || 'avq'
              || CAST(doc_id AS VARCHAR) || 'bwq'
              || CAST(doc_id AS VARCHAR) || 'cxq'
              || CAST(doc_id AS VARCHAR) || 'dyq ' || reverse(text)
  FROM documents WHERE doc_id < 500"""
    return _winnow_sql_cte(seeded) + """,
u AS (SELECT DISTINCT doc_id, fp FROM fps),
rare AS (
  SELECT u.doc_id, u.fp FROM u
  JOIN (SELECT fp FROM u GROUP BY fp
        HAVING COUNT(DISTINCT doc_id) <= 4) k ON u.fp = k.fp
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(DISTINCT a.fp) AS BIGINT) AS shared_fps
FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(DISTINCT a.fp) >= 2
"""




# ------------------------------------------------- unigram LM quality


def q_lm_score_docs(spark, sf_dir):
    """Unigram-LM quality score over `documents`: mean token
    log-probability under an add-one-smoothed unigram model fit on
    the corpus itself (CCNet-style LM quality filtering, unigram
    fidelity) + per-doc OOV rate.  One token-count shuffle, bounded
    driver collect (<= vocab_size rows), broadcast model, one per-doc
    aggregation — see pipeline/corpus.py lm_score."""
    from loudml_spark.pipeline.corpus import lm_score

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    return lm_score(docs, vocab_size=500)


SQL_LM_SCORE_DOCS = """
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents
),
counts AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY token),
n AS (SELECT CAST(SUM(tf) AS BIGINT) AS n FROM counts),
vocab AS (
  SELECT token, tf FROM counts ORDER BY tf DESC, token ASC LIMIT 500
),
v AS (SELECT COUNT(*) AS v FROM vocab),
model AS (
  SELECT token, ln((tf + 1) / CAST(n.n + v.v + 1 AS DOUBLE)) AS logp
  FROM vocab, n, v
),
oov AS (SELECT ln(1.0 / CAST(n.n + v.v + 1 AS DOUBLE)) AS logp FROM n, v),
scored AS (
  SELECT t.doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(CASE WHEN m.logp IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_oov,
         SUM(COALESCE(m.logp, (SELECT logp FROM oov))) AS s
  FROM tok t LEFT JOIN model m ON t.token = m.token
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       COALESCE(s.n_tokens, 0) AS n_tokens,
       COALESCE(s.n_oov, 0) AS n_oov,
       s.n_oov * 1.0 / s.n_tokens AS oov_rate,
       ROUND(s.s / s.n_tokens, 6) AS avg_logp
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
"""



# ------------------------------------------------- SemDeDup (embeddings)


def _semdedup_corpus(spark, sf_dir):
    """Seeded SemDeDup corpus: the embeddings table plus, for each
    vec_id < 100, a DETERMINISTIC semantic near-duplicate (id+10000)
    whose second half is scaled by 0.5 — halving is exactly
    representable in float32, so both engines derive bit-identical
    vectors and cosine(orig, copy) ≈ 0.94 lands above the 0.9
    threshold while the organic corpus (max pairwise cosine < 0.9)
    stays below it."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    pert = emb.filter("vec_id < 100").select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.concat(
            F.slice("embedding", 1, 32),
            F.transform(
                F.slice("embedding", 33, 32),
                lambda x: (x * F.lit(0.5)).cast("float"),
            ),
        ).alias("embedding"),
    )
    return emb.unionByName(pert)


def q_semdedup_pairs_emb(spark, sf_dir):
    """SemDeDup candidate pairs (Abbas et al. 2023): coarse-quantizer
    clustering bounds the quadratic cosine comparison to WITHIN each
    cell — a plain equi-join on the cell id, never an all-pairs scan.
    Centroids train on the portable id-hash sample through shared
    deterministic numpy, so the oracle retrains bit-identical
    centroids and replays assignment + pairing in SQL.  A
    session-cache frame: semdedup_survivors_emb consumes it too, and
    centroid training + assignment + the cell self-join are the
    expensive part."""
    from loudml_spark.pipeline.similarity import (
        semdedup_n_centroids,
        semdedup_pairs,
    )

    def build():
        corpus = _semdedup_corpus(spark, sf_dir)
        # scale the CELL COUNT with the corpus so cell SIZE stays
        # ~constant (the r8 scale audit measured 16 fixed cells going
        # quadratic: 3.9 s → 58 s for 10× vectors at constant output).
        # All driver SFs still resolve to 16, so oracles are unchanged;
        # the oracle generator applies the same rule to the same count.
        n_cells = semdedup_n_centroids(corpus.count())
        return semdedup_pairs(corpus, threshold=0.9, n_centroids=n_cells)
    return session_cache.memo_frame(spark, "semdedup_pairs", build,
                                    table_path(sf_dir, "embeddings"))


def q_semdedup_survivors_emb(spark, sf_dir):
    """SemDeDup keep/drop decision: connected components over the
    within-cell cosine pairs (the O(log n) large/small-star pass
    shared with the MinHash dedup path), min-id exemplar per
    component, unpaired vectors as singletons.  Shares the cached
    pair frame with semdedup_pairs_emb."""
    from loudml_spark.pipeline.dedup import dedup_clusters

    pairs = q_semdedup_pairs_emb(spark, sf_dir).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    )
    ids = _semdedup_corpus(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"))
    return dedup_clusters(pairs, ids, id_col="vec_id")


_SQL_SEMDEDUP_CORPUS = """
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id,
         embedding[1:32] || list_transform(
           embedding[33:64], x -> CAST(x * 0.5 AS FLOAT)) AS embedding
  FROM embeddings WHERE vec_id < 100
"""


def _sql_semdedup_cte(sf_dir) -> str:
    """Shared oracle CTE: retrain centroids from the seeded corpus
    (same portable sample key + numpy as the Spark side), inline them
    as literals, replay assignment and within-cell pairing."""
    import numpy as np
    import pyarrow.parquet as pq

    from loudml_spark.oracle_util import resolve_oracle_sf_dir
    from loudml_spark.pipeline.similarity import (
        train_ivf_centroids_from_arrays,
    )

    sf_dir = resolve_oracle_sf_dir(sf_dir)
    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                      columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    X = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    m = ids < 100
    Xp = X[m].copy()
    Xp[:, 32:] = (Xp[:, 32:] * np.float32(0.5))
    ids_c = np.concatenate([ids, ids[m] + 10000])
    X_c = np.concatenate([X, Xp]).astype(np.float64)
    from loudml_spark.pipeline.similarity import semdedup_n_centroids

    # same corpus-size → cell-count rule as the Spark side
    C = train_ivf_centroids_from_arrays(
        ids_c, X_c, n_centroids=semdedup_n_centroids(len(ids_c)),
        seed=42)
    values = ", ".join(
        "(" + str(j) + ", ["
        + ", ".join(repr(float(x)) for x in row) + "])"
        for j, row in enumerate(C)
    )
    dot = _SQL_DOT.format(a="e.embedding", b="C.cv")
    return f"""
WITH RECURSIVE C(cell, cv) AS (VALUES {values}),
corpus AS ({_SQL_SEMDEDUP_CORPUS}),
a AS (
  SELECT e.vec_id, e.embedding, C.cell,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {dot} DESC, C.cell ASC
         ) AS rn
  FROM corpus e CROSS JOIN C
),
cells AS (SELECT vec_id, embedding, cell FROM a WHERE rn = 1),
p AS (
  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND({_sql_cosine('a.embedding', 'b.embedding')}, 6) AS cosine
  FROM cells a JOIN cells b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
),
pairs AS (SELECT cell, id_a, id_b, cosine FROM p WHERE cosine >= 0.9)"""


def _sql_semdedup_pairs_emb(sf_dir=None) -> str:
    return _sql_semdedup_cte(sf_dir) + """
SELECT cell, id_a, id_b, cosine FROM pairs
"""


def _sql_semdedup_survivors_emb(sf_dir=None) -> str:
    return _sql_semdedup_cte(sf_dir) + """,
e AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id
),
comp AS (
  SELECT id AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY id
)
SELECT d.vec_id,
       COALESCE(comp.cluster_id, d.vec_id) AS cluster_id,
       COALESCE(comp.cluster_id, d.vec_id) = d.vec_id AS is_canonical
FROM (SELECT vec_id FROM corpus) d
LEFT JOIN comp ON comp.vec_id = d.vec_id
"""



def q_bloom_decontaminate_docs(spark, sf_dir):
    """Same contamination answer as decontaminate_docs, produced
    through the BLOOM-prefiltered path (pipeline/dedup.py
    benchmark_overlap_bloom): the eval-set grams compress to an 8 KB
    literal word array, corpus docs with < min_overlap Bloom-passing
    grams never reach the verification join, survivors verify
    exactly.  Shares the exact operator's oracle — the value-hash
    match IS the proof the prefilter loses nothing (the
    simhash_pairs_blocked pattern)."""
    from loudml_spark.pipeline.dedup import (
        benchmark_overlap_bloom,
        build_bloom_words,
    )

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    corpus = docs.filter("doc_id >= 20")
    bench = docs.filter("doc_id < 20").select(
        F.col("doc_id").alias("bench_id"), "text")
    # the Bloom words are a static artifact of the eval set: build
    # once per session and reuse — the production amortization
    words = session_cache.memo(
        spark, "bloom_words", lambda: build_bloom_words(bench, n=3),
        table_path(sf_dir, "documents"))
    return benchmark_overlap_bloom(
        corpus, bench, n=3, min_overlap=8, words=words)


SQL_BLOOM_DECONTAMINATE_DOCS = SQL_DECONTAMINATE_DOCS


def q_pack_sequences_docs(spark, sf_dir):
    """Fixed-window sequence packing (the pretraining rule that SPLITS
    straddling documents at window boundaries, vs pack_shards'
    charge-to-first-shard): per language, concatenate docs in doc_id
    order and cut every 256 tokens.  One shuffle on the language key
    (the window partition); the boundary explode adds at most
    1 + n_tokens/256 rows per doc, map-side.  Oracle: the same int64
    running-sum + generate_series construction in SQL."""
    from loudml_spark.pipeline.sampling import pack_sequences
    from loudml_spark.pipeline.text import token_count_col

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        token_count_col(F.col("text")).cast("long").alias("n_tokens"),
    )
    return pack_sequences(
        docs, token_col="n_tokens", seq_len=256, by="lang")


SQL_PACK_SEQUENCES_DOCS = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, lang, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS s
  FROM t WHERE n_tokens > 0
),
e AS (
  SELECT doc_id, lang, n_tokens, s, s + n_tokens AS e,
         unnest(generate_series(CAST(s // 256 AS BIGINT), CAST((s + n_tokens - 1) // 256 AS BIGINT)))
           AS seq_id
  FROM c
)
SELECT doc_id, lang, n_tokens, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(GREATEST(s, seq_id * 256) - seq_id * 256 AS BIGINT)
         AS offset_in_seq,
       CAST(GREATEST(s, seq_id * 256) - s AS BIGINT) AS tok_begin,
       CAST(LEAST(e, (seq_id + 1) * 256) - s AS BIGINT) AS tok_end
FROM e
"""



def q_centroid_similarity_labels(spark, sf_dir):
    """Embedding-space drift monitor: pairwise cosine between label
    centroids.  The pair computation is an equi-join on the DIMENSION
    index over per-(label, dim) averages — |labels|²·|dims| partial
    products independent of corpus size, and no non-equi vector pair
    join anywhere (plan-gate-clean).  See
    pipeline/embeddings.py centroid_similarity."""
    from loudml_spark.pipeline.embeddings import centroid_similarity

    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", "embedding")
    out = centroid_similarity(emb, group_col="label")
    return out.select(
        F.col("grp_a").cast("int").alias("grp_a"),
        F.col("grp_b").cast("int").alias("grp_b"),
        "cosine")


SQL_CENTROID_SIMILARITY_LABELS = """
WITH d AS (
  SELECT label, t.i AS dim, embedding[t.i + 1] AS v
  FROM embeddings, UNNEST(range(len(embedding))) AS t(i)
),
p AS (
  SELECT label, dim, AVG(CAST(v AS DOUBLE)) AS a
  FROM d GROUP BY 1, 2
),
n AS (
  SELECT label, sqrt(SUM(a * a)) AS nrm FROM p GROUP BY label
),
dots AS (
  SELECT x.label AS grp_a, y.label AS grp_b, SUM(x.a * y.a) AS dot
  FROM p x JOIN p y ON x.dim = y.dim AND x.label < y.label
  GROUP BY 1, 2
)
SELECT CAST(d.grp_a AS INTEGER) AS grp_a,
       CAST(d.grp_b AS INTEGER) AS grp_b,
       ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots d
JOIN n na ON na.label = d.grp_a
JOIN n nb ON nb.label = d.grp_b
"""



def q_containment_pairs_docs(spark, sf_dir):
    """Asymmetric near-dup: n-gram CONTAINMENT |A∩B|/|A| on a seeded
    corpus — each excerpt doc (id+10M) is the first 200 chars of its
    base, so containment(excerpt→base) ≈ 1 while symmetric
    Jaccard would dilute toward the size ratio.  Candidates come from
    the shared-gram equi-join under a df ≤ 8 stop-gram cut (the
    LSH-band df-bound); counts are exact ints, containments single
    IEEE divisions.  See pipeline/dedup.py ngram_containment_pairs.
    Slice: doc_id < 500 = the FULL table at the sf0.01 correctness
    gate, bounded at sf0.1 — r8, lifted from the r7 doc_id < 40
    demo slice; the df cut is what keeps the lifted join safe."""
    from loudml_spark.pipeline.dedup import ngram_containment_pairs

    base = _rebalance(spark, load_table(spark, sf_dir, "documents")) \
        .filter(F.col("doc_id") < 500).select("doc_id", "text")
    exc = base.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.substring("text", 1, 200).alias("text"))
    corpus = base.unionByName(exc)
    return ngram_containment_pairs(
        corpus, n=3, threshold=0.6, max_df=8)


SQL_CONTAINMENT_PAIRS_DOCS = f"""
WITH d AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 500
  UNION ALL
  SELECT doc_id + 10000000, substr(text, 1, 200)
  FROM documents WHERE doc_id < 500
),
w AS (SELECT doc_id, {{words}} AS words FROM d),
s AS (SELECT doc_id, {{gh}} AS sh FROM w),
e0 AS (SELECT doc_id AS id, unnest(sh) AS h FROM s),
keep AS (SELECT h FROM e0 GROUP BY h HAVING COUNT(*) <= 8),
e AS (SELECT id, e0.h FROM e0 JOIN keep ON e0.h = keep.h),
sz AS (SELECT id, COUNT(*) AS sz FROM e GROUP BY id),
c AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM e a JOIN e b ON a.h = b.h AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
       n_common * 1.0 / sa.sz AS containment_a,
       n_common * 1.0 / sb.sz AS containment_b
FROM c
JOIN sz sa ON sa.id = c.id_a
JOIN sz sb ON sb.id = c.id_b
WHERE n_common * 1.0 / sa.sz >= 0.6
   OR n_common * 1.0 / sb.sz >= 0.6
""".format(words="string_split(text, ' ')", gh=_SQL_3GRAM_HASHES)

def q_embedding_covariance(spark, sf_dir):
    """Population covariance matrix of the embedding column, rows
    (i, j, n, cov) for i <= j — the distributed-PCA first pass
    (pipeline/embeddings.py embedding_covariance): one numpy Gram
    pass per partition, d(d+1)/2 partials shuffled per partition,
    independent of corpus rows.  The oracle recomputes per-entry
    Σxy/n − (Σx/n)(Σy/n) from an UNNEST self-join."""
    from loudml_spark.pipeline.embeddings import embedding_covariance

    emb = _rebalance(spark, load_table(spark, sf_dir, "embeddings"))
    out = embedding_covariance(emb)
    # +0.0 collapses IEEE negative zero (round can emit -0.0, whose
    # bit pattern breaks the driver's canonical sort/hash)
    return out.withColumn("cov", F.col("cov") + F.lit(0.0))


SQL_EMBEDDING_COVARIANCE = """
WITH e AS (
  SELECT vec_id, CAST(t.i AS INTEGER) AS dim,
         CAST(embedding[t.i + 1] AS DOUBLE) AS v
  FROM embeddings, UNNEST(range(len(embedding))) AS t(i)
)
SELECT a.dim AS i, b.dim AS j, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(a.v * b.v) / COUNT(*)
             - (SUM(a.v) / COUNT(*)) * (SUM(b.v) / COUNT(*)), 6)
       + 0.0 AS cov
FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.dim <= b.dim
GROUP BY 1, 2
"""


def q_pmi_pairs_docs(spark, sf_dir):
    """Collocation mining: PMI of token pairs by document-level
    co-occurrence on a fixed 200-doc slice (pipeline/corpus.py
    pmi_pairs — pair fan-out is a self equi-join ON THE DOCUMENT,
    bounded by per-doc vocabulary).  Counts exact ints; the single
    ln rounds at 6 dp."""
    from loudml_spark.pipeline.corpus import pmi_pairs

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents")) \
        .filter(F.col("doc_id") < 200).select("doc_id", "text")
    return pmi_pairs(docs, min_pair_count=20)


SQL_PMI_PAIRS_DOCS = """
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
t AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM d
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM d),
f AS (SELECT token, COUNT(*) AS df FROM t GROUP BY 1),
pr AS (
  SELECT a.token AS token_a, b.token AS token_b, COUNT(*) AS c
  FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2 HAVING COUNT(*) >= 20
)
SELECT pr.token_a, pr.token_b, CAST(pr.c AS BIGINT) AS n_docs,
       ROUND(ln(CAST(pr.c AS DOUBLE) * n.n_docs
                / (CAST(fa.df AS DOUBLE) * fb.df)), 6) + 0.0 AS pmi
FROM pr
CROSS JOIN n
JOIN f fa ON fa.token = pr.token_a
JOIN f fb ON fb.token = pr.token_b
"""


def q_embedding_outliers(spark, sf_dir):
    """PCA-whitened Mahalanobis outlier scores over the embeddings
    table (pipeline/embeddings.py embedding_outlier_scores): fit on
    a bounded portable-hash sample (bit-reproducible driver numpy
    pass, the IVF training discipline), score map-only with (k·d+2k)
    plan literals.  The oracle refits through the SAME
    _pca_fit_arrays on the SAME sample fetched via DuckDB and
    recomputes projections + scores in SQL."""
    from loudml_spark.pipeline.embeddings import embedding_outlier_scores

    emb = _rebalance(spark, load_table(spark, sf_dir, "embeddings"))
    return embedding_outlier_scores(emb, k=4, max_rows=256)


def _sql_embedding_outliers(sf_dir=None) -> str:
    import duckdb
    import numpy as np

    from loudml_spark.oracle_util import resolve_oracle_sf_dir
    from loudml_spark.pipeline.embeddings import (
        SAMPLE_A, SAMPLE_B, SAMPLE_MOD, _pca_fit_arrays,
    )

    sf_dir = resolve_oracle_sf_dir(sf_dir)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'embeddings.parquet')}')")
    rows = con.execute(f"""
        SELECT vec_id, embedding FROM embeddings
        ORDER BY ((vec_id * {SAMPLE_A} + {SAMPLE_B}) % {SAMPLE_MOD}
                  + {SAMPLE_MOD}) % {SAMPLE_MOD}, vec_id
        LIMIT 256
    """).fetchall()
    con.close()
    rows.sort(key=lambda r: r[0])
    x = np.asarray([np.asarray(v, dtype=np.float64) for _, v in rows])
    mean, comps, eig = _pca_fit_arrays(x, 4)
    m = comps @ mean

    def dlit(v):
        return f"CAST({float(v)!r} AS DOUBLE)"

    wrows = ", ".join(
        f"({c}, [{', '.join(dlit(w) for w in comps[c])}], "
        f"{dlit(m[c])}, {dlit(eig[c])})"
        for c in range(len(m)))
    return f"""
WITH wmat(c, wv, mc, lam) AS (VALUES {wrows}),
proj AS (
  SELECT e.vec_id, w.c,
         SUM(CAST(e.embedding[t.i + 1] AS DOUBLE) * w.wv[t.i + 1])
           AS p,
         ANY_VALUE(w.mc) AS mc, ANY_VALUE(w.lam) AS lam
  FROM embeddings e
  CROSS JOIN wmat w
  CROSS JOIN UNNEST(range(len(e.embedding))) AS t(i)
  GROUP BY 1, 2
)
SELECT vec_id,
       ROUND(sqrt(SUM((p - mc) * (p - mc) / lam)), 6) + 0.0
         AS outlier_score
FROM proj GROUP BY vec_id
"""


def q_sparse_cosine_pairs_docs(spark, sf_dir):
    """Exact TF-IDF cosine all-pairs >= 0.8 on a fixed 300-doc slice
    (one token equi-join computes candidates AND dot products; see
    pipeline/corpus.py sparse_cosine_pairs).  The synthetic corpus
    draws from a 31-word pool, so EVERY token is a hot term: a max_df
    cut would empty the vectors (unlike prefix filtering, cosine
    cannot drop hot terms without changing the answer), so the slice
    bound plays max_df's role here — the operator's scale lever is
    exercised by the max_df unit tests on a Zipfian corpus instead.
    r8: raised 100 → 300 docs (9× the pair volume) to show headroom;
    deliberately NOT full-table, which on this degenerate vocabulary
    is a true all-pairs quadratic."""
    from loudml_spark.pipeline.corpus import sparse_cosine_pairs

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents")) \
        .filter(F.col("doc_id") < 300).select("doc_id", "text")
    return sparse_cosine_pairs(docs, threshold=0.8, n_docs=300)


SQL_SPARSE_COSINE_PAIRS_DOCS = """
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM d
),
per_doc AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
),
lens AS (SELECT doc_id, SUM(tf) AS doc_len FROM per_doc GROUP BY 1),
dfreq AS (SELECT token, COUNT(*) AS df FROM per_doc GROUP BY 1),
w AS (
  SELECT p.doc_id, p.token,
         (CAST(p.tf AS DOUBLE) / l.doc_len)
         * (ln((1.0 + 300) / (1.0 + f.df)) + 1.0) AS wt
  FROM per_doc p JOIN lens l USING (doc_id) JOIN dfreq f USING (token)
),
nrm AS (SELECT doc_id, sqrt(SUM(wt * wt)) AS nrm FROM w GROUP BY 1),
u AS (SELECT w.doc_id, token, wt / nrm AS u FROM w JOIN nrm USING (doc_id))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_common,
       ROUND(SUM(a.u * b.u), 6) AS cosine
FROM u a JOIN u b ON a.token = b.token AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING ROUND(SUM(a.u * b.u), 6) >= 0.8
"""


def q_fuzzy_pairs_customers(spark, sf_dir):
    """Record linkage: all customer-name pairs within edit distance 1
    via the symmetric-delete blocked join (exact recall by the
    deletion-alignment pigeonhole; exact precision by the levenshtein
    verify).  TPC-H names differ in single digits, so the d=1 pair
    set is dense — 19.5k pairs from 1.5k names at sf0.01 — making
    the recall claim non-trivial.  See pipeline/linkage.py."""
    from loudml_spark.pipeline.linkage import fuzzy_self_pairs

    cust = _rebalance(spark, load_table(spark, sf_dir, "customer")) \
        .select("c_custkey", "c_name")
    return fuzzy_self_pairs(
        cust, id_col="c_custkey", text_col="c_name", max_distance=1)


SQL_FUZZY_PAIRS_CUSTOMERS = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS distance
FROM customer a, customer b
WHERE a.c_custkey < b.c_custkey
  AND levenshtein(a.c_name, b.c_name) <= 1
"""


def q_fuzzy_match_parts(spark, sf_dir):
    """d=2 variant over the distinct part-name vocabulary (two-word
    phrases like 'red bolt' / 'old bolt'), exercising the nested
    deletion neighborhood.  Names keyed by min(p_partkey) so ids are
    deterministic."""
    from loudml_spark.pipeline.linkage import fuzzy_self_pairs

    names = load_table(spark, sf_dir, "part") \
        .groupBy("p_name").agg(F.min("p_partkey").alias("pid"))
    return fuzzy_self_pairs(
        names, id_col="pid", text_col="p_name", max_distance=2)


SQL_FUZZY_MATCH_PARTS = """
WITH nm AS (SELECT p_name, min(p_partkey) AS pid FROM part GROUP BY p_name)
SELECT a.pid AS id_a, b.pid AS id_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS distance
FROM nm a, nm b
WHERE a.pid < b.pid AND levenshtein(a.p_name, b.p_name) <= 2
"""


# --------------------------------------------- span-level decontamination


def q_contamination_spans_docs(spark, sf_dir):
    """WHERE the benchmark leak lives, not just which docs carry it:
    for each contaminated doc (same corpus/bench split as
    decontaminate_docs) the inclusive token span covering every gram
    shared with its best-matching bench doc — the GPT-3/Pile-style
    span surgery input (pipeline/dedup.py benchmark_overlap_spans)."""
    from loudml_spark.pipeline.dedup import benchmark_overlap_spans

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    corpus = docs.filter("doc_id >= 20")
    bench = docs.filter("doc_id < 20").select(
        F.col("doc_id").alias("bench_id"), "text")
    # persisted lazily: excise_contamination consumes the same frame,
    # and each consumer's plan scans it exactly once
    return session_cache.persist(benchmark_overlap_spans(
        corpus, bench, n=3, min_overlap=8))


SQL_CONTAMINATION_SPANS_DOCS = f"""
WITH w AS (
  SELECT doc_id, {_SQL_WORDS} AS ws FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3 THEN
           list_transform(generate_series(1, len(ws) - 2),
                          i -> array_to_string(ws[i:i+2], ' '))
         ELSE [] END AS grams
  FROM w
),
pg AS (
  SELECT doc_id,
         unnest(grams) AS s,
         generate_subscripts(grams, 1) - 1 AS pos
  FROM g WHERE doc_id >= 20
),
ph AS (SELECT doc_id, pos, {_sql_rh('s')} AS h FROM pg),
bg AS (
  SELECT DISTINCT doc_id AS bid, {_sql_rh('s')} AS h
  FROM (SELECT doc_id, unnest(grams) AS s FROM g WHERE doc_id < 20)
),
agg AS (
  SELECT ph.doc_id, bg.bid,
         COUNT(DISTINCT ph.h) AS n_overlap,
         MIN(ph.pos) AS span_start,
         MAX(ph.pos) + 2 AS span_end
  FROM ph JOIN bg ON ph.h = bg.h
  GROUP BY ph.doc_id, bg.bid
  HAVING COUNT(DISTINCT ph.h) >= 8
)
SELECT doc_id, bid AS matched_bench,
       CAST(n_overlap AS BIGINT) AS n_overlap,
       CAST(span_start AS BIGINT) AS span_start,
       CAST(span_end AS BIGINT) AS span_end
FROM agg
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY doc_id ORDER BY n_overlap DESC, bid ASC) = 1
"""


def q_excise_contamination_docs(spark, sf_dir):
    """The surgery applied: contaminated corpus docs lose exactly
    their leaked token span (pipeline/dedup.py excise_spans over the
    benchmark_overlap_spans output); clean docs pass through
    byte-identical.  The whole composition is one extra broadcast-able
    left join on top of the span query — corpus text shuffles only
    through that join."""
    from loudml_spark.pipeline.dedup import excise_spans

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    corpus = docs.filter("doc_id >= 20")
    return excise_spans(
        corpus, q_contamination_spans_docs(spark, sf_dir))


SQL_EXCISE_CONTAMINATION_DOCS = f"""
WITH sp AS ({SQL_CONTAMINATION_SPANS_DOCS}),
d AS (
  SELECT doc_id, text, {_SQL_WORDS} AS ws
  FROM documents WHERE doc_id >= 20
)
SELECT d.doc_id,
       CASE WHEN sp.span_start IS NULL THEN d.text
            -- COALESCE: a fully-leaked doc excises to the empty
            -- string (Spark concat_ws never yields null; DuckDB
            -- array_to_string of an empty list does)
            ELSE COALESCE(array_to_string(
              d.ws[1:sp.span_start]
                || d.ws[sp.span_end + 2:len(d.ws)], ' '), '')
       END AS text,
       CAST(CASE WHEN sp.span_start IS NULL THEN 0
                 ELSE sp.span_end - sp.span_start + 1 END
            AS BIGINT) AS n_tokens_removed,
       sp.span_start IS NOT NULL AS was_contaminated
FROM d LEFT JOIN sp USING (doc_id)
"""


def q_leak_spans_docs(spark, sf_dir):
    """PER-LEAK surgery input (vs contamination_spans_docs' one-hull-
    per-doc): matched gram positions from ALL qualifying bench docs,
    merged and split into gap-separated runs — two separated leaks in
    one doc come back as two disjoint spans, so excision keeps the
    clean text between them (pipeline/dedup.py
    benchmark_leak_spans)."""
    from loudml_spark.pipeline.dedup import benchmark_leak_spans

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    corpus = docs.filter("doc_id >= 20")
    bench = docs.filter("doc_id < 20").select(
        F.col("doc_id").alias("bench_id"), "text")
    # persisted lazily: shared with excise_leaks
    return session_cache.persist(
        benchmark_leak_spans(corpus, bench, n=3, min_overlap=8))


SQL_LEAK_SPANS_DOCS = f"""
WITH w AS (
  SELECT doc_id, {_SQL_WORDS} AS ws FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3 THEN
           list_transform(generate_series(1, len(ws) - 2),
                          i -> array_to_string(ws[i:i+2], ' '))
         ELSE [] END AS grams
  FROM w
),
pg AS (
  SELECT doc_id,
         unnest(grams) AS s,
         generate_subscripts(grams, 1) - 1 AS pos
  FROM g WHERE doc_id >= 20
),
ph AS (SELECT doc_id, pos, {_sql_rh('s')} AS h FROM pg),
bg AS (
  SELECT DISTINCT doc_id AS bid, {_sql_rh('s')} AS h
  FROM (SELECT doc_id, unnest(grams) AS s FROM g WHERE doc_id < 20)
),
qual AS (
  SELECT ph.doc_id, bg.bid
  FROM ph JOIN bg ON ph.h = bg.h
  GROUP BY 1, 2
  HAVING COUNT(DISTINCT ph.h) >= 8
),
mpos AS (
  SELECT DISTINCT ph.doc_id, ph.pos
  FROM ph JOIN bg ON ph.h = bg.h
  JOIN qual ON qual.doc_id = ph.doc_id AND qual.bid = bg.bid
),
runs AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > 3
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS run
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM mpos)
)
SELECT doc_id, CAST(run AS BIGINT) AS run,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 2 AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_matched_grams
FROM runs GROUP BY doc_id, run
"""


def q_excise_leaks_docs(spark, sf_dir):
    """Multi-span surgery applied: every leak run from
    leak_spans_docs excises individually (pipeline/dedup.py
    excise_spans over an array of disjoint spans per doc); clean
    text between two leaks — and every clean doc — passes through
    byte-identical."""
    from loudml_spark.pipeline.dedup import excise_spans

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    corpus = docs.filter("doc_id >= 20")
    return excise_spans(corpus, q_leak_spans_docs(spark, sf_dir))


SQL_EXCISE_LEAKS_DOCS = f"""
WITH sp AS ({SQL_LEAK_SPANS_DOCS}),
d AS (
  SELECT doc_id, text, {_SQL_WORDS} AS ws
  FROM documents WHERE doc_id >= 20
),
tok AS (
  SELECT doc_id, unnest(ws) AS t, generate_subscripts(ws, 1) - 1 AS idx
  FROM d
),
-- one row per token, cut=1 when ANY span covers it (spans are
-- disjoint by construction, the MAX is belt-and-braces)
mark AS (
  SELECT tok.doc_id, tok.idx, any_value(tok.t) AS t,
         MAX(CASE WHEN sp.span_start IS NOT NULL THEN 1 ELSE 0 END)
           AS cut
  FROM tok LEFT JOIN sp ON sp.doc_id = tok.doc_id
       AND tok.idx BETWEEN sp.span_start AND sp.span_end
  GROUP BY tok.doc_id, tok.idx
),
agg AS (
  SELECT doc_id,
         COALESCE(string_agg(t, ' ' ORDER BY idx)
                  FILTER (WHERE cut = 0), '') AS ctext,
         SUM(cut) AS removed
  FROM mark GROUP BY doc_id
),
flag AS (SELECT DISTINCT doc_id FROM sp)
SELECT d.doc_id,
       CASE WHEN f.doc_id IS NULL THEN d.text ELSE a.ctext END AS text,
       CAST(CASE WHEN f.doc_id IS NULL THEN 0 ELSE a.removed END
            AS BIGINT) AS n_tokens_removed,
       f.doc_id IS NOT NULL AS was_contaminated
FROM d LEFT JOIN agg a USING (doc_id) LEFT JOIN flag f USING (doc_id)
"""


def _seeded_multileak(spark, sf_dir):
    """Deterministic MULTI-leak corpus, SQL-replayable: every corpus
    doc is book-ended by two DIFFERENT bench docs (bench ``doc_id %
    20`` prepended, ``(doc_id + 7) % 20`` appended) with the original
    text between them — so every doc carries two separated leaks and
    the run-splitting semantics of benchmark_leak_spans is exercised
    by the ORACLE, not just the unit suite (the natural contamination
    in `documents` is single-run at every SF)."""
    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    bench = docs.filter("doc_id < 20").select(
        F.col("doc_id").alias("bench_id"), "text")
    corpus = docs.filter("doc_id >= 20")
    b1 = bench.select(F.col("bench_id").alias("__b1"),
                      F.col("text").alias("__t1"))
    b2 = bench.select(F.col("bench_id").alias("__b2"),
                      F.col("text").alias("__t2"))
    seeded = (
        corpus
        .join(b1, F.col("doc_id") % 20 == F.col("__b1"))
        .join(b2, (F.col("doc_id") + 7) % 20 == F.col("__b2"))
        .select("doc_id",
                F.concat_ws(" ", "__t1", "text", "__t2").alias("text"))
    )
    return seeded, bench


_SQL_SEEDED = """
bench AS (SELECT doc_id AS bid, text FROM documents WHERE doc_id < 20),
seeded AS (
  SELECT c.doc_id, b1.text || ' ' || c.text || ' ' || b2.text AS text
  FROM documents c
  JOIN bench b1 ON b1.bid = c.doc_id % 20
  JOIN bench b2 ON b2.bid = (c.doc_id + 7) % 20
  WHERE c.doc_id >= 20
)"""


def q_leak_spans_seeded(spark, sf_dir):
    """Per-leak span detection on the seeded multi-leak corpus: every
    doc must report ≥ 2 gap-separated runs (one per planted bench
    doc), proving the run split against the oracle on data where it
    actually fires."""
    from loudml_spark.pipeline.dedup import benchmark_leak_spans

    seeded, bench = _seeded_multileak(spark, sf_dir)
    # persisted lazily: shared with its excision twin
    return session_cache.persist(
        benchmark_leak_spans(seeded, bench, n=3, min_overlap=8))


SQL_LEAK_SPANS_SEEDED = f"""
WITH {_SQL_SEEDED},
w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM seeded),
g AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3 THEN
           list_transform(generate_series(1, len(ws) - 2),
                          i -> array_to_string(ws[i:i+2], ' '))
         ELSE [] END AS grams
  FROM w
),
bw AS (SELECT bid, {_SQL_WORDS} AS ws FROM bench),
bg0 AS (
  SELECT bid,
         CASE WHEN len(ws) >= 3 THEN
           list_transform(generate_series(1, len(ws) - 2),
                          i -> array_to_string(ws[i:i+2], ' '))
         ELSE [] END AS grams
  FROM bw
),
pg AS (
  SELECT doc_id,
         unnest(grams) AS s,
         generate_subscripts(grams, 1) - 1 AS pos
  FROM g
),
ph AS (SELECT doc_id, pos, {_sql_rh('s')} AS h FROM pg),
bg AS (
  SELECT DISTINCT bid, {_sql_rh('s')} AS h
  FROM (SELECT bid, unnest(grams) AS s FROM bg0)
),
qual AS (
  SELECT ph.doc_id, bg.bid
  FROM ph JOIN bg ON ph.h = bg.h
  GROUP BY 1, 2
  HAVING COUNT(DISTINCT ph.h) >= 8
),
mpos AS (
  SELECT DISTINCT ph.doc_id, ph.pos
  FROM ph JOIN bg ON ph.h = bg.h
  JOIN qual ON qual.doc_id = ph.doc_id AND qual.bid = bg.bid
),
runs AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > 3
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS run
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM mpos)
)
SELECT doc_id, CAST(run AS BIGINT) AS run,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 2 AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_matched_grams
FROM runs GROUP BY doc_id, run
"""


def q_excise_leaks_seeded(spark, sf_dir):
    """Multi-span excision on the seeded corpus: both planted leaks
    are removed per doc and the ORIGINAL text between them survives —
    the oracle-checked version of the multi-leak unit test."""
    from loudml_spark.pipeline.dedup import excise_spans

    seeded, _ = _seeded_multileak(spark, sf_dir)
    return excise_spans(seeded, q_leak_spans_seeded(spark, sf_dir))


SQL_EXCISE_LEAKS_SEEDED = f"""
WITH sp AS ({SQL_LEAK_SPANS_SEEDED}),
{_SQL_SEEDED.lstrip()},
d AS (SELECT doc_id, text, {_SQL_WORDS} AS ws FROM seeded),
tok AS (
  SELECT doc_id, unnest(ws) AS t, generate_subscripts(ws, 1) - 1 AS idx
  FROM d
),
mark AS (
  SELECT tok.doc_id, tok.idx, any_value(tok.t) AS t,
         MAX(CASE WHEN sp.span_start IS NOT NULL THEN 1 ELSE 0 END)
           AS cut
  FROM tok LEFT JOIN sp ON sp.doc_id = tok.doc_id
       AND tok.idx BETWEEN sp.span_start AND sp.span_end
  GROUP BY tok.doc_id, tok.idx
),
agg AS (
  SELECT doc_id,
         COALESCE(string_agg(t, ' ' ORDER BY idx)
                  FILTER (WHERE cut = 0), '') AS ctext,
         SUM(cut) AS removed
  FROM mark GROUP BY doc_id
),
flag AS (SELECT DISTINCT doc_id FROM sp)
SELECT d.doc_id,
       CASE WHEN f.doc_id IS NULL THEN d.text ELSE a.ctext END AS text,
       CAST(CASE WHEN f.doc_id IS NULL THEN 0 ELSE a.removed END
            AS BIGINT) AS n_tokens_removed,
       f.doc_id IS NOT NULL AS was_contaminated
FROM d LEFT JOIN agg a USING (doc_id) LEFT JOIN flag f USING (doc_id)
"""


def q_repeated_spans_docs(spark, sf_dir):
    """ExactSubstr-style INTRA-corpus dedup (Lee et al., arXiv
    2107.06499) at 10-gram resolution: token spans whose grams occur
    ≥ 2× across the whole documents table, merged into per-doc runs
    (pipeline/dedup.py repeated_spans) — catches boilerplate and
    templated text duplicated across docs that are not near-dups of
    each other.  Complements dedup_lines (line granularity)."""
    from loudml_spark.pipeline.dedup import repeated_spans

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    # persisted lazily: shared with trim_repeated
    return session_cache.persist(repeated_spans(docs, n=10, min_count=2))


SQL_REPEATED_SPANS_DOCS = f"""
WITH w AS (
  SELECT doc_id, {_SQL_WORDS} AS ws FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 10 THEN
           list_transform(generate_series(1, len(ws) - 9),
                          i -> array_to_string(ws[i:i+9], ' '))
         ELSE [] END AS grams
  FROM w
),
pg AS (
  SELECT doc_id,
         unnest(grams) AS s,
         generate_subscripts(grams, 1) - 1 AS pos
  FROM g
),
ph AS (SELECT doc_id, pos, {_sql_rh('s')} AS h FROM pg),
hot AS (SELECT h FROM ph GROUP BY h HAVING COUNT(*) >= 2),
mpos AS (SELECT doc_id, pos FROM ph JOIN hot USING (h)),
runs AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > 10
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS run
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM mpos)
)
SELECT doc_id, CAST(run AS BIGINT) AS run,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 9 AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_matched_grams
FROM runs GROUP BY doc_id, run
"""


def q_trim_repeated_docs(spark, sf_dir):
    """The trim applied: every repeated span excised via the shared
    multi-span surgery; docs with no corpus-wide repeats pass through
    byte-identical."""
    from loudml_spark.pipeline.dedup import excise_spans

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    return excise_spans(docs, q_repeated_spans_docs(spark, sf_dir))


SQL_TRIM_REPEATED_DOCS = f"""
WITH sp AS ({SQL_REPEATED_SPANS_DOCS}),
d AS (SELECT doc_id, text, {_SQL_WORDS} AS ws FROM documents),
tok AS (
  SELECT doc_id, unnest(ws) AS t, generate_subscripts(ws, 1) - 1 AS idx
  FROM d
),
mark AS (
  SELECT tok.doc_id, tok.idx, any_value(tok.t) AS t,
         MAX(CASE WHEN sp.span_start IS NOT NULL THEN 1 ELSE 0 END)
           AS cut
  FROM tok LEFT JOIN sp ON sp.doc_id = tok.doc_id
       AND tok.idx BETWEEN sp.span_start AND sp.span_end
  GROUP BY tok.doc_id, tok.idx
),
agg AS (
  SELECT doc_id,
         COALESCE(string_agg(t, ' ' ORDER BY idx)
                  FILTER (WHERE cut = 0), '') AS ctext,
         SUM(cut) AS removed
  FROM mark GROUP BY doc_id
),
flag AS (SELECT DISTINCT doc_id FROM sp)
SELECT d.doc_id,
       CASE WHEN f.doc_id IS NULL THEN d.text ELSE a.ctext END AS text,
       CAST(CASE WHEN f.doc_id IS NULL THEN 0 ELSE a.removed END
            AS BIGINT) AS n_tokens_removed,
       f.doc_id IS NOT NULL AS was_contaminated
FROM d LEFT JOIN agg a USING (doc_id) LEFT JOIN flag f USING (doc_id)
"""


def q_repeated_spans_keep_one_docs(spark, sf_dir):
    """Lee et al.'s keep-one contract: the globally-first occurrence
    (smallest (doc_id, pos)) of every repeated gram is canonical and
    survives; only the other occurrences become excisable spans
    (pipeline/dedup.py repeated_spans_keep_one) — boilerplate keeps
    exactly one instance corpus-wide instead of vanishing."""
    from loudml_spark.pipeline.dedup import repeated_spans_keep_one

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    return repeated_spans_keep_one(docs, n=10, min_count=2)


SQL_REPEATED_SPANS_KEEP_ONE_DOCS = f"""
WITH w AS (
  SELECT doc_id, {_SQL_WORDS} AS ws FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 10 THEN
           list_transform(generate_series(1, len(ws) - 9),
                          i -> array_to_string(ws[i:i+9], ' '))
         ELSE [] END AS grams
  FROM w
),
pg AS (
  SELECT doc_id,
         unnest(grams) AS s,
         generate_subscripts(grams, 1) - 1 AS pos
  FROM g
),
ph AS (SELECT doc_id, pos, {_sql_rh('s')} AS h FROM pg),
ranked AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         COUNT(*) OVER (PARTITION BY h) AS c
  FROM ph
),
mpos AS (
  SELECT DISTINCT doc_id, pos FROM ranked WHERE c >= 2 AND rn > 1
),
runs AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > 10
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS run
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM mpos)
)
SELECT doc_id, CAST(run AS BIGINT) AS run,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 9 AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_matched_grams
FROM runs GROUP BY doc_id, run
"""


# --------------------------------------------------- ANN recall@k eval


def q_ann_recall_ivf(spark, sf_dir):
    """Recall@5 of the IVF index against exact brute-force top-5 —
    the acceptance gate an approximate index must pass before it
    replaces the exact scan (pipeline/similarity.py ann_recall).
    Composes the two existing catalog queries, so the oracle is the
    same composition of their (already centroid-replayed) SQL."""
    from loudml_spark.pipeline.similarity import ann_recall

    return ann_recall(
        q_ann_ivf_topk(spark, sf_dir),
        q_ann_cosine_topk(spark, sf_dir),
    )


def _sql_ann_recall_ivf(sf_dir=None) -> str:
    return f"""
WITH ivf AS (
  SELECT query_id, neighbor_id FROM ({_sql_ann_ivf_topk(sf_dir)}) t
),
ex AS (
  SELECT query_id, neighbor_id FROM ({SQL_ANN_COSINE_TOPK}) t
),
h AS (
  SELECT query_id, COUNT(*) AS c
  FROM ivf JOIN ex USING (query_id, neighbor_id)
  GROUP BY query_id
),
b AS (SELECT query_id, COUNT(*) AS n FROM ex GROUP BY query_id)
SELECT b.query_id,
       CAST(COALESCE(h.c, 0) AS BIGINT) AS n_hits,
       CAST(b.n AS BIGINT) AS n_exact,
       CAST(COALESCE(h.c, 0) AS DOUBLE) / b.n AS recall
FROM b LEFT JOIN h USING (query_id)
"""


# ------------------------------------------- classifier quality filter

CLASSIFIER_SAMPLE = 500
CLASSIFIER_BUCKETS = 4096


def _classifier_weights(spark, sf_dir):
    """Train the hashed-logistic quality model once per (app, sf) on
    the portably-ordered 500-doc sample; label = (lang = 'en') — a
    deterministic in-table stand-in for a human 'good corpus' label.
    The oracle generator retrains the identical model from the same
    parquet (same sample key, same numpy), so weights match bit-for-
    bit and inference is an exact integer replay on both engines."""
    from loudml_spark.pipeline.classify import train_quality_classifier
    from loudml_spark.pipeline.similarity import sample_order_key_expr

    def train():
        rows = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang")
            .orderBy(F.expr(sample_order_key_expr("doc_id")),
                     F.col("doc_id"))
            .limit(CLASSIFIER_SAMPLE)
            .collect()
        )
        texts = [r["text"] for r in rows]
        labels = [1 if r["lang"] == "en" else 0 for r in rows]
        return train_quality_classifier(
            texts, labels, n_buckets=CLASSIFIER_BUCKETS)
    return session_cache.memo(spark, "quality_clf", train,
                              table_path(sf_dir, "documents"))


def q_classifier_quality_docs(spark, sf_dir):
    """fastText-style model-based quality filter (CCNet → LLaMA
    pipeline stage): hashed bag-of-words logistic classifier, trained
    driver-side on a bounded portable sample, scored JVM-side as ONE
    explode + literal-array weight lookup + one groupBy(id) of exact
    int64 micro-units (see pipeline/classify.py).  Keeps documents
    the model calls in-distribution; complements the heuristic
    quality_gate_docs."""
    from loudml_spark.pipeline.classify import classifier_score

    w, b = _classifier_weights(spark, sf_dir)
    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    return classifier_score(docs, w, b)


def _sql_classifier_quality_docs(sf_dir=None) -> str:
    import duckdb

    from loudml_spark.oracle_util import resolve_oracle_sf_dir
    from loudml_spark.pipeline.classify import train_quality_classifier

    sf_dir = resolve_oracle_sf_dir(sf_dir)
    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT text, lang FROM read_parquet(
            '{os.path.join(sf_dir, 'documents.parquet')}')
        ORDER BY ((doc_id + 42) * 1299721 + 15485863) % 1000000007,
                 doc_id
        LIMIT {CLASSIFIER_SAMPLE}
    """).fetchall()
    con.close()
    w, b = train_quality_classifier(
        [t for t, _ in rows],
        [1 if lang == "en" else 0 for _, lang in rows],
        n_buckets=CLASSIFIER_BUCKETS)
    wlist = "[" + ", ".join(str(x) for x in w) + "]"
    rh = _sql_rh("t")
    return f"""
WITH wt AS (SELECT CAST({wlist} AS BIGINT[]) AS v),
tok AS (
  SELECT doc_id, unnest({_SQL_WORDS}) AS t FROM documents
),
lg AS (
  SELECT doc_id,
         CAST(SUM(wt.v[CAST(({rh}) % {CLASSIFIER_BUCKETS} AS INTEGER)
                       + 1]) + {int(b)} AS BIGINT) AS logit_micro
  FROM tok CROSS JOIN wt
  GROUP BY doc_id
)
SELECT doc_id, logit_micro,
       ROUND(1.0 / (1.0 + exp(-(logit_micro / 1000000.0))), 6) + 0.0
         AS quality_prob
FROM lg ORDER BY doc_id
"""


# ------------------------------------------------ round-9 curation ops


def q_gopher_rules_docs(spark, sf_dir):
    """Gopher heuristic quality rules (Rae et al. 2021 §A1.1) over
    the documents table — per-rule booleans + the conjunction, one
    map-only projection (pipeline/text.py gopher_rules).  Word-count
    bounds adapted to the synthetic corpus (25..1000); the other
    thresholds are the paper's."""
    from loudml_spark.pipeline.text import gopher_rules

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    out = gopher_rules(docs, min_words=25, max_words=1000)
    return out.select(
        "doc_id", "n_words", "ok_words", "ok_mean_len", "ok_symbols",
        "ok_alpha", "ok_stop", "gopher_pass")


_SQL_STOPLIST = ", ".join(f"'{w}'" for w in STOPWORDS)

SQL_GOPHER_RULES_DOCS = f"""
WITH w AS (
  SELECT doc_id, text, {_SQL_WORDS} AS ws FROM documents
),
s AS (
  SELECT doc_id,
    CAST(len(ws) AS BIGINT) AS n,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(ws, x -> CAST(length(x) AS BIGINT))),
      (a, b) -> a + b) AS chars,
    CAST(len(list_filter(ws,
      x -> regexp_matches(lower(x), '[a-z]'))) AS BIGINT) AS alpha,
    CAST(len(list_filter(ws,
      x -> lower(x) IN ({_SQL_STOPLIST}))) AS BIGINT) AS stops,
    CAST(len(string_split(text, '#')) - 1
       + len(string_split(text, '...')) - 1 AS BIGINT) AS sym
  FROM w
)
SELECT doc_id, n AS n_words,
  (n >= 25 AND n <= 1000) AS ok_words,
  (chars / n >= 3.0 AND chars / n <= 10.0) AS ok_mean_len,
  (sym / n <= 0.1) AS ok_symbols,
  (alpha / n >= 0.8) AS ok_alpha,
  (stops >= 2) AS ok_stop,
  ((n >= 25 AND n <= 1000)
   AND (chars / n >= 3.0 AND chars / n <= 10.0)
   AND (sym / n <= 0.1)
   AND (alpha / n >= 0.8)
   AND (stops >= 2)) AS gopher_pass
FROM s
"""


def q_ngram_novelty_docs(spark, sf_dir):
    """Per-doc 8-gram novelty (share of grams unique corpus-wide) —
    the memorization-risk score; one gram-keyed shuffle + one doc
    rollup, no pairs (pipeline/dedup.py ngram_novelty)."""
    from loudml_spark.pipeline.dedup import ngram_novelty

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    return ngram_novelty(docs, n=8)


_SQL_8GRAM_HASHES = (
    "list_distinct(list_transform("
    "range(greatest(len(words) - 7, 0)), "
    "i -> " + _sql_rh(
        "(words[i + 1] || ' ' || words[i + 2] || ' ' || words[i + 3]"
        " || ' ' || words[i + 4] || ' ' || words[i + 5]"
        " || ' ' || words[i + 6] || ' ' || words[i + 7]"
        " || ' ' || words[i + 8])"
    ) + "))"
)

SQL_NGRAM_NOVELTY_DOCS = f"""
WITH w AS (
  SELECT doc_id, {_SQL_WORDS} AS words FROM documents
),
g AS (
  SELECT doc_id, unnest({_SQL_8GRAM_HASHES}) AS g FROM w
),
gdf AS (SELECT g, COUNT(*) AS gdf FROM g GROUP BY g),
per_doc AS (
  SELECT g.doc_id, COUNT(*) AS n_grams,
         CAST(SUM(CASE WHEN gdf.gdf = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS novel
  FROM g JOIN gdf USING (g) GROUP BY g.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_grams, 0) AS n_grams,
       COALESCE(p.novel, 0) AS novel,
       CASE WHEN p.n_grams > 0 THEN p.novel / p.n_grams END AS novelty
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def q_source_overlap_docs(spark, sf_dir):
    """Source-level contamination matrix: 8-gram Jaccard +
    directional containment per source pair; the per-gram pair
    explosion is bounded by the SOURCE count, never corpus size
    (pipeline/dedup.py cross_source_overlap)."""
    from loudml_spark.pipeline.dedup import cross_source_overlap

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    return cross_source_overlap(docs, n=8)


SQL_SOURCE_OVERLAP_DOCS = f"""
WITH w AS (
  SELECT source, {_SQL_WORDS} AS words FROM documents
),
gs AS (
  SELECT DISTINCT unnest({_SQL_8GRAM_HASHES}) AS g, source AS src
  FROM w
),
totals AS (SELECT src, COUNT(*) AS total FROM gs GROUP BY src),
shared AS (
  SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS shared
  FROM gs a JOIN gs b ON a.g = b.g AND a.src < b.src
  GROUP BY 1, 2
)
SELECT s.src_a, s.src_b, s.shared,
       ta.total AS total_a, tb.total AS total_b,
       s.shared / (ta.total + tb.total - s.shared) AS jaccard,
       s.shared / ta.total AS contain_a,
       s.shared / tb.total AS contain_b
FROM shared s
JOIN totals ta ON ta.src = s.src_a
JOIN totals tb ON tb.src = s.src_b
"""

KMEANS_K = 8


def _kmeans_seeds(spark, sf_dir):
    """Deterministic seeds: the K lowest-vec_id vectors — a bounded
    driver-side collect (k × 64 floats), the same codebook shape as
    the IVF/PQ fits; the seed literal then rides the plan."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").orderBy(
        "vec_id").limit(KMEANS_K).collect()
    return [list(r["embedding"]) for r in rows]


def q_kmeans_assign_emb(spark, sf_dir):
    """Nearest-centroid assignment (squared L2) to the K seed
    centroids — the distributed half of Lloyd's k-means as a
    map-only projection: the centroid literal rides the plan, no
    shuffle, no join (pipeline/embeddings.py kmeans_assign)."""
    from loudml_spark.pipeline.embeddings import kmeans_assign

    emb = _rebalance(spark, load_table(spark, sf_dir, "embeddings"))
    return kmeans_assign(emb, _kmeans_seeds(spark, sf_dir))


_SQL_KMEANS_D2 = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(64), "
    "i -> (e.embedding[i + 1]::DOUBLE - c.cv[i + 1]::DOUBLE) "
    "* (e.embedding[i + 1]::DOUBLE - c.cv[i + 1]::DOUBLE))), "
    "(x, y) -> x + y)"
)

_SQL_KMEANS_ASSIGN_CTE = f"""
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         embedding AS cv
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {KMEANS_K})
),
d AS (
  SELECT e.vec_id, c.cid, {_SQL_KMEANS_D2} AS d2
  FROM embeddings e, cent c
),
assigned AS (
  SELECT vec_id, cid, d2,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY d2, cid) AS rn
  FROM d
)"""

SQL_KMEANS_ASSIGN_EMB = f"""
WITH {_SQL_KMEANS_ASSIGN_CTE}
SELECT vec_id, CAST(cid AS INTEGER) AS cluster,
       ROUND(d2, 6) AS dist2
FROM assigned WHERE rn = 1
"""


def q_kmeans_step_emb(spark, sf_dir):
    """One distributed Lloyd iteration over the seed centroids:
    per-cluster size, order-independent DECIMAL-summed inertia, and
    centroid drift (pipeline/embeddings.py kmeans_step).  The
    per-dim means shuffle k·dims aggregates however large the
    corpus."""
    from loudml_spark.pipeline.embeddings import kmeans_step

    emb = _rebalance(spark, load_table(spark, sf_dir, "embeddings"))
    return kmeans_step(emb, _kmeans_seeds(spark, sf_dir))


SQL_KMEANS_STEP_EMB = f"""
WITH {_SQL_KMEANS_ASSIGN_CTE},
member AS (
  SELECT a.vec_id, a.cid, a.d2, e.embedding
  FROM assigned a JOIN embeddings e USING (vec_id)
  WHERE a.rn = 1
),
stats AS (
  SELECT cid, COUNT(*) AS size,
         CAST(SUM(CAST(ROUND(d2, 6) AS DECIMAL(18,6))) AS DOUBLE)
           AS inertia
  FROM member GROUP BY cid
),
per_dim AS (
  SELECT m.cid, t.i AS dim,
         ROUND(AVG(m.embedding[t.i + 1]::DOUBLE), 6) AS mu
  FROM member m, UNNEST(range(64)) AS t(i)
  GROUP BY 1, 2
),
drift AS (
  SELECT p.cid,
         CAST(SUM(CAST(ROUND(
           (p.mu - c.cv[p.dim + 1]::DOUBLE)
           * (p.mu - c.cv[p.dim + 1]::DOUBLE), 8)
           AS DECIMAL(18,8))) AS DOUBLE) AS drift
  FROM per_dim p JOIN cent c USING (cid)
  GROUP BY p.cid
)
SELECT CAST(s.cid AS INTEGER) AS cluster,
       CAST(s.size AS BIGINT) AS size, s.inertia, d.drift
FROM stats s JOIN drift d USING (cid)
"""


def q_ann_sq8_topk(spark, sf_dir):
    """SQ8 scalar-quantized ANN top-5 (pipeline/similarity.py
    sq8_cosine_topk): one-byte-per-dim corpus compression against
    exact per-dim corpus bounds, raw queries against decoded
    vectors; fully JVM-side — the bounds literal rides the plan."""
    from loudml_spark.pipeline.similarity import sq8_cosine_topk

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        return sq8_cosine_topk(emb.filter("vec_id < 10"), emb, k=5)
    return session_cache.memo_frame(spark, "ann_sq8_topk", build,
                                    table_path(sf_dir, "embeddings"))


# decoded-corpus vector list (SQ8 encode→decode) against per-dim
# bounds computed relationally from the same table — every fold is a
# left-to-right list_reduce matching the Spark Column fold exactly
_SQL_SQ8_B = """
bdim AS (
  SELECT t.i AS dim,
         MIN(embedding[t.i + 1]::DOUBLE) AS lo,
         CASE WHEN MAX(embedding[t.i + 1]::DOUBLE)
                 = MIN(embedding[t.i + 1]::DOUBLE) THEN 1.0
              ELSE MAX(embedding[t.i + 1]::DOUBLE)
                 - MIN(embedding[t.i + 1]::DOUBLE) END AS d
  FROM embeddings, UNNEST(range(64)) AS t(i)
  GROUP BY 1
),
b AS (
  SELECT list(lo ORDER BY dim) AS lo, list(d ORDER BY dim) AS d
  FROM bdim
),
xh AS (
  SELECT e.vec_id,
         list_transform(range(64), i ->
           b.lo[i + 1]
           + floor(least(greatest(
               (e.embedding[i + 1]::DOUBLE - b.lo[i + 1]) / b.d[i + 1],
               0.0), 1.0) * 255 + 0.5) / 255 * b.d[i + 1]) AS v
  FROM embeddings e, b
),
xn AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(v, x -> x * x)), (a, c) -> a + c)) AS n
  FROM xh
),
qn AS (
  SELECT vec_id AS query_id,
         list_transform(range(64),
                        i -> embedding[i + 1]::DOUBLE) AS qv,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(64), i ->
             embedding[i + 1]::DOUBLE * embedding[i + 1]::DOUBLE)),
           (a, c) -> a + c)) AS n
  FROM embeddings WHERE vec_id < 10
),
sq8 AS (
  SELECT q.query_id, x.vec_id AS neighbor_id,
         ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(64), i -> x.v[i + 1] * q.qv[i + 1])),
             (a, c) -> a + c) / (x.n * q.n), 6) AS cosine
  FROM xn x, qn q
  WHERE x.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM sq8
)"""

SQL_ANN_SQ8_TOPK = f"""
WITH {_SQL_SQ8_B}
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
"""


def q_ann_recall_sq8(spark, sf_dir):
    """Recall@5 of the SQ8 index against exact brute-force top-5 —
    the acceptance gate, composing the two catalog queries (same
    shape as ann_recall_ivf)."""
    from loudml_spark.pipeline.similarity import ann_recall

    return ann_recall(
        q_ann_sq8_topk(spark, sf_dir),
        q_ann_cosine_topk(spark, sf_dir),
    )


SQL_ANN_RECALL_SQ8 = f"""
WITH {_SQL_SQ8_B},
sq AS (
  SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5
),
ex AS (
  SELECT query_id, neighbor_id FROM ({SQL_ANN_COSINE_TOPK}) t
),
h AS (
  SELECT query_id, COUNT(*) AS c
  FROM sq JOIN ex USING (query_id, neighbor_id)
  GROUP BY query_id
),
bq AS (SELECT query_id, COUNT(*) AS n FROM ex GROUP BY query_id)
SELECT bq.query_id,
       CAST(COALESCE(h.c, 0) AS BIGINT) AS n_hits,
       CAST(bq.n AS BIGINT) AS n_exact,
       CAST(COALESCE(h.c, 0) AS DOUBLE) / bq.n AS recall
FROM bq LEFT JOIN h USING (query_id)
"""


def q_kmeans_balanced_sample(spark, sf_dir):
    """Cluster-balanced diversity sample (SemDeDup/DiverseSample
    companion): EXACTLY 16 vectors per k-means cell, ranked by the
    scrambled id hash — the standard anti-mode-collapse carve for
    eval sets and distillation corpora.  Pure composition of two
    proven operators (kmeans_assign ∘ sample_exact_k): assignment is
    a map-only projection, the per-cell rank is one shuffle on the
    cluster key."""
    from loudml_spark.pipeline.embeddings import kmeans_assign
    from loudml_spark.pipeline.sampling import sample_exact_k
    from loudml_spark.pipeline.text import scramble_col

    emb = _rebalance(spark, load_table(spark, sf_dir, "embeddings"))
    a = kmeans_assign(emb, _kmeans_seeds(spark, sf_dir))
    keyed = a.select(
        "vec_id", "cluster",
        scramble_col(F.col("vec_id")).alias("h"))
    out = sample_exact_k(
        keyed, key=F.col("h"), k=16, order_col="vec_id",
        by=["cluster"], rank_col="rank")
    return out.select("vec_id", "cluster", "rank")


SQL_KMEANS_BALANCED_SAMPLE = f"""
WITH {_SQL_KMEANS_ASSIGN_CTE},
keyed AS (
  SELECT vec_id, CAST(cid AS INTEGER) AS cluster,
         (vec_id * vec_id % {MOD} + vec_id) % {MOD} AS h
  FROM assigned WHERE rn = 1
),
r AS (
  SELECT vec_id, cluster,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY cluster ORDER BY h % 10000, vec_id
         ) AS INTEGER) AS rank
  FROM keyed
)
SELECT vec_id, cluster, rank FROM r WHERE rank <= 16
"""


def q_hard_negatives_emb(spark, sf_dir):
    """Hard-negative mining over the labeled embeddings table: per
    query (vec_id < 10), the top-5 most-similar DIFFERENT-label
    vectors (pipeline/similarity.py hard_negatives) — the negatives a
    retrieval trainer should sample."""
    from loudml_spark.pipeline.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(emb.filter("vec_id < 10"), emb, k=5)


_SQL_LABELED_SCORES = f"""
q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         CAST(label AS INTEGER) AS q_label
  FROM embeddings WHERE vec_id < 10
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, q.q_label,
         CAST(e.label AS INTEGER) AS n_label,
         ROUND({_sql_cosine('e.embedding', 'q.qv')}, 6) AS cosine
  FROM embeddings e, q
  WHERE e.vec_id <> q.query_id
)"""

SQL_HARD_NEGATIVES_EMB = f"""
WITH {_SQL_LABELED_SCORES},
r AS (
  SELECT query_id, q_label, neighbor_id, n_label, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id)
           AS rank
  FROM scored WHERE n_label <> q_label
)
SELECT query_id, q_label, neighbor_id, n_label, cosine,
       CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= 5
"""


def q_margin_audit_emb(spark, sf_dir):
    """Class-separability margin per query: best same-label vs best
    different-label cosine; negative margin = the nearest neighbor
    is an impostor (pipeline/similarity.py margin_audit)."""
    from loudml_spark.pipeline.similarity import margin_audit

    emb = load_table(spark, sf_dir, "embeddings")
    return margin_audit(emb.filter("vec_id < 10"), emb)


SQL_MARGIN_AUDIT_EMB = f"""
WITH {_SQL_LABELED_SCORES}
SELECT query_id, q_label,
       MAX(CASE WHEN n_label = q_label THEN cosine END) AS best_same,
       MAX(CASE WHEN n_label <> q_label THEN cosine END) AS best_diff,
       ROUND(MAX(CASE WHEN n_label = q_label THEN cosine END)
           - MAX(CASE WHEN n_label <> q_label THEN cosine END), 6)
         AS margin,
       CASE WHEN MAX(CASE WHEN n_label = q_label THEN cosine END)
                 IS NULL
            THEN MAX(CASE WHEN n_label <> q_label THEN cosine END)
                 IS NOT NULL
            ELSE (MAX(CASE WHEN n_label <> q_label THEN cosine END)
                  > MAX(CASE WHEN n_label = q_label THEN cosine END))
       END AS impostor_nearest
FROM scored
GROUP BY query_id, q_label
"""


OVERLAP_SAMPLE_MOD = 4


def q_source_overlap_sampled(spark, sf_dir):
    """The source-overlap matrix under the extreme-scale knob: a
    deterministic 1/4 content-keyed sample of the GRAM UNIVERSE
    (scrambled gram hash ≡ 0 mod 4) — the same gram kept or dropped
    in every source, so jaccard/containment stay unbiased while the
    gram scan, posting build, and pair explosion all shrink 4×
    (measured at 10×: SCALE_AUDIT.json)."""
    from loudml_spark.pipeline.dedup import cross_source_overlap

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    return cross_source_overlap(
        docs, n=8, sample_mod=OVERLAP_SAMPLE_MOD)


SQL_SOURCE_OVERLAP_SAMPLED = f"""
WITH w AS (
  SELECT source, {_SQL_WORDS} AS words FROM documents
),
g0 AS (
  SELECT unnest({_SQL_8GRAM_HASHES}) AS g, source AS src FROM w
),
gs AS (
  SELECT DISTINCT g, src FROM g0
  WHERE (g * g % {MOD} + g) % {MOD} % {OVERLAP_SAMPLE_MOD} = 0
),
totals AS (SELECT src, COUNT(*) AS total FROM gs GROUP BY src),
shared AS (
  SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS shared
  FROM gs a JOIN gs b ON a.g = b.g AND a.src < b.src
  GROUP BY 1, 2
)
SELECT s.src_a, s.src_b, s.shared,
       ta.total AS total_a, tb.total AS total_b,
       s.shared / (ta.total + tb.total - s.shared) AS jaccard,
       s.shared / ta.total AS contain_a,
       s.shared / tb.total AS contain_b
FROM shared s
JOIN totals ta ON ta.src = s.src_a
JOIN totals tb ON tb.src = s.src_b
"""


def q_lsh_recall_audit(spark, sf_dir):
    """LSH acceptance gate (the dedup analogue of ann_recall_ivf):
    per-Jaccard-bucket recall of the MinHash banding vs the exact
    >= 0.8 pair set on the bounded slice — the measured S-curve
    (pipeline/dedup.py lsh_recall_audit).  Same slice and banding
    parameters as minhash_lsh_pairs_docs, so the oracle composes
    that query's CTE chain verbatim."""
    from loudml_spark.pipeline.dedup import lsh_recall_audit

    docs = _rebalance(
        spark,
        load_table(spark, sf_dir, "documents").filter("doc_id < 1000"))
    return lsh_recall_audit(
        docs, n=1, bands=2, threshold=0.8, bucket=0.05)


SQL_LSH_RECALL_AUDIT = f"""
WITH {_SQL_LSH_CTES},
found AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.8),
g AS (SELECT doc_id AS id, unnest(sh) AS h FROM sh),
cand2 AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM g a JOIN g b ON a.h = b.h AND a.id < b.id
),
truth AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / CAST(len(sa.sh) + len(sb.sh)
                  - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           AS jaccard
  FROM cand2 c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b
),
t AS (SELECT * FROM truth WHERE jaccard >= 0.8),
m AS (
  SELECT t.jaccard,
         CASE WHEN f.id_a IS NULL THEN 0 ELSE 1 END AS found
  FROM t LEFT JOIN found f USING (id_a, id_b)
)
SELECT CAST(floor(jaccard / 0.05) AS INTEGER) AS j_bucket,
       COUNT(*) AS n_true,
       CAST(SUM(found) AS BIGINT) AS n_found,
       SUM(found) / COUNT(*) AS recall
FROM m GROUP BY 1
"""


def q_weighted_sample_docs(spark, sf_dir):
    """Exact weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): 32 docs drawn ∝ token count via top-k of
    u^(1/w) — the distributed weighted-reservoir algorithm
    (pipeline/sampling.py weighted_sample_k); u derives from the
    content fingerprint so the draw is reproducible under re-runs
    and re-partitionings."""
    from loudml_spark.pipeline.sampling import weighted_sample_k
    from loudml_spark.pipeline.text import (
        rolling_hash_col, token_count_col,
    )

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id",
        token_count_col(F.col("text")).alias("n_tokens"),
        rolling_hash_col(F.col("text")).alias("fp"),
    )
    return weighted_sample_k(
        base, k=32, weight_col="n_tokens", key_col="fp")


SQL_WEIGHTED_SAMPLE_DOCS = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tokens,
         {_SQL_FP} AS fp
  FROM documents
),
keyed AS (
  SELECT doc_id, CAST(n_tokens AS DOUBLE) AS weight,
         ROUND(pow(
           ((fp * fp % {MOD} + fp) % {MOD} + 1)
             / CAST({MOD} + 1 AS DOUBLE),
           1.0 / n_tokens), 12) AS es_key
  FROM base WHERE n_tokens > 0
),
r AS (
  SELECT doc_id, weight, es_key,
         CAST(row_number() OVER (ORDER BY es_key DESC, doc_id)
              AS INTEGER) AS rank
  FROM keyed
)
SELECT doc_id, weight, es_key, rank FROM r WHERE rank <= 32
"""


# ------------------------------------------------- round 10: k-means
# quality metrics + duplication audit (the evaluation half of the
# clustering family — assign/step/fit existed, nothing measured
# whether a clustering was any good)


def q_kmeans_silhouette_emb(spark, sf_dir):
    """Per-cluster simplified silhouette over the seed centroids
    (pipeline/embeddings.py kmeans_silhouette, the Kaufman centroid
    approximation every distributed library ships): a/b from ONE
    array_sort of per-centroid distance structs — map-only, the
    centroid literal rides the plan; one k-row groupBy."""
    from loudml_spark.pipeline.embeddings import kmeans_silhouette

    emb = _rebalance(spark, load_table(spark, sf_dir, "embeddings"))
    return kmeans_silhouette(emb, _kmeans_seeds(spark, sf_dir))


SQL_KMEANS_SILHOUETTE_EMB = f"""
WITH {_SQL_KMEANS_ASSIGN_CTE},
sd AS (SELECT vec_id, cid, sqrt(d2) AS dd, rn FROM assigned),
ab AS (
  SELECT a.vec_id, a.cid AS cluster, a.dd AS da, b.dd AS db
  FROM sd a JOIN sd b USING (vec_id)
  WHERE a.rn = 1 AND b.rn = 2
),
sil AS (
  SELECT cluster,
         ROUND(CASE WHEN greatest(da, db) > 0
               THEN (db - da) / greatest(da, db)
               ELSE 0.0 END, 6) AS s
  FROM ab
)
SELECT CAST(cluster AS INTEGER) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS size,
       ROUND(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_silhouette
FROM sil GROUP BY cluster
"""


def q_davies_bouldin_emb(spark, sf_dir):
    """Davies–Bouldin components over the seed centroids
    (pipeline/embeddings.py davies_bouldin): one map-only assignment
    pass + one k-row groupBy; the k×k ratio matrix lives on the
    k-row aggregate, never corpus rows."""
    from loudml_spark.pipeline.embeddings import davies_bouldin

    emb = _rebalance(spark, load_table(spark, sf_dir, "embeddings"))
    return davies_bouldin(emb, _kmeans_seeds(spark, sf_dir))


_SQL_KMEANS_SEP = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(64), "
    "i -> (a.cv[i + 1]::DOUBLE - b.cv[i + 1]::DOUBLE) "
    "* (a.cv[i + 1]::DOUBLE - b.cv[i + 1]::DOUBLE))), "
    "(x, y) -> x + y))"
)

SQL_DAVIES_BOULDIN_EMB = f"""
WITH {_SQL_KMEANS_ASSIGN_CTE},
member AS (
  SELECT vec_id, cid, ROUND(sqrt(d2), 6) AS d
  FROM assigned WHERE rn = 1
),
scat AS (
  SELECT cid, COUNT(*) AS size,
         ROUND(CAST(SUM(CAST(d AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*), 6) AS scatter
  FROM member GROUP BY cid
),
sep AS (
  SELECT a.cid AS ci, b.cid AS cj, {_SQL_KMEANS_SEP} AS m
  FROM cent a JOIN cent b ON a.cid <> b.cid
)
SELECT CAST(s.cid AS INTEGER) AS cluster,
       CAST(s.size AS BIGINT) AS size, s.scatter,
       ROUND(MAX((s.scatter + o.scatter) / p.m), 6) AS db
FROM scat s
JOIN sep p ON p.ci = s.cid
JOIN scat o ON o.cid = p.cj
GROUP BY 1, 2, 3
"""


KMFIT_K = 8
KMFIT_ITERS = 4


def q_kmeans_fit_emb(spark, sf_dir):
    """Full Lloyd fit history (pipeline/embeddings.py kmeans_fit,
    hash-scrambled seeding): one row per iteration with the
    DECIMAL-summed objective, max centroid drift, and live cluster
    count.  Each iteration is a map-only assign + ONE k·dims
    shuffle; driver traffic is codebook-sized."""
    from loudml_spark.pipeline.embeddings import kmeans_fit

    emb = _rebalance(spark, load_table(spark, sf_dir, "embeddings"))
    _, history = kmeans_fit(
        emb, k=KMFIT_K, max_iters=KMFIT_ITERS, tol=1e-12)
    rows = [(h["iter"], h["total_inertia"],
             round(h["max_drift"], 6), h["n_clusters"])
            for h in history]
    return spark.createDataFrame(
        rows, "iter int, total_inertia double, max_drift double, "
              "n_clusters int")


def _py_kmeans_fit(sf_dir) -> list:
    """INDEPENDENT plain-Python Lloyd replay over the same parquet
    via DuckDB: md5-scrambled seeds, left-to-right float64 distance
    folds, per-(cluster, dim) means rounded at 6 dp, per-cluster
    DECIMAL(18,6) HALF_UP inertia sums folded in cluster order —
    the same portability idiom the Spark operator declares, executed
    by different code."""
    import hashlib
    import os
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    from loudml_spark.oracle_util import resolve_oracle_sf_dir
    d = resolve_oracle_sf_dir(sf_dir)
    con = duckdb.connect()
    vecs = con.execute(
        "SELECT vec_id, embedding FROM read_parquet('%s') "
        "ORDER BY vec_id"
        % os.path.join(d, "embeddings.parquet")).fetchall()
    con.close()
    data = [(int(i), [float(x) for x in v]) for i, v in vecs]
    seeds = sorted(
        data, key=lambda r: (hashlib.md5(
            str(r[0]).encode()).hexdigest(), r[0]))[:KMFIT_K]
    cents = [list(v) for _, v in seeds]
    q6 = Decimal("0.000001")
    history = []
    for it in range(KMFIT_ITERS):
        members: dict = {}
        in_dec: dict = {}
        for _, v in data:
            best_d, best_c = None, None
            for cid, c in enumerate(cents):
                s = 0.0
                for a, b in zip(v, c):
                    s += (a - b) * (a - b)
                if best_d is None or s < best_d:
                    best_d, best_c = s, cid
            members.setdefault(best_c, []).append(v)
            in_dec[best_c] = in_dec.get(best_c, Decimal(0)) + Decimal(
                str(round(best_d, 6))).quantize(q6, ROUND_HALF_UP)
        new = [list(c) for c in cents]
        for cid, vs in members.items():
            dims = len(vs[0])
            for dim in range(dims):
                tot = 0.0
                for v in vs:
                    tot += v[dim]
                new[cid][dim] = round(tot / len(vs), 6)
        inertia = sum(float(in_dec[c]) for c in sorted(in_dec))
        drift = max(
            sum((a - b) * (a - b) for a, b in zip(nc, oc))
            for nc, oc in zip(new, cents))
        history.append((it, round(inertia, 4), round(drift, 6),
                        len(members)))
        cents = new
        if drift < 1e-12:
            break
    return history


def _sql_kmeans_fit_emb(sf_dir=None) -> str:
    rows = _py_kmeans_fit(sf_dir)
    values = ", ".join(
        f"({i}, {ine!r}, {dr!r}, {nc})" for i, ine, dr, nc in rows)
    return f"""
SELECT CAST(iter AS INTEGER) AS iter,
       CAST(total_inertia AS DOUBLE) AS total_inertia,
       CAST(max_drift AS DOUBLE) AS max_drift,
       CAST(n_clusters AS INTEGER) AS n_clusters
FROM (VALUES {values}) AS t(iter, total_inertia, max_drift, n_clusters)
"""


def q_dup_rate_by_source(spark, sf_dir):
    """Exact-duplicate rate per source — the curation dashboard's
    first column (which feeds are mostly mirrors?).  Fingerprint
    groupBy (map-side combined) → count join-back (AQE broadcasts
    the dup-count side when it fits) → one |sources|-row rollup."""
    from loudml_spark.pipeline.text import rolling_hash_col

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    f = docs.select(
        "doc_id", "source",
        rolling_hash_col(F.col("text")).alias("fp"))
    cnt = f.groupBy("fp").agg(F.count("*").alias("__n"))
    return (
        f.join(cnt, "fp")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.when(F.col("__n") > 1, 1).otherwise(0))
             .alias("n_dup_docs"))
        .select(
            "source", "n_docs", "n_dup_docs",
            F.round(F.col("n_dup_docs") / F.col("n_docs"), 6)
            .alias("dup_rate")))


SQL_DUP_RATE_BY_SOURCE = f"""
WITH f AS (
  SELECT doc_id, source, {_SQL_FP} AS fp FROM documents
),
c AS (SELECT fp, COUNT(*) AS n FROM f GROUP BY fp)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_docs,
       ROUND(SUM(CASE WHEN c.n > 1 THEN 1 ELSE 0 END)
             / COUNT(*), 6) AS dup_rate
FROM f JOIN c USING (fp)
GROUP BY source
"""


# ------------------------------------------------------ pagerank (r10)


def q_pagerank_sim_docs(spark, sf_dir):
    """PageRank centrality over the MinHash-LSH near-duplicate graph
    (pipeline/graph.py): the >=0.8-jaccard pair frame is the edge
    list; 5 Pregel-style power iterations (rank-frame equi-join +
    aggregation per iteration, DECIMAL-routed contribution sums) give
    each document's hub score — the survivorship-quality signal the
    min-id rule in dedup_clusters can't see.  Exact cross-engine: the
    oracle unrolls the same 5 iterations over the same edge CTEs."""
    from loudml_spark.pipeline.graph import pagerank

    pairs = q_minhash_lsh_pairs_docs(spark, sf_dir)
    pr = pagerank(pairs, src_col="id_a", dst_col="id_b",
                  damping=0.85, n_iter=5)
    return pr.select(F.col("id").alias("doc_id"), "pagerank")


def _sql_pagerank_sim_docs(sf_dir=None) -> str:
    from loudml_spark.pipeline.graph import sql_pagerank_ctes

    return f"""
WITH {_SQL_LSH_CTES},
p8 AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.8),
{sql_pagerank_ctes('p8', damping=0.85, n_iter=5)}
SELECT id AS doc_id, r AS pagerank FROM pr5
"""


# ----------------------------------------------------------- mmr (r10)

MMR_K, MMR_POOL, MMR_LAM = 5, 20, 0.7


def q_mmr_topk_emb(spark, sf_dir):
    """MMR diversity re-ranking (pipeline/similarity.py mmr_topk):
    exact cosine retrieval cuts each query to a 20-candidate pool,
    then the Carbonell-Goldstein greedy trades relevance against
    similarity-to-already-selected.  The oracle unrolls the same 5
    greedy steps as chained CTEs over the same rounded cosines, so
    the whole selection trajectory value-matches."""
    from loudml_spark.pipeline.similarity import mmr_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 10")
    return mmr_topk(queries, emb, k=MMR_K, pool=MMR_POOL, lam=MMR_LAM)


def _sql_mmr_topk_emb(sf_dir=None) -> str:
    lam = repr(float(MMR_LAM))
    om = repr(1.0 - float(MMR_LAM))
    cos_qc = _sql_cosine("q.embedding", "c.embedding")
    cos_ab = _sql_cosine("ea.embedding", "eb.embedding")
    parts = [f"""q AS (SELECT vec_id, embedding FROM embeddings
       WHERE vec_id < 10),
cand AS (
  SELECT query_id, neighbor_id, rel FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND({cos_qc}, 6) AS rel,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND({cos_qc}, 6) DESC, c.vec_id ASC) AS rn
    FROM q JOIN embeddings c ON q.vec_id != c.vec_id
  ) WHERE rn <= {MMR_POOL}
),
sim AS (
  SELECT a.query_id, a.neighbor_id AS ia, b.neighbor_id AS ib,
         ROUND({cos_ab}, 6) AS s
  FROM cand a
  JOIN cand b ON a.query_id = b.query_id
            AND a.neighbor_id != b.neighbor_id
  JOIN embeddings ea ON ea.vec_id = a.neighbor_id
  JOIN embeddings eb ON eb.vec_id = b.neighbor_id
),
sel1 AS (
  SELECT query_id, neighbor_id, rel, 1 AS rank,
         CAST({lam} AS DOUBLE) * rel AS score
  FROM (
    SELECT query_id, neighbor_id, rel,
           ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY CAST({lam} AS DOUBLE) * rel DESC,
                      neighbor_id ASC) AS rn
    FROM cand
  ) WHERE rn = 1
),
selset1 AS (SELECT query_id, neighbor_id FROM sel1)"""]
    for t in range(2, MMR_K + 1):
        parts.append(f"""sel{t} AS (
  SELECT query_id, neighbor_id, rel, {t} AS rank, score FROM (
    SELECT x.query_id, x.neighbor_id, x.rel, x.score,
           ROW_NUMBER() OVER (
             PARTITION BY x.query_id
             ORDER BY x.score DESC, x.neighbor_id ASC) AS rn
    FROM (
      SELECT c.query_id, c.neighbor_id, c.rel,
             CAST({lam} AS DOUBLE) * c.rel
             - CAST({om} AS DOUBLE) * COALESCE(MAX(s.s), 0.0)
               AS score
      FROM cand c
      LEFT JOIN (
        SELECT s.query_id, s.ia, s.s
        FROM sim s
        JOIN selset{t - 1} ss
          ON ss.query_id = s.query_id AND ss.neighbor_id = s.ib
      ) s ON s.query_id = c.query_id AND s.ia = c.neighbor_id
      WHERE NOT EXISTS (
        SELECT 1 FROM selset{t - 1} p
        WHERE p.query_id = c.query_id
          AND p.neighbor_id = c.neighbor_id)
      GROUP BY c.query_id, c.neighbor_id, c.rel
    ) x
  ) WHERE rn = 1
),
selset{t} AS (
  SELECT query_id, neighbor_id FROM selset{t - 1}
  UNION ALL SELECT query_id, neighbor_id FROM sel{t}
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT query_id, rank, neighbor_id, rel AS relevance, "
        f"ROUND(score, 6) AS mmr_score FROM sel{t}"
        for t in range(1, MMR_K + 1))
    ctes = ",\n".join(parts)
    return f"WITH {ctes}\n{union}"


# ------------------------------------------- binary / hamming ann (r10)

EMB_DIM = 64


def _sql_sign_word(j: int, table_alias: str = "") -> str:
    pre = f"{table_alias}." if table_alias else ""
    terms = " + ".join(
        f"CASE WHEN {pre}embedding[{32 * j + kk + 1}] > 0 "
        f"THEN {1 << kk} ELSE 0 END"
        for kk in range(32))
    return f"CAST({terms} AS BIGINT)"


def q_ann_hamming_topk(spark, sf_dir):
    """Binary-sign ANN top-5 (pipeline/similarity.py hamming_topk):
    each 64-dim float vector packs to two 32-bit sign words (32:1
    compression); distance is XOR+popcount JVM Column math over the
    corpus scan with the bounded query codes riding as literals —
    the cheapest member of the quantization family (LSH / IVF / PQ /
    SQ8 / sign)."""
    from loudml_spark.pipeline.similarity import hamming_topk

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        return hamming_topk(emb.filter("vec_id < 10"), emb, k=5,
                            dim=EMB_DIM)
    return session_cache.memo_frame(spark, "ann_hamming_topk", build,
                                    table_path(sf_dir, "embeddings"))


_SQL_HAMMING_CTES = f"""
hc AS (
  SELECT vec_id, {_sql_sign_word(0)} AS w0, {_sql_sign_word(1)} AS w1
  FROM embeddings
),
hq AS (
  SELECT vec_id AS query_id, w0 AS qw0, w1 AS qw1
  FROM hc WHERE vec_id < 10
),
hs AS (
  SELECT hq.query_id, hc.vec_id AS neighbor_id,
         CAST(bit_count(xor(hc.w0, hq.qw0))
              + bit_count(xor(hc.w1, hq.qw1)) AS BIGINT) AS hamming
  FROM hc JOIN hq ON hc.vec_id <> hq.query_id
),
hr AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY hamming ASC, neighbor_id ASC) AS INTEGER) AS rank
  FROM hs
)"""

SQL_ANN_HAMMING_TOPK = f"""
WITH {_SQL_HAMMING_CTES}
SELECT query_id, neighbor_id, hamming, rank FROM hr WHERE rank <= 5
"""


def q_ann_recall_hamming(spark, sf_dir):
    """Recall@5 of the binary-sign index against exact brute-force
    top-5 — the acceptance gate (same shape as ann_recall_ivf /
    ann_recall_sq8): 1-bit-per-dim is the lossiest quantizer in the
    family, so its measured recall is the honest number a deployment
    must see before swapping it in as the pre-filter."""
    from loudml_spark.pipeline.similarity import ann_recall

    return ann_recall(
        q_ann_hamming_topk(spark, sf_dir),
        q_ann_cosine_topk(spark, sf_dir),
    )


SQL_ANN_RECALL_HAMMING = f"""
WITH {_SQL_HAMMING_CTES},
ha AS (SELECT query_id, neighbor_id FROM hr WHERE rank <= 5),
hex AS (
  SELECT query_id, neighbor_id FROM ({SQL_ANN_COSINE_TOPK}) t
),
hh AS (
  SELECT query_id, COUNT(*) AS c
  FROM ha JOIN hex USING (query_id, neighbor_id)
  GROUP BY query_id
),
hbq AS (SELECT query_id, COUNT(*) AS n FROM hex GROUP BY query_id)
SELECT hbq.query_id,
       CAST(COALESCE(hh.c, 0) AS BIGINT) AS n_hits,
       CAST(hbq.n AS BIGINT) AS n_exact,
       CAST(COALESCE(hh.c, 0) AS DOUBLE) / hbq.n AS recall
FROM hbq LEFT JOIN hh USING (query_id)
"""


HAM_SHORTLIST = 100


def q_ann_hamming_rerank(spark, sf_dir):
    """Binary pre-filter + exact re-rank (pipeline/similarity.py
    hamming_rerank_topk): the deployment shape for 1-bit codes — a
    100-candidate Hamming shortlist (5x corpus cut here; the ratio is
    what scales) re-ranked by exact float cosine.  Measured recall@5
    vs brute force: 0.84 vs the direct sign index's 0.24
    (ann_recall_hamming_rerank is the gate)."""
    from loudml_spark.pipeline.similarity import hamming_rerank_topk

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        return hamming_rerank_topk(
            emb.filter("vec_id < 10"), emb, k=5,
            shortlist=HAM_SHORTLIST, dim=EMB_DIM)
    return session_cache.memo_frame(spark, "ann_hamming_rerank", build,
                                    table_path(sf_dir, "embeddings"))


_SQL_HAM_RERANK_CTES = f"""
{_SQL_HAMMING_CTES},
hshort AS (
  SELECT query_id, neighbor_id FROM hr WHERE rank <= {HAM_SHORTLIST}
),
hrs AS (
  SELECT s.query_id, s.neighbor_id,
         ROUND({_sql_cosine('qe.embedding', 'ce.embedding')}, 6)
           AS cosine
  FROM hshort s
  JOIN embeddings qe ON qe.vec_id = s.query_id
  JOIN embeddings ce ON ce.vec_id = s.neighbor_id
),
hrr AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM hrs
)"""

SQL_ANN_HAMMING_RERANK = f"""
WITH {_SQL_HAM_RERANK_CTES}
SELECT query_id, neighbor_id, cosine, rank FROM hrr WHERE rank <= 5
"""


def q_ann_recall_hamming_rerank(spark, sf_dir):
    """Recall@5 of the rerank path against exact brute force — the
    acceptance gate proving the shortlist ratio, not the 1-bit
    code's direct quality, sets deployed recall."""
    from loudml_spark.pipeline.similarity import ann_recall

    return ann_recall(
        q_ann_hamming_rerank(spark, sf_dir),
        q_ann_cosine_topk(spark, sf_dir),
    )


SQL_ANN_RECALL_HAMMING_RERANK = f"""
WITH {_SQL_HAM_RERANK_CTES},
hra AS (SELECT query_id, neighbor_id FROM hrr WHERE rank <= 5),
hrex AS (
  SELECT query_id, neighbor_id FROM ({SQL_ANN_COSINE_TOPK}) t
),
hrh AS (
  SELECT query_id, COUNT(*) AS c
  FROM hra JOIN hrex USING (query_id, neighbor_id)
  GROUP BY query_id
),
hrbq AS (SELECT query_id, COUNT(*) AS n FROM hrex GROUP BY query_id)
SELECT hrbq.query_id,
       CAST(COALESCE(hrh.c, 0) AS BIGINT) AS n_hits,
       CAST(hrbq.n AS BIGINT) AS n_exact,
       CAST(COALESCE(hrh.c, 0) AS DOUBLE) / hrbq.n AS recall
FROM hrbq LEFT JOIN hrh USING (query_id)
"""


# ------------------------------------- semantic decontamination (r10)

SEMDECON_T = 0.35


def q_semantic_decontaminate_emb(spark, sf_dir):
    """Embedding-space decontamination (pipeline/similarity.py
    semantic_decontaminate): vec_id < 20 plays the eval set (same
    split convention as decontaminate_docs); corpus vectors whose
    max cosine to any eval vector reaches {SEMDECON_T} are flagged —
    the paraphrase-robust complement to the exact n-gram / Bloom
    scans.  Bench vectors ride the corpus scan as literals; one
    map-side max per id."""
    from loudml_spark.pipeline.similarity import semantic_decontaminate

    emb = _rebalance(spark, load_table(spark, sf_dir, "embeddings"))
    return semantic_decontaminate(
        emb.filter("vec_id >= 20"),
        emb.filter("vec_id < 20").select(
            F.col("vec_id").alias("bench_id"), "embedding"),
        threshold=SEMDECON_T)


SQL_SEMANTIC_DECONTAMINATE_EMB = f"""
WITH sb AS (
  SELECT vec_id AS bench_id, embedding FROM embeddings
  WHERE vec_id < 20
),
sc AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20
),
sp AS (
  SELECT sc.vec_id, sb.bench_id,
         ROUND({_sql_cosine('sc.embedding', 'sb.embedding')}, 6)
           AS cosine
  FROM sc JOIN sb ON sc.vec_id >= 20
),
sr AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id
      ORDER BY cosine DESC, bench_id ASC) AS rn
  FROM sp
)
SELECT vec_id, CAST(bench_id AS BIGINT) AS matched_bench,
       cosine AS max_cosine,
       cosine >= {SEMDECON_T} AS contaminated
FROM sr WHERE rn = 1
"""


# ------------------------------------------- lexical diversity (r10)


def q_lexical_diversity_docs(spark, sf_dir):
    """Type-token ratio + hapax-legomenon share per document
    (pipeline/text.py lexical_diversity): the vocabulary-side
    quality features — templated/looping text shows low TTR, natural
    prose keeps a fat hapax tail.  One scan, nested higher-order
    filters, no Python boundary."""
    from loudml_spark.pipeline.text import lexical_diversity

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    return lexical_diversity(docs)


SQL_LEXICAL_DIVERSITY_DOCS = f"""
WITH ld AS (
  SELECT doc_id,
         CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct({_SQL_WORDS})) AS BIGINT) AS n_types,
         CAST(len(list_filter(
             list_distinct({_SQL_WORDS}),
             w -> len(list_filter({_SQL_WORDS}, x -> x = w)) = 1))
           AS BIGINT) AS n_hapax
  FROM documents
)
SELECT doc_id, n_tokens, n_types, n_hapax,
       CASE WHEN n_tokens > 0
            THEN CAST(n_types AS DOUBLE) / n_tokens END AS ttr,
       CASE WHEN n_types > 0
            THEN CAST(n_hapax AS DOUBLE) / n_types END AS hapax_ratio
FROM ld
"""


# --------------------------------------- rank-normalized quality (r10)

RANKNORM_KEEP = 0.5


def q_rank_normalized_quality_docs(spark, sf_dir):
    """Cross-source score calibration (pipeline/sampling.py
    rank_normalize): the text_stats quality score percent-ranked
    WITHIN each source, selecting the top half of every source —
    thresholding raw scores instead would starve sources whose whole
    distribution sits lower (curated feed vs crawl).  One shuffle on
    source + per-group sort; percent_rank is a pure rank function,
    engine-exact."""
    from loudml_spark.pipeline.sampling import rank_normalize
    from loudml_spark.pipeline.text import text_stats

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents"))
    scored = text_stats(docs).select("doc_id", "source", "quality")
    out = rank_normalize(
        scored, score_col="quality", by=["source"],
        keep_frac=RANKNORM_KEEP)
    return out.select("doc_id", "source", "pct_rank", "selected")


SQL_RANK_NORMALIZED_QUALITY_DOCS = f"""
WITH base AS (
  SELECT doc_id, source,
         CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars_calc,
         ({_SQL_STOP_HITS}) AS stop_hits
  FROM documents
),
scored AS (
  SELECT doc_id, source,
         LEAST(1.0, n_tokens / 100.0) * 0.5
           + (1.0 - stop_hits / n_tokens) * 0.3
           + LEAST(1.0, ((n_chars_calc - (n_tokens - 1)) / n_tokens)
                   / 8.0) * 0.2 AS quality
  FROM base
),
pr AS (
  SELECT doc_id, source,
         ROUND(percent_rank() OVER (
             PARTITION BY source ORDER BY quality ASC), 6)
           AS pct_rank
  FROM scored
)
SELECT doc_id, source, pct_rank,
       pct_rank >= {1.0 - RANKNORM_KEEP} AS selected
FROM pr
"""


# ------------------------------------------------ triangle stats (r10)


def q_triangle_stats_docs(spark, sf_dir):
    """Per-node triangles + local clustering coefficient over the
    MinHash-LSH near-dup graph (pipeline/graph.py triangle_stats) —
    the density audit pagerank can't give: coefficient → 1 marks
    mirror/template cliques, a hub at → 0 chains unrelated docs
    (the over-eager-band false-positive shape).  Degree-ordered
    edge-join triangle counting (out-degrees capped at O(sqrt(m)),
    so the wedge join survives power-law hubs), every join an
    equi-join; same doc_id < 1000 slice and pair frame as
    pagerank_sim_docs."""
    from loudml_spark.pipeline.graph import triangle_stats

    pairs = q_minhash_lsh_pairs_docs(spark, sf_dir)
    return triangle_stats(pairs).withColumnRenamed("id", "doc_id")


SQL_TRIANGLE_STATS_DOCS = f"""
WITH {_SQL_LSH_CTES},
tp8 AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.8),
te AS (
  SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
  FROM tp8 WHERE id_a <> id_b
),
tund AS (SELECT a, b FROM te UNION ALL SELECT b AS a, a AS b FROM te),
tdeg AS (
  SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS degree
  FROM tund GROUP BY a
),
teo AS (
  -- degree-ordered orientation: lower-(degree, id) endpoint first
  SELECT u.a, u.b
  FROM tund u
  JOIN tdeg da ON da.id = u.a
  JOIN tdeg db ON db.id = u.b
  WHERE da.degree < db.degree
     OR (da.degree = db.degree AND u.a < u.b)
),
tw AS (SELECT x.a, x.b, y.b AS c FROM teo x JOIN teo y ON x.b = y.a),
ttri AS (
  SELECT tw.a, tw.b, tw.c
  FROM tw JOIN teo te2 ON te2.a = tw.a AND te2.b = tw.c
),
tpn AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS id FROM ttri
    UNION ALL SELECT b AS id FROM ttri
    UNION ALL SELECT c AS id FROM ttri
  ) GROUP BY id
)
SELECT tdeg.id AS doc_id, degree,
       CAST(COALESCE(n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN degree >= 2
            THEN 2.0 * COALESCE(n_triangles, 0)
                 / (degree * (degree - 1))
            ELSE 0.0 END AS coeff
FROM tdeg LEFT JOIN tpn ON tpn.id = tdeg.id
"""


# ---------------------------------- recall gates for LSH and PQ (r10)
# completes the acceptance-gate family: every approximate index in
# the catalog (IVF / SQ8 / sign-Hamming / LSH / PQ) now has a
# measured recall@5 query against exact brute force.


def q_ann_recall_lsh(spark, sf_dir):
    """Recall@5 of the sign-bucket LSH index against exact brute
    force — the acceptance gate (same shape as ann_recall_ivf)."""
    from loudml_spark.pipeline.similarity import ann_recall

    return ann_recall(
        q_ann_lsh_topk(spark, sf_dir),
        q_ann_cosine_topk(spark, sf_dir),
    )


def _sql_ann_recall_lsh(sf_dir=None) -> str:
    return f"""
WITH la AS (
  SELECT query_id, neighbor_id FROM ({_sql_ann_lsh_topk(sf_dir)}) t
),
lex AS (
  SELECT query_id, neighbor_id FROM ({SQL_ANN_COSINE_TOPK}) t
),
lh AS (
  SELECT query_id, COUNT(*) AS c
  FROM la JOIN lex USING (query_id, neighbor_id)
  GROUP BY query_id
),
lbq AS (SELECT query_id, COUNT(*) AS n FROM lex GROUP BY query_id)
SELECT lbq.query_id,
       CAST(COALESCE(lh.c, 0) AS BIGINT) AS n_hits,
       CAST(lbq.n AS BIGINT) AS n_exact,
       CAST(COALESCE(lh.c, 0) AS DOUBLE) / lbq.n AS recall
FROM lbq LEFT JOIN lh USING (query_id)
"""


def q_ann_recall_pq(spark, sf_dir):
    """Recall@5 of the PQ-ADC index against exact brute force — the
    most aggressive compressor's honest number (8 bytes/vector)."""
    from loudml_spark.pipeline.similarity import ann_recall

    return ann_recall(
        q_ann_pq_topk(spark, sf_dir),
        q_ann_cosine_topk(spark, sf_dir),
    )


def _sql_ann_recall_pq(sf_dir=None) -> str:
    return f"""
WITH pa AS (
  SELECT query_id, neighbor_id FROM ({_sql_ann_pq_topk(sf_dir)}) t
),
pex AS (
  SELECT query_id, neighbor_id FROM ({SQL_ANN_COSINE_TOPK}) t
),
ph2 AS (
  SELECT query_id, COUNT(*) AS c
  FROM pa JOIN pex USING (query_id, neighbor_id)
  GROUP BY query_id
),
pbq AS (SELECT query_id, COUNT(*) AS n FROM pex GROUP BY query_id)
SELECT pbq.query_id,
       CAST(COALESCE(ph2.c, 0) AS BIGINT) AS n_hits,
       CAST(pbq.n AS BIGINT) AS n_exact,
       CAST(COALESCE(ph2.c, 0) AS DOUBLE) / pbq.n AS recall
FROM pbq LEFT JOIN ph2 USING (query_id)
"""


# -------------------------------------------- real-text fixture (r11)
# The Zipf/hapax-realistic corpus (pipeline/realtext.py; committed at
# fixtures/realtext.parquet) gives the text/corpus knobs the regime
# they were built for — the synthetic documents table has almost no
# hapax mass.  Both the Spark side and the DuckDB oracle read the
# SAME committed parquet, so the pairing is as strict as any sf-table
# query; sf_dir is ignored (the fixture is corpus-shaped, not
# sf-scaled — SCALE.md's realtext rows carry the growth evidence).

RT_MIN_COUNT = 5


def _rt_path() -> str:
    from loudml_spark.pipeline.realtext import realtext_fixture_path

    return realtext_fixture_path()


def q_realtext_gopher_rates(spark, sf_dir):
    """Gopher rule hit RATES by source over the real-shaped corpus
    (pipeline/text.py gopher_rules) — on the synthetic documents
    table the rules fire never-or-always; here each source carries
    its own seeded defect mix (web dirtiest), so the per-rule rates
    are the non-degenerate measurement the thresholds were
    published for.  Map-only projection + one |sources|-row
    rollup."""
    from loudml_spark.pipeline.realtext import load_realtext
    from loudml_spark.pipeline.text import gopher_rules

    docs = _rebalance(spark, load_realtext(spark))
    out = gopher_rules(docs, min_words=25, max_words=1000)
    rate = (lambda c: F.round(F.avg(F.col(c).cast("int")), 6))
    return (
        out.groupBy("source")
        .agg(F.count("*").cast("long").alias("n_docs"),
             rate("ok_words").alias("r_words"),
             rate("ok_mean_len").alias("r_mean_len"),
             rate("ok_symbols").alias("r_symbols"),
             rate("ok_alpha").alias("r_alpha"),
             rate("ok_stop").alias("r_stop"),
             rate("gopher_pass").alias("r_pass"))
    )


def _sql_realtext_gopher_rates(sf_dir=None) -> str:
    return f"""
WITH w AS (
  SELECT doc_id, source, text, {_SQL_WORDS} AS ws
  FROM read_parquet('{_rt_path()}')
),
s AS (
  SELECT doc_id, source,
    CAST(len(ws) AS BIGINT) AS n,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(ws, x -> CAST(length(x) AS BIGINT))),
      (a, b) -> a + b) AS chars,
    CAST(len(list_filter(ws,
      x -> regexp_matches(lower(x), '[a-z]'))) AS BIGINT) AS alpha,
    CAST(len(list_filter(ws,
      x -> lower(x) IN ({_SQL_STOPLIST}))) AS BIGINT) AS stops,
    CAST(len(string_split(text, '#')) - 1
       + len(string_split(text, '...')) - 1 AS BIGINT) AS sym
  FROM w
),
r AS (
  SELECT source,
    (n >= 25 AND n <= 1000) AS ok_words,
    (chars / n >= 3.0 AND chars / n <= 10.0) AS ok_mean_len,
    (sym / n <= 0.1) AS ok_symbols,
    (alpha / n >= 0.8) AS ok_alpha,
    (stops >= 2) AS ok_stop
  FROM s
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  ROUND(AVG(CASE WHEN ok_words THEN 1 ELSE 0 END), 6) AS r_words,
  ROUND(AVG(CASE WHEN ok_mean_len THEN 1 ELSE 0 END), 6)
    AS r_mean_len,
  ROUND(AVG(CASE WHEN ok_symbols THEN 1 ELSE 0 END), 6) AS r_symbols,
  ROUND(AVG(CASE WHEN ok_alpha THEN 1 ELSE 0 END), 6) AS r_alpha,
  ROUND(AVG(CASE WHEN ok_stop THEN 1 ELSE 0 END), 6) AS r_stop,
  ROUND(AVG(CASE WHEN ok_words AND ok_mean_len AND ok_symbols
                  AND ok_alpha AND ok_stop THEN 1 ELSE 0 END), 6)
    AS r_pass
FROM r GROUP BY source
"""


def q_realtext_bigram_pruned(spark, sf_dir):
    """bigram_perplexity with min_count={RT_MIN_COUNT} over the
    real-shaped corpus — the pruning knob IN ITS REGIME: ~80% of
    this corpus's distinct bigrams are hapax (the property the
    synthetic table lacks), so the cut removes most of the model's
    keys, which is why every shipped LM makes it.  Per-doc summary
    over a seeded 1200-doc slice keeps the compared frame bounded;
    the LM itself is fit on the full corpus."""
    from loudml_spark.pipeline.corpus import bigram_perplexity
    from loudml_spark.pipeline.realtext import load_realtext

    docs = _rebalance(spark, load_realtext(spark))
    out = bigram_perplexity(docs, lam=0.75, min_count=RT_MIN_COUNT)
    return out.filter(F.col("doc_id") < 1200)


def _sql_realtext_bigram_pruned(sf_dir=None) -> str:
    return f"""
WITH ww AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
  FROM read_parquet('{_rt_path()}')
),
ut AS (SELECT doc_id, unnest(ws) AS token FROM ww),
cu AS (
  SELECT token AS w, CAST(COUNT(*) AS BIGINT) AS cu
  FROM ut GROUP BY token
),
nt AS (SELECT CAST(SUM(cu) AS DOUBLE) AS n FROM cu),
bt AS (
  SELECT doc_id,
         unnest(list_transform(
             range(1, len(ws)),
             i -> ws[i] || ' ' || ws[i + 1])) AS token
  FROM ww
),
pd AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM bt GROUP BY doc_id, token
),
cball AS (
  SELECT token, CAST(SUM(tf) AS BIGINT) AS cb FROM pd GROUP BY token
),
ctx AS (
  SELECT string_split(token, ' ')[1] AS prev,
         CAST(SUM(cb) AS BIGINT) AS cctx
  FROM cball GROUP BY 1
),
cbp AS (SELECT token, cb FROM cball WHERE cb >= {RT_MIN_COUNT}),
sc AS (
  SELECT pd.doc_id, pd.tf,
         ROUND(pd.tf * ln(
             0.75 * (CAST(COALESCE(cbp.cb, 0) AS DOUBLE) / ctx.cctx)
             + 0.25 * (CAST(cu.cu AS DOUBLE) / nt.n)),
           6) AS s
  FROM pd
  LEFT JOIN cbp USING (token)
  JOIN ctx ON ctx.prev = string_split(pd.token, ' ')[1]
  JOIN cu ON cu.w = string_split(pd.token, ' ')[2]
  CROSS JOIN nt
)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       ROUND(exp(-(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE))
                 / SUM(tf)), 6) + 0.0 AS ppl
FROM sc
WHERE doc_id < 1200
GROUP BY doc_id
"""


def q_realtext_lexical_by_lang(spark, sf_dir):
    """Type-token and hapax profile by language over the real-shaped
    corpus (pipeline/text.py lexical_diversity): the WORD-level
    baseline for the fertility audit — both language slices profile
    the same (avg TTR ~0.64, hapax ~0.77), which is exactly what
    makes the de slice's higher SUBWORD fertility (its compounds
    fragment harder under a shared merge list) a tokenizer-inequity
    signal rather than a corpus artifact.  Map-only per-doc pass +
    one |langs|-row rollup."""
    from loudml_spark.pipeline.realtext import load_realtext
    from loudml_spark.pipeline.text import lexical_diversity

    docs = _rebalance(spark, load_realtext(spark))
    ld = lexical_diversity(docs)
    return (
        ld.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum("n_tokens").cast("long").alias("n_tokens"),
             F.round(F.avg("ttr"), 6).alias("avg_ttr"),
             F.round(F.avg("hapax_ratio"), 6).alias("avg_hapax"))
    )


def _sql_realtext_lexical_by_lang(sf_dir=None) -> str:
    return f"""
WITH t AS (
  SELECT doc_id, lang, {_SQL_WORDS} AS ws
  FROM read_parquet('{_rt_path()}')
),
d AS (
  SELECT doc_id, lang,
    CAST(len(ws) AS BIGINT) AS n_tokens,
    CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
    CAST(len(list_filter(list_distinct(ws),
      w -> len(list_filter(ws, x -> x = w)) = 1)) AS BIGINT)
      AS n_hapax
  FROM t
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
  ROUND(AVG(CASE WHEN n_tokens > 0
            THEN CAST(n_types AS DOUBLE) / n_tokens END), 6)
    AS avg_ttr,
  ROUND(AVG(CASE WHEN n_types > 0
            THEN CAST(n_hapax AS DOUBLE) / n_types END), 6)
    AS avg_hapax
FROM d GROUP BY lang
"""


# ------------------------------------------ graph family close (r11)


def q_pagerank_weighted_sim_docs(spark, sf_dir):
    """Edge-weighted PageRank over the near-dup graph
    (pipeline/graph.py pagerank, weight_col="jaccard"): a 0.95
    near-duplicate link pulls proportionally more rank than a 0.80
    one — the weighted centrality the LSH pair frame's own verified
    similarities make free.  Same Pregel shape as pagerank_sim_docs
    (edge frame checkpointed once, one equi-join + one agg per
    iteration); per-node out-weight sums route through DECIMAL so
    the trajectory is exact cross-engine."""
    from loudml_spark.pipeline.graph import pagerank

    pairs = q_minhash_lsh_pairs_docs(spark, sf_dir)
    pr = pagerank(pairs, src_col="id_a", dst_col="id_b",
                  weight_col="jaccard", damping=0.85, n_iter=5)
    return pr.select(F.col("id").alias("doc_id"), "pagerank")


def _sql_pagerank_weighted_sim_docs(sf_dir=None) -> str:
    from loudml_spark.pipeline.graph import sql_pagerank_ctes

    return f"""
WITH {_SQL_LSH_CTES},
pw8 AS (SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.8),
{sql_pagerank_ctes('pw8', weight_col='jaccard',
                   damping=0.85, n_iter=5)}
SELECT id AS doc_id, r AS pagerank FROM pr5
"""


def q_graph_components_docs(spark, sf_dir):
    """Connected-component census over the near-dup graph
    (pipeline/graph.py component_stats): per-component size, edge
    count and internal density — the cluster-shape audit (density
    → 1 = verified mirror set; a large sparse component = the
    chained false-positive blob over-eager bands produce), exposing
    dedup_clusters' components as a first-class graph result.
    Labels come from dedup_clusters — one union-find task for a
    graph at or below its measured edge threshold, the log-round
    star-contraction CC above it; stats are one label-keyed rollup +
    one edge equi-join."""
    from loudml_spark.pipeline.graph import component_stats

    pairs = q_minhash_lsh_pairs_docs(spark, sf_dir)
    return component_stats(pairs)


SQL_GRAPH_COMPONENTS_DOCS = f"""
WITH RECURSIVE {_SQL_LSH_CTES},
gp8 AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.8),
ge AS (
  SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
  FROM gp8 WHERE id_a <> id_b
),
gsym AS (SELECT a AS src, b AS dst FROM ge
         UNION SELECT b, a FROM ge),
reach(id, r) AS (
  SELECT src, src FROM gsym
  UNION
  SELECT gsym.src, reach.r FROM gsym JOIN reach ON gsym.dst = reach.id
),
comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
nodes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM comp GROUP BY cluster_id
),
edges AS (
  SELECT c.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_edges
  FROM ge JOIN comp c ON c.id = ge.a
  GROUP BY c.cluster_id
)
SELECT n.cluster_id, n.n_nodes, e.n_edges,
       ROUND(2.0 * e.n_edges / (n.n_nodes * (n.n_nodes - 1)), 6)
         AS density
FROM nodes n JOIN edges e USING (cluster_id)
WHERE n.n_nodes >= 2
"""


# ------------------------------------------ realtext family, part 2


def q_realtext_zipf_fit(spark, sf_dir):
    """Zipf's-law fit over the real-shaped corpus — the generator's
    rank-frequency law, verified cross-engine: the fixture samples
    ranks with a Zipf-Mandelbrot exponent of 1.35, so the OLS of
    ln(tf) on ln(rank) must come back near −1.35 with high r²
    (vs the synthetic documents table's collapsed ~40-word
    vocabulary, where the fit is meaningless).  Same vocab-bounded
    top-k shape as zipf_fit_vocab (pipeline/corpus.py zipf_fit)."""
    from loudml_spark.pipeline.corpus import zipf_fit
    from loudml_spark.pipeline.realtext import load_realtext

    return zipf_fit(_rebalance(spark, load_realtext(spark)),
                    top_k=1000)


def _sql_realtext_zipf_fit(sf_dir=None) -> str:
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM read_parquet('{_rt_path()}')
),
vocab AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1
  ORDER BY tf DESC, token ASC LIMIT 1000
),
ranked AS (
  SELECT tf,
         row_number() OVER (ORDER BY tf DESC, token ASC) AS rank
  FROM vocab
),
xy AS (
  SELECT CAST(ROUND(ln(rank), 6) AS DECIMAL(18,6)) AS x,
         CAST(ROUND(ln(tf), 6) AS DECIMAL(18,6)) AS y
  FROM ranked
),
m AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x*x) AS sxx, SUM(x*y) AS sxy, SUM(y*y) AS syy
  FROM xy
),
d AS (
  SELECT CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
         CAST(sxx AS DOUBLE) AS sxx, CAST(sxy AS DOUBLE) AS sxy,
         CAST(syy AS DOUBLE) AS syy
  FROM m
)
SELECT n,
  ROUND((nd*sxy - sx*sy) / NULLIF(nd*sxx - sx*sx, 0), 6) + 0.0
    AS slope,
  ROUND((sy - ((nd*sxy - sx*sy) / NULLIF(nd*sxx - sx*sx, 0)) * sx)
        / NULLIF(nd, 0), 6) + 0.0 AS intercept,
  ROUND((nd*sxy - sx*sy) * (nd*sxy - sx*sy)
        / NULLIF((nd*sxx - sx*sx) * (nd*syy - sy*sy), 0), 6) + 0.0
    AS r2
FROM d
"""


def q_realtext_langid_confusion(spark, sf_dir):
    """Language-ID confusion matrix against GROUND TRUTH — the
    accuracy measurement the synthetic table cannot give (its lang
    column is uncorrelated with its text): the fixture's texts
    carry real function-word heads per language, so the marker
    heuristic (pipeline/text.py langid) is finally measurable.
    One map-only scoring pass + one |langs|²-row rollup."""
    from loudml_spark.pipeline.realtext import load_realtext
    from loudml_spark.pipeline.text import langid

    docs = _rebalance(spark, load_realtext(spark))
    out = langid(docs).select("doc_id", "lang_guess")
    return (
        out.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "lang_guess")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def _sql_realtext_langid_confusion(sf_dir=None) -> str:
    return f"""
WITH s AS (
  SELECT doc_id, lang,
         {_sql_lang_score('en')} AS score_en,
         {_sql_lang_score('fr')} AS score_fr,
         {_sql_lang_score('es')} AS score_es,
         {_sql_lang_score('de')} AS score_de
  FROM read_parquet('{_rt_path()}')
),
g AS (
  SELECT *, GREATEST(score_en, score_fr, score_es, score_de) AS best
  FROM s
),
p AS (
  SELECT doc_id, lang,
         CASE WHEN score_de = best AND best > 0 THEN 'de'
              WHEN score_en = best AND best > 0 THEN 'en'
              WHEN score_es = best AND best > 0 THEN 'es'
              WHEN score_fr = best AND best > 0 THEN 'fr'
              ELSE 'und' END AS lang_guess
  FROM g
)
SELECT lang, lang_guess, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM p GROUP BY lang, lang_guess
"""


# --------------------------------- realistic-embedding fixture (r12)
# The ANN/clustering/semdedup acceptance family re-measured on REAL
# embedding geometry (pipeline/realemb.py; committed at
# fixtures/realemb/embeddings.parquet): cone concentration +
# anisotropy, power-law cluster sizes, hubness, planted near-dups —
# the r11 verdict's "What's missing #1" (every recall gate was
# measured only on the driver's balanced isotropic blobs).  The
# fixture dir mirrors an sf table dir, so the EXISTING catalog query
# functions and oracle generators run on it unchanged; oracles that
# reference the `embeddings` view are retargeted with a shadowing
# CTE (CTE names shadow same-named views in DuckDB).  sf_dir is
# ignored (the fixture is geometry-shaped, not sf-scaled).


def _re_dir() -> str:
    from loudml_spark.pipeline.realemb import realemb_fixture_dir

    return realemb_fixture_dir()


def _re_path() -> str:
    from loudml_spark.pipeline.realemb import realemb_fixture_path

    return realemb_fixture_path()


def _re_shadow(sql: str) -> str:
    """Retarget an `embeddings`-view oracle at the fixture parquet:
    prepend a CTE of the same name (CTEs shadow views), preserving a
    leading WITH [RECURSIVE] when present."""
    cte = (f"embeddings AS (SELECT * FROM "
           f"read_parquet('{_re_path()}'))")
    s = sql.lstrip()
    up = s.upper()
    if up.startswith("WITH RECURSIVE"):
        return "WITH RECURSIVE " + cte + ", " + s[len("WITH RECURSIVE"):].lstrip()
    if up.startswith("WITH"):
        return "WITH " + cte + ", " + s[len("WITH"):].lstrip()
    return "WITH " + cte + " " + s


def _re_np_corpus():
    """(ids, X float64) from the fixture parquet — oracle replays
    start here, exactly like the Spark UDFs (stack float32 rows,
    astype float64)."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(_re_path(), columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    X = np.array(t.column("embedding").to_pylist(),
                 dtype=np.float32).astype(np.float64)
    return ids, X


def q_realemb_recall_lsh(spark, sf_dir):
    """ann_recall_lsh re-measured on real geometry: cone
    concentration puts most sign bits on near-orthogonal-to-the-data
    hyperplanes, so bucket occupancy skews — the honest number for
    the 6-bit index (blobs measured it low already; here the regime
    is the one deployments actually face)."""
    return q_ann_recall_lsh(spark, _re_dir())


def q_realemb_recall_ivf(spark, sf_dir):
    """ann_recall_ivf on real geometry: power-law cluster sizes
    imbalance the IVF cells (head cell ≈ a third of the corpus), so
    n_probe=4 of 16 covers a different mass fraction per query —
    the cell-imbalance regime the coarse quantizer is blind to on
    balanced blobs."""
    return q_ann_recall_ivf(spark, _re_dir())


def q_realemb_recall_pq(spark, sf_dir):
    """ann_recall_pq on real geometry: anisotropy concentrates
    variance in few directions, so coordinate-blocked PQ sub-spaces
    carry unequal energy — the distortion regime OPQ exists for,
    invisible on isotropic blobs."""
    return q_ann_recall_pq(spark, _re_dir())


def q_realemb_recall_sq8(spark, sf_dir):
    """ann_recall_sq8 on real geometry: per-dim bounds stretch with
    the decayed coordinate scales, so 8-bit cells are spent where
    the data isn't — the honest scalar-quantization number."""
    return q_ann_recall_sq8(spark, _re_dir())


def q_realemb_recall_hamming(spark, sf_dir):
    """ann_recall_hamming on real geometry: sign bits in the cone's
    dominant directions agree for MOST pairs (mean pairwise cosine
    0.34), carrying near-zero information — the 1-bit quantizer's
    worst regime."""
    return q_ann_recall_hamming(spark, _re_dir())


def q_realemb_recall_hamming_rerank(spark, sf_dir):
    """ann_recall_hamming_rerank on real geometry: the deployment
    shape (100-candidate Hamming shortlist → exact re-rank) at a
    60× corpus cut (6000 vectors vs the blob table's 5× at 500) —
    shortlist budget is the scale knob, so the fixture measures the
    harsher ratio."""
    return q_ann_recall_hamming_rerank(spark, _re_dir())


def q_realemb_silhouette(spark, sf_dir):
    """kmeans_silhouette_emb on real geometry: seed centroids land
    inside the cone, clusters overlap, and power-law sizes starve
    the tail seeds — honest (lower) silhouettes vs the well-
    separated blob clusters."""
    return q_kmeans_silhouette_emb(spark, _re_dir())


def q_realemb_davies_bouldin(spark, sf_dir):
    """davies_bouldin_emb on real geometry — scatter/separation
    ratios with overlapping anisotropic clusters (higher = worse;
    blobs flatter it)."""
    return q_davies_bouldin_emb(spark, _re_dir())


def q_realemb_kmeans_fit(spark, sf_dir):
    """kmeans_fit_emb on real geometry: Lloyd inertia descent with
    power-law cluster sizes and cone overlap — the empty-cluster /
    inertia-trap regime balanced blobs never show."""
    return q_kmeans_fit_emb(spark, _re_dir())


def q_realemb_covariance(spark, sf_dir):
    """embedding_covariance on the fixture — the distributed-PCA
    first pass whose rounded entries feed the anisotropy capstone;
    pairing it directly makes the capstone's input value-verified."""
    return q_embedding_covariance(spark, _re_dir())


def q_realemb_anisotropy(spark, sf_dir):
    """Geometry capstone #1 — spectral concentration: eigenvalue
    shares of the (6dp-rounded, value-verified) covariance matrix.
    Real embedding spaces concentrate variance in a few directions
    (Ethayarajh 2019): the fixture measures top-1 share ≈ 0.25 /
    top-5 ≈ 0.60 vs the driver blobs' 0.03 / 0.13
    (tools/realemb_knobs.py) — the engine-side proof the corpus is
    in the anisotropic regime the ANN gates are re-measured under.
    Bounded driver step: collect d(d+1)/2 rounded entries (the
    codebook idiom), one numpy eigh, one-row result; the oracle
    replays the identical eigh from the identical rounded matrix via
    DuckDB."""
    import numpy as np

    from loudml_spark.pipeline.realemb import DIM

    rows = q_realemb_covariance(spark, sf_dir) \
        .select("i", "j", "cov").collect()
    M = np.zeros((DIM, DIM))
    for r in rows:
        M[r["i"], r["j"]] = M[r["j"], r["i"]] = r["cov"]
    ev = np.sort(np.linalg.eigvalsh(M))[::-1]
    tot = float(ev.sum())
    out = [(float(round(ev[0] / tot, 6)),
            float(round(ev[:5].sum() / tot, 6)),
            float(round(tot, 6)))]
    return spark.createDataFrame(
        out, "top1_share double, top5_share double, trace double")


def _sql_realemb_anisotropy(sf_dir=None) -> str:
    import duckdb
    import numpy as np

    from loudml_spark.pipeline.realemb import DIM

    rows = duckdb.connect().execute(
        _re_shadow(SQL_EMBEDDING_COVARIANCE)).fetchall()
    M = np.zeros((DIM, DIM))
    for i, j, _, cov in rows:
        M[i, j] = M[j, i] = cov
    ev = np.sort(np.linalg.eigvalsh(M))[::-1]
    tot = float(ev.sum())
    return f"""
SELECT CAST({round(ev[0] / tot, 6)!r} AS DOUBLE) AS top1_share,
       CAST({round(float(ev[:5].sum()) / tot, 6)!r} AS DOUBLE)
         AS top5_share,
       CAST({round(tot, 6)!r} AS DOUBLE) AS trace
"""


RE_DUP_TAU = 0.97


def q_realemb_dup_recovery(spark, sf_dir):
    """Geometry capstone #2 — SemDeDup against PLANTED ground truth:
    the fixture carries 250 seeded near-duplicates (dup_of column,
    cosine ≥ 0.99) inside a corpus whose organic chain-aware p99.9
    cosine is 0.90, so threshold {RE_DUP_TAU} must recover them.
    Runs the production semdedup_pairs path (coarse-quantizer cells
    + within-cell cosine join — recall < 1 is possible when a dup
    pair straddles a cell boundary, which is exactly what the gate
    exists to measure) and scores it against dup_of with one
    full-outer join + one aggregation: n_planted, n_found (all
    pairs ≥ τ — includes copy-of-copy chain pairs), n_hit, recall.
    """
    from loudml_spark.pipeline.realemb import N_VECS, load_realemb
    from loudml_spark.pipeline.similarity import (
        semdedup_n_centroids, semdedup_pairs)

    emb = _rebalance(spark, load_realemb(spark))
    pairs = semdedup_pairs(
        emb.select("vec_id", "embedding"), threshold=RE_DUP_TAU,
        n_centroids=semdedup_n_centroids(N_VECS))
    planted = emb.filter("dup_of IS NOT NULL").select(
        F.least("vec_id", "dup_of").alias("id_a"),
        F.greatest("vec_id", "dup_of").alias("id_b"),
        F.lit(1).alias("p"))
    found = pairs.select("id_a", "id_b", F.lit(1).alias("f"))
    both = planted.join(found, ["id_a", "id_b"], "full_outer")
    return both.agg(
        F.sum("p").cast("long").alias("n_planted"),
        F.sum("f").cast("long").alias("n_found"),
        F.sum(F.col("p") * F.col("f")).cast("long").alias("n_hit"),
        F.round(F.sum(F.col("p") * F.col("f"))
                / F.sum("p"), 6).alias("recall"))


def _sql_realemb_dup_recovery(sf_dir=None) -> str:
    """Independent numpy replay: retrain the coarse quantizer from
    the same parquet (shared deterministic numpy — the IVF-oracle
    idiom), assign cells with the same row-wise ops the Spark UDF
    runs, compute within-cell pair cosines with the same einsum
    formulas cosine_col uses, threshold at ROUND(c, 6) >= τ (pairs
    within 1e-4 of the boundary re-rounded through Decimal HALF_UP —
    Spark's rounding — instead of numpy's half-even), then score
    against dup_of.  Emits the summary as literals."""
    import numpy as np
    import pyarrow.parquet as pq
    from decimal import ROUND_HALF_UP, Decimal

    from loudml_spark.pipeline.realemb import N_VECS
    from loudml_spark.pipeline.similarity import (
        semdedup_n_centroids, train_ivf_centroids_from_arrays)

    ids, X = _re_np_corpus()
    C = train_ivf_centroids_from_arrays(
        ids, X, n_centroids=semdedup_n_centroids(N_VECS), seed=42)
    Xn = X / np.maximum(
        np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    cell = np.argmax(Xn @ C.T, axis=1)

    def _round6(c):
        if abs(c * 1e6 - np.floor(c * 1e6) - 0.5) < 1e-3:
            return float(Decimal(repr(c)).quantize(
                Decimal("1e-6"), ROUND_HALF_UP))
        return float(np.round(c, 6))

    found = set()
    for g in np.unique(cell):
        m = np.where(cell == g)[0]
        if len(m) < 2:
            continue
        ia, ib = np.triu_indices(len(m), k=1)
        A, B = X[m[ia]], X[m[ib]]
        dot = np.einsum("ij,ij->i", A, B)
        na = np.sqrt(np.einsum("ij,ij->i", A, A))
        nb = np.sqrt(np.einsum("ij,ij->i", B, B))
        cos = dot / (na * nb)
        for a, b, c in zip(m[ia], m[ib], cos):
            if _round6(c) >= RE_DUP_TAU:
                found.add((min(ids[a], ids[b]), max(ids[a], ids[b])))
    t = pq.read_table(_re_path(), columns=["vec_id", "dup_of"])
    planted = {
        (min(v, d), max(v, d))
        for v, d in zip(t.column("vec_id").to_pylist(),
                        t.column("dup_of").to_pylist())
        if d is not None}
    n_hit = len(found & planted)
    recall = float(Decimal(n_hit) / Decimal(len(planted)))
    recall = float(Decimal(repr(recall)).quantize(
        Decimal("1e-6"), ROUND_HALF_UP))
    return f"""
SELECT CAST({len(planted)} AS BIGINT) AS n_planted,
       CAST({len(found)} AS BIGINT) AS n_found,
       CAST({n_hit} AS BIGINT) AS n_hit,
       CAST({recall!r} AS DOUBLE) AS recall
"""


def q_realemb_hubness(spark, sf_dir):
    """Geometry capstone #3 — hubness (Radovanović et al. 2010): the
    10-occurrence distribution (how many of 1500 sampled queries'
    exact top-10 lists each corpus point appears in) as a histogram
    (n10, n_vectors).  Real high-d anisotropic spaces are right-
    skewed with antihubs (fixture: skew 2.1, max 114, 6% antihubs
    — tools/realemb_knobs.py) while blobs are near-normal (skew
    0.33) — hub neighbors degrade ANN usefulness even at good
    recall, which is why the audit belongs next to the gates.
    Plan: the brute GEMM top-k (bounded 1500-query closure, one
    corpus scan), one neighbor-keyed count, one left join for the
    zero-occurrence mass, one |distinct n10|-row rollup."""
    from loudml_spark.pipeline.realemb import load_realemb
    from loudml_spark.pipeline.similarity import cosine_topk

    emb = _rebalance(spark, load_realemb(spark)) \
        .select("vec_id", "embedding")
    t = cosine_topk(emb.filter("vec_id % 4 = 0"), emb, k=10)
    occ = t.groupBy("neighbor_id").agg(
        F.count("*").cast("long").alias("n10"))
    return (
        emb.select("vec_id")
        .join(occ, emb.vec_id == occ.neighbor_id, "left")
        .select(F.coalesce("n10", F.lit(0)).alias("n10"))
        .groupBy("n10")
        .agg(F.count("*").cast("long").alias("n_vectors"))
    )


def _sql_realemb_hubness(sf_dir=None) -> str:
    """Independent numpy replay of the exact top-10 (same GEMM /
    norm / 6dp-round / (cosine desc, id asc) ranking contract as
    cosine_topk), emitted as a VALUES histogram."""
    import collections

    import numpy as np

    ids, X = _re_np_corpus()
    qm = ids % 4 == 0
    Q, qids = X[qm], ids[qm]
    qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))
    xn = np.sqrt(np.einsum("ij,ij->i", X, X))
    S = np.round((X @ Q.T) / (xn[:, None] * qn[None, :]), 6)
    occ = collections.Counter()
    for j, qid in enumerate(qids):
        mask = ids != qid
        order = np.lexsort((ids[mask], -S[mask, j]))[:10]
        occ.update(ids[mask][order].tolist())
    hist = collections.Counter(occ.get(int(v), 0) for v in ids)
    values = ", ".join(
        f"({k}, {n})" for k, n in sorted(hist.items()))
    return f"""
SELECT CAST(n10 AS BIGINT) AS n10,
       CAST(n_vectors AS BIGINT) AS n_vectors
FROM (VALUES {values}) AS t(n10, n_vectors)
"""


def _sql_realemb_recall_lsh(sf_dir=None) -> str:
    return _re_shadow(_sql_ann_recall_lsh(_re_dir()))


def _sql_realemb_recall_ivf(sf_dir=None) -> str:
    return _re_shadow(_sql_ann_recall_ivf(_re_dir()))


def _sql_realemb_recall_pq(sf_dir=None) -> str:
    return _re_shadow(_sql_ann_recall_pq(_re_dir()))


def _sql_realemb_recall_sq8(sf_dir=None) -> str:
    return _re_shadow(SQL_ANN_RECALL_SQ8)


def _sql_realemb_recall_hamming(sf_dir=None) -> str:
    return _re_shadow(SQL_ANN_RECALL_HAMMING)


def _sql_realemb_recall_hamming_rerank(sf_dir=None) -> str:
    return _re_shadow(SQL_ANN_RECALL_HAMMING_RERANK)


def _sql_realemb_silhouette(sf_dir=None) -> str:
    return _re_shadow(SQL_KMEANS_SILHOUETTE_EMB)


def _sql_realemb_davies_bouldin(sf_dir=None) -> str:
    return _re_shadow(SQL_DAVIES_BOULDIN_EMB)


def _sql_realemb_kmeans_fit(sf_dir=None) -> str:
    return _sql_kmeans_fit_emb(_re_dir())


def _sql_realemb_covariance(sf_dir=None) -> str:
    return _re_shadow(SQL_EMBEDDING_COVARIANCE)


def q_realemb_lsh_buckets(spark, sf_dir):
    """Selectivity companion to realemb_recall_lsh — WHY the recall
    number moved: occupancy of the 2^6 sign buckets.  Cone
    concentration makes most sign bits agree across the corpus, so
    vectors collapse into a few head buckets; a query landing there
    scans that bucket's share of the corpus (recall rises, the
    candidate cut — the thing the index exists for — evaporates).
    Recall alone would flatter exactly this degeneration, which is
    why the occupancy audit ships next to the gate.  One map-only
    bucket projection + one ≤2^bits-row rollup."""
    from loudml_spark.pipeline.realemb import load_realemb
    from loudml_spark.pipeline.similarity import (
        hyperplanes, lsh_bucket_col)

    emb = load_realemb(spark)
    return (
        emb.select(lsh_bucket_col(
            F.col("embedding"), hyperplanes(64, 6, 42)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_vectors"))
    )


def _sql_realemb_lsh_buckets(sf_dir=None) -> str:
    from loudml_spark.pipeline.similarity import hyperplanes

    planes = hyperplanes(dim=64, bits=6, seed=42)
    bucket = " + ".join(
        f"(CASE WHEN {_sql_list_dot('embedding', p)} >= 0 "
        f"THEN {2 ** i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return _re_shadow(f"""
WITH b AS (SELECT {bucket} AS bucket FROM embeddings)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM b GROUP BY bucket
""")


def q_realemb_ivf_cells(spark, sf_dir):
    """Selectivity companion to realemb_recall_ivf: occupancy of the
    16 IVF cells under power-law cluster sizes (same centroids as
    the index query — portable-hash sample + shared numpy).  The
    head cell absorbs a large corpus share, so probing it costs a
    near-linear scan while tail cells starve — the imbalance that
    makes the recall gate's n_probe=4 number flattering on its own.
    One Arrow assignment pass + one 16-row rollup."""
    from loudml_spark.pipeline.realemb import load_realemb
    from loudml_spark.pipeline.similarity import (
        _centroid_assign_udf, train_ivf_centroids)

    emb = load_realemb(spark).select("vec_id", "embedding")
    C = train_ivf_centroids(emb, 16, seed=42)
    assign = _centroid_assign_udf(C, 1)
    return (
        emb.select(F.element_at(
            assign(F.col("embedding")), 1).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").cast("long").alias("n_vectors"))
    )


def _sql_realemb_ivf_cells(sf_dir=None) -> str:
    """Numpy replay of centroid training + assignment (the IVF-
    oracle idiom), emitted as a VALUES histogram."""
    import collections

    import numpy as np

    from loudml_spark.pipeline.similarity import (
        train_ivf_centroids_from_arrays)

    ids, X = _re_np_corpus()
    C = train_ivf_centroids_from_arrays(ids, X, n_centroids=16, seed=42)
    Xn = X / np.maximum(
        np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    cell = np.argmax(Xn @ C.T, axis=1)
    hist = collections.Counter(int(c) for c in cell)
    values = ", ".join(f"({k}, {n})" for k, n in sorted(hist.items()))
    return f"""
SELECT CAST(cell AS INTEGER) AS cell,
       CAST(n_vectors AS BIGINT) AS n_vectors
FROM (VALUES {values}) AS t(cell, n_vectors)
"""


# ------------------------------- perceptual image near-dup (r12, #5)

DHASH_DOCS = 600          # media slice: doc_id < DHASH_DOCS
DHASH_PERT = 300          # ids < this get a re-encode-noise copy
DHASH_MAXD = 10


def q_image_dhash_pairs(spark, sf_dir):
    """Image near-duplicate pairs by perceptual dHash — curation's
    core act for the multimodal column (the family had ingestion /
    features / resize but no dedup until r12): fake-media images
    from the documents slice plus, for each image id < {DHASH_PERT},
    a deterministic re-encode-noise copy (one character substituted
    → a few bytes move → the planted near-dup ground truth), hashed
    with pipeline/multimodal.py dhash_images (byte-chunk-mean grid,
    the gated-codec fake) and paired with the SAME pigeonhole-
    blocked Hamming equi-join SimHash uses
    (pipeline/dedup.py hamming_pairs_blocked — no all-pairs stage).
    The oracle replays the hash through the shared portable core but
    generates pairs by BRUTE FORCE over all fingerprints — a value
    match proves the banding recalls every pair ≤ max_distance.
    Output: (id_a, id_b, hamming), planted copies at distance ≤ 2,
    exact text dups at 0."""
    from loudml_spark.pipeline.dedup import hamming_pairs_blocked
    from loudml_spark.pipeline.multimodal import (
        dhash_images, fake_media_table)

    docs = _rebalance(spark, load_table(spark, sf_dir, "documents")) \
        .filter(F.col("doc_id") < DHASH_DOCS).select("doc_id", "text")
    media = fake_media_table(docs)
    pert = (
        docs.filter((F.col("doc_id") % 3 == 0)
                    & (F.col("doc_id") < DHASH_PERT))
        .select(
            (F.col("doc_id") + 100000).alias("media_id"),
            F.lit("image").alias("media_type"),
            F.encode(
                F.concat(F.substring("text", 1, 10), F.lit("x"),
                         F.expr("substring(text, 12)")),
                "utf-8").alias("content"),
            F.lit(None).cast(
                "struct<width:int,height:int,duration_ms:int,"
                "format:string>").alias("meta"),
        )
    )
    hashes = dhash_images(
        media.unionByName(pert), use_fake_decoder=True)
    return hamming_pairs_blocked(
        hashes, hash_col="dhash", id_col="media_id",
        bits=64, max_distance=DHASH_MAXD)


def _sql_image_dhash_pairs(sf_dir=None) -> str:
    """Plain-Python replay: same shared dhash core over the same
    constructed media set, but pair generation is an O(N²) brute
    force — the independent check that the pigeonhole banding on
    the Spark side loses no pair within max_distance."""
    import duckdb

    from loudml_spark.oracle_util import resolve_oracle_sf_dir
    from loudml_spark.pipeline.multimodal import dhash_bytes

    d = resolve_oracle_sf_dir(sf_dir)
    rows = duckdb.connect().execute(
        "SELECT doc_id, text FROM read_parquet(?) "
        "WHERE doc_id < ? ORDER BY doc_id",
        [os.path.join(d, "documents.parquet"), DHASH_DOCS]).fetchall()
    hashes = {}
    for doc_id, text in rows:
        if doc_id % 3 == 0:
            hashes[doc_id] = dhash_bytes(text.encode("utf-8"))
            if doc_id < DHASH_PERT:
                t = text[:10] + "x" + text[11:]
                hashes[doc_id + 100000] = dhash_bytes(t.encode("utf-8"))
    ids = sorted(hashes)
    mask = (1 << 64) - 1
    out = []
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin((hashes[a] ^ hashes[b]) & mask).count("1")
            if h <= DHASH_MAXD:
                out.append((a, b, h))
    if not out:
        return ("SELECT CAST(NULL AS BIGINT) AS id_a, "
                "CAST(NULL AS BIGINT) AS id_b, "
                "CAST(NULL AS INTEGER) AS hamming WHERE FALSE")
    values = ", ".join(f"({a}, {b}, {h})" for a, b, h in out)
    return f"""
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(hamming AS INTEGER) AS hamming
FROM (VALUES {values}) AS t(id_a, id_b, hamming)
"""


# ----------------------------------- k-core decomposition (r12, #7)

def q_graph_kcore_docs(spark, sf_dir):
    """Core number per document over the MinHash-LSH near-dup graph
    (pipeline/graph.py kcore_numbers, the h-index fixpoint) — the
    graph family's fourth lens: coreness separates "hub of a dense
    mirror mass" (high core) from "high-degree chain hub" (high
    degree, LOW core — the over-eager-band false-positive shape
    degree alone cannot distinguish; triangle coefficients see it
    per-node, coreness sees it structurally).  Same doc_id < 1000
    slice and pair frame as the other graph queries.  The oracle
    replays the pair frame through the shared LSH SQL, then computes
    coreness by TEXTBOOK PEELING in plain Python — a genuinely
    different algorithm; agreement is the correctness argument."""
    from loudml_spark.pipeline.graph import kcore_numbers

    pairs = q_minhash_lsh_pairs_docs(spark, sf_dir)
    return kcore_numbers(pairs).withColumnRenamed("id", "doc_id")


def _sql_graph_kcore_docs(sf_dir=None) -> str:
    import collections

    import duckdb

    from loudml_spark.oracle_util import resolve_oracle_sf_dir

    d = resolve_oracle_sf_dir(sf_dir)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet('%s')"
        % os.path.join(d, "documents.parquet"))
    pairs = con.execute(
        f"WITH {_SQL_LSH_CTES} "
        "SELECT id_a, id_b FROM j WHERE jaccard >= 0.8").fetchall()
    adj = collections.defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    deg = {u: len(v) for u, v in adj.items()}
    # textbook peeling (Batagelj–Zaversnik order): repeatedly remove
    # the minimum-degree node; its core is the running max of the
    # degree at removal time
    work = dict(deg)
    live = {u: set(v) for u, v in adj.items()}
    core = {}
    kcur = 0
    while work:
        u = min(work, key=lambda x: (work[x], x))
        kcur = max(kcur, work[u])
        core[u] = kcur
        for w in live[u]:
            live[w].discard(u)
            if w in work:
                work[w] = len(live[w])
        del work[u]
    if not core:
        return ("SELECT CAST(NULL AS BIGINT) AS doc_id, "
                "CAST(NULL AS BIGINT) AS degree, "
                "CAST(NULL AS BIGINT) AS core WHERE FALSE")
    values = ", ".join(
        f"({u}, {deg[u]}, {core[u]})" for u in sorted(core))
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(degree AS BIGINT) AS degree,
       CAST(core AS BIGINT) AS core
FROM (VALUES {values}) AS t(doc_id, degree, core)
"""


def q_incremental_components_docs(spark, sf_dir):
    """Incremental component maintenance (pipeline/graph.py
    incremental_components): the standing near-dup graph is the
    doc_id < 800 pair slice, the "ingest batch" is every pair
    touching 800–999; the standing labeling updates through the
    QUOTIENT graph (nodes = labels touched by the delta — bounded by
    2·|delta|, independent of standing size), the dedup family's
    delta-vs-standing pattern applied to CC.  The oracle recomputes
    components over the FULL pair frame from scratch (recursive-CTE
    closure) — value identity proves the incremental path equals the
    full recompute, which is the operator's entire contract."""
    from loudml_spark.pipeline.dedup import dedup_clusters
    from loudml_spark.pipeline.graph import incremental_components

    # one pair generation feeds both the standing and delta branch
    # (in a real service the standing labels are a stored table —
    # only this demo reconstructs them); the shared persisted pair
    # frame serves every scan, so the per-query localCheckpoint copy
    # is gone
    pairs = q_minhash_lsh_pairs_docs(spark, sf_dir).select("id_a", "id_b")
    standing = pairs.filter(
        (F.col("id_a") < 800) & (F.col("id_b") < 800))
    delta = pairs.filter(
        (F.col("id_a") >= 800) | (F.col("id_b") >= 800))
    labels = dedup_clusters(standing).select("doc_id", "cluster_id")
    return incremental_components(labels, delta)


SQL_INCREMENTAL_COMPONENTS_DOCS = f"""
WITH RECURSIVE {_SQL_LSH_CTES},
ipairs AS (
  SELECT id_a, id_b FROM j WHERE jaccard >= 0.8
),
ie AS (
  SELECT id_a AS src, id_b AS dst FROM ipairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM ipairs
),
ireach(id, r) AS (
  SELECT src, src FROM ie
  UNION
  SELECT ie.src, ireach.r FROM ie JOIN ireach ON ie.dst = ireach.id
),
icomp AS (
  SELECT id AS doc_id, MIN(r) AS cluster_id FROM ireach GROUP BY id
)
SELECT doc_id, cluster_id, cluster_id = doc_id AS is_canonical
FROM icomp
"""
