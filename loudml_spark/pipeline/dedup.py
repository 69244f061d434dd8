"""Deduplication operators for training-data pipelines.

Five families, each picked for a different scale/recall trade-off:

* **exact** — hash-groupBy on the content key; one shuffle, the 100 TB
  workhorse;
* **MinHash + LSH** — word-shingle signatures banded into buckets so
  candidate generation is an equi-join (shuffle on band hash), never a
  cross join; exact Jaccard verifies candidates;
* **SimHash** — 32-bit sign-fingerprint; near-dups have small Hamming
  distance;
* **n-gram Jaccard** — exact pairwise verification (bounded subsets /
  LSH candidates only — a raw cross join is the anti-pattern);
* **embedding cosine** — near-dup via vector similarity.

All hashing is portable int64 polynomial arithmetic (mod 1e9+7), so
every stage — signatures included — can be value-checked against a
DuckDB oracle.  Spark's built-in MinHashLSH exists in MLlib, but its
hash seeds are not reproducible across engines; deterministic
signatures also make incremental dedup (new shard vs existing corpus)
stable across runs, which matters more at 100 TB than the constant
factor.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from loudml_spark import session_cache
from loudml_spark.pipeline.text import (
    HASH_MOD,
    TOKEN_RE,
    let_col,
    rolling_hash_col,
    scramble_col,
    words_col,
)

# fixed MinHash permutation parameters (odd multipliers, arbitrary
# offsets — stated in-code so the SQL oracle can mirror them)
MINHASH_A = (1299721, 2750161, 4256233, 5800079, 7368787, 8960453,
             10570841, 12195257)
MINHASH_B = (15485863, 32452843, 49979687, 67867967, 86028121,
             104395301, 122949823, 141650939)
N_HASHES = len(MINHASH_A)


def _shingle_index_col(w: Column, n: int) -> Column:
    """Start indices 0..size(w)-n, or empty when the doc has fewer than
    n words (a bare F.sequence would step -1 downward when start>stop
    and element_at(w, 0) throws under ANSI)."""
    return F.when(
        F.size(w) >= n, F.sequence(F.lit(0), F.size(w) - n)
    ).otherwise(F.array().cast("array<int>"))


# perfbench/env.py reads this name; persists live in session_cache.
_PERSISTED = ()


def verify_spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Explicitly repartition a candidate-id frame before an exact
    verify stage (Jaccard / Levenshtein / cosine over the attached
    payloads).

    Why: AQE coalesces post-shuffle partitions by BYTES, and a
    deduped candidate-pair frame is a few bytes per row — so the
    exchange feeding the verify collapses to 1-3 tasks while the
    verify itself (array_intersect over shingle sets, bounded edit
    distance, ...) is the pipeline's dominant CPU stage.  Measured at
    sf0.1: the warm LSH pair verify runs 2.4 s with full parallelism
    vs 5-13 s when AQE serializes it (OPTIMIZATION_r12.md C9).
    Bytes-based coalescing cannot see CPU density; the session-wide
    floor was tried and reverted (C1) — the targeted, scale-neutral
    form is an explicit numbered repartition at exactly the stages
    known to be CPU-heavy, which AQE leaves alone.

    Scale shape: the exchange carries only the deduped id pairs
    (~16 bytes/row).  On a real cluster the attach joins stop being
    broadcasts and re-shuffle by id anyway (their exchanges are sized
    by AQE on the payload bytes), so this pins parallelism exactly
    where the small-frame/broadcast regime needs it and is noise
    elsewhere.  Partition count = max(total cores, the session's
    configured shuffle parallelism) — both scale-adaptive knobs, no
    constant tuned to this host.

    ROUND-ROBIN, deliberately: a keyed ``repartition(p, id_a, id_b)``
    directly over the pair dedup produces exactly the partitioning
    the dedup exchange already has, so the planner ELIDES it and AQE
    coalesces the surviving dedup exchange anyway (verified in the
    executed plan — the repartition was gone and the save stage ran
    1 task).  RoundRobinPartitioning never satisfies a hash
    requirement, so the exchange survives, and REPARTITION_BY_NUM is
    exempt from AQE coalescing; balance is perfect by construction.
    ``key_cols`` is kept for documentation of what the frame carries.
    Retry-safe: sortBeforeRepartition (default on) makes round-robin
    deterministic under task retry; values are unaffected either way
    (per-row verify, order-independent downstream aggregates)."""
    spark = df.sparkSession
    p = max(spark.sparkContext.defaultParallelism,
            int(spark.conf.get("spark.sql.shuffle.partitions", "200")))
    return df.repartition(p)


def posting_pairs(plist: DataFrame, ids_col: str = "ids") -> DataFrame:
    """Explode a posting-list frame (one array-of-ids row per key)
    into canonicalized candidate pairs ``(id_a, id_b)``.

    Two-level explosion: the first ``posexplode`` streams one row per
    anchor element, the second builds only THAT anchor's pairs — so
    peak per-row memory is O(|ids|), never the O(|ids|²/2) struct
    array a single flatten-then-explode row would materialize (an
    executor-OOM hazard on a hot key when no df cut is configured).
    Both explodes are generators inside one whole-stage-codegen span:
    pairs stream through the pipeline, total work is unchanged, and
    the upstream posting subtree still evaluates exactly once (the
    reason this shape beats a posting⋈posting self-join — measured
    22 s → 8 s at 150k keys / 3.3M pairs).

    ``least/greatest`` canonicalizes because collect_list order is
    nondeterministic.  Callers dedupe downstream (a pair can share
    several keys)."""
    return (
        plist
        .select(F.col(ids_col).alias("__ids"),
                F.posexplode(ids_col).alias("__i", "__a"))
        .select(F.explode(F.expr(
            "transform(slice(__ids, __i + 2, size(__ids)), b ->"
            " struct(least(__a, b) AS id_a, greatest(__a, b) AS id_b))"
        )).alias("p"))
        .select("p.id_a", "p.id_b")
    )


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram strings.  The let-binding matters: without
    it the split re-runs per gram index (O(words²) per row — see
    let_col)."""
    return let_col(
        words_col(text),
        lambda w: F.array_distinct(
            F.transform(
                _shingle_index_col(w, n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(w, i + j + 1) for j in range(n)]
                ),
            )
        ),
    )


def shingle_hashes_col(text: Column, n: int = 3) -> Column:
    """Distinct n-gram hashes (rolling hash of each shingle string)."""
    return F.array_distinct(
        F.transform(
            shingles_col(text, n),
            lambda s: F.aggregate(
                F.split(s, ""),
                F.lit(0).cast("long"),
                lambda acc, c: (acc * 31 + F.ascii(c)) % HASH_MOD,
            ),
        )
    )


def exact_dedup(
    df: DataFrame, key_cols: Sequence[str], id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct key: lowest id kept + duplicate count.
    Single hash-shuffle on the key — the exact-dedup primitive."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("kept_id"),
        F.count("*").alias("n_dups"),
    )


def _tokenize(text: str, tokenizer: str) -> list[str]:
    """Python-side mirror of text.words_col / text.regex_words_col."""
    if tokenizer == "regex":
        import re

        return re.findall(TOKEN_RE, text.lower())
    return text.split(" ")


def _shingle_hash_set(
    text: str, n: int, tokenizer: str = "whitespace"
) -> set[int]:
    """Distinct n-gram rolling hashes — same arithmetic as
    pipeline.text.rolling_hash_col / the SQL oracle (exact int math)."""
    words = _tokenize(text, tokenizer)
    if n == 1:
        shingles = words
    else:
        shingles = [
            " ".join(words[i:i + n]) for i in range(len(words) - n + 1)
        ]
    out = set()
    for s in shingles:
        h = 0
        for c in s:
            h = (h * 31 + ord(c)) % HASH_MOD
        out.add(h)
    return out


def _batch_shingle_hashes(texts, n: int, tokenizer: str = "whitespace"):
    """Vectorized batch version of :func:`_shingle_hash_set`: all
    shingles of the whole Arrow batch go into one right-aligned
    char-code matrix hashed by column-wise Horner steps (int64, mod
    every step — exact same arithmetic, ~10× faster than the per-char
    Python loop).  Returns a list of distinct-hash int64 arrays."""
    import numpy as np

    all_shingles: list[list[str]] = []
    for t in texts:
        words = _tokenize(t, tokenizer)
        if n == 1:
            sh = words
        else:
            sh = [" ".join(words[i:i + n])
                  for i in range(len(words) - n + 1)]
        all_shingles.append(sh)
    flat = [s for sh in all_shingles for s in sh]
    if not flat:
        return [np.empty(0, dtype=np.int64) for _ in all_shingles]
    # group by EXACT length: no padding, and one pathological long
    # token (base64 blob, minified JS) cannot blow the matrix up to
    # n_shingles × max_len — memory is Σ(len) ≈ the batch's text size
    lens = np.fromiter((len(s) for s in flat), dtype=np.int64,
                       count=len(flat))
    h = np.zeros(len(flat), dtype=np.int64)
    order = np.argsort(lens, kind="stable")
    sorted_lens = lens[order]
    start = 0
    while start < len(order):
        L = int(sorted_lens[start])
        stop = int(np.searchsorted(sorted_lens, L, side="right"))
        idx = order[start:stop]
        if L > 0:
            codes = np.frombuffer(
                "".join(flat[i] for i in idx).encode("utf-32-le"),
                dtype=np.uint32,
            ).reshape(len(idx), L).astype(np.int64)
            hh = np.zeros(len(idx), dtype=np.int64)
            for j in range(L):
                hh = (hh * 31 + codes[:, j]) % HASH_MOD
            h[idx] = hh
        start = stop
    out = []
    off = 0
    for sh in all_shingles:
        out.append(np.unique(h[off:off + len(sh)]))
        off += len(sh)
    return out


def _shingle_hashes_udf(n: int, tokenizer: str = "whitespace"):
    """array<long> of distinct shingle hashes, Arrow-vectorized.

    Measured: the pure-Column HOF formulation (aggregate over
    split()) re-inlines the word-split expression per element in the
    interpreted HOF path — ~0.4 s/doc at 60 words/doc.  The same
    arithmetic in a pandas UDF is ~1000× faster and keeps exact
    integer parity with the DuckDB oracle."""

    def fn(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [hs.tolist()
             for hs in _batch_shingle_hashes(texts, n, tokenizer)]
        )

    return F.pandas_udf(fn, "array<long>")


def _signature_udf(n: int, tokenizer: str = "whitespace"):
    """array<long>[N_HASHES] minhash signature, Arrow-vectorized."""

    def fn(texts: pd.Series) -> pd.Series:
        import numpy as np

        A = np.array(MINHASH_A, dtype=np.int64)[:, None]
        B = np.array(MINHASH_B, dtype=np.int64)[:, None]
        out = []
        for hs in _batch_shingle_hashes(texts, n, tokenizer):
            if hs.size == 0:
                out.append([HASH_MOD] * N_HASHES)
            else:
                out.append(
                    ((A * hs[None, :] + B) % HASH_MOD).min(axis=1).tolist()
                )
        return pd.Series(out)

    return F.pandas_udf(fn, "array<long>")


def _shingle_sig_udf(n: int, tokenizer: str = "whitespace"):
    """One pass over the text producing BOTH the shingle-hash set and
    the minhash signature as struct<sh, sig> — the shingle set is the
    dominant map cost, so computing it once (not once per dependent
    UDF) halves the LSH map stage."""

    def fn(texts: pd.Series) -> pd.DataFrame:
        import numpy as np

        A = np.array(MINHASH_A, dtype=np.int64)[:, None]
        B = np.array(MINHASH_B, dtype=np.int64)[:, None]
        shs, sigs = [], []
        for hs in _batch_shingle_hashes(texts, n, tokenizer):
            shs.append(hs.tolist())
            if hs.size == 0:
                sigs.append([HASH_MOD] * N_HASHES)
            else:
                sigs.append(
                    ((A * hs[None, :] + B) % HASH_MOD).min(axis=1).tolist()
                )
        return pd.DataFrame({"sh": shs, "sig": sigs})

    return F.pandas_udf(fn, "struct<sh: array<long>, sig: array<long>>")


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, tokenizer: str = "whitespace",
) -> DataFrame:
    """(id, sig array<long>[N_HASHES]) — min over shingle hashes of
    (a_k·h + b_k) mod p.  Arrow-vectorized map, no shuffle.
    ``tokenizer="regex"`` shingles over lowercased alnum runs so
    near-dup detection survives punctuation variation."""
    return df.select(
        F.col(id_col),
        _signature_udf(n, tokenizer)(F.col(text_col)).alias("sig"),
    )


def _check_bands(bands: int) -> int:
    """rows-per-band, validated: bands must evenly divide N_HASHES —
    otherwise r = N_HASHES // bands silently drops signature values
    (or collapses to r = 0, every band carrying the SAME one-hash
    key: collision probability j instead of j^r, recall quietly
    gone)."""
    if bands < 1 or N_HASHES % bands != 0:
        from loudml_spark import errors

        raise errors.Invalid(
            f"bands must evenly divide N_HASHES={N_HASHES}, got {bands}")
    return N_HASHES // bands


def jaccard_col(sh_a: str, sh_b: str):
    """Exact Jaccard of two shingle-set columns — THE verification
    expression every near-dup path shares.  No rounding: int/int
    division is bit-deterministic, and ROUND on exact decimal ties
    (e.g. 1/128) is not engine-portable.  union = 0 (two sub-n-word
    docs) defines jaccard as 0, not ÷0."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(sh_a) + F.size(sh_b) - inter
    return F.when(
        union > 0, inter.cast("double") / union.cast("double")
    ).otherwise(F.lit(0.0))


def band_keys(sig: DataFrame, *, bands: int = 4) -> DataFrame:
    """(id, band, key) from an (id, sig) frame — the LANDING-TIME
    key table: store it next to shingle_signatures' output and an
    incremental batch equi-joins it directly
    (incremental_minhash_pairs' ``corpus_keys``) instead of
    re-banding the corpus per batch."""
    return _banded_keys(sig, bands, _check_bands(bands))


def _banded_keys(sig: DataFrame, bands: int, r: int) -> DataFrame:
    """(id, band, key) rows from an (id, sig) frame — the band key
    combines r signature values into one int64, and ONLY the id
    rides into the band shuffle (the shingle set stays out)."""
    return sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                sum(
                    (F.element_at("sig", b * r + j + 1) * (31 ** j)
                     for j in range(1, r)),
                    F.element_at("sig", b * r + 1),
                ).alias("key"),
            )
            for b in range(bands)
        ])).alias("bk"),
    ).select("id", "bk.band", "bk.key")


def shingle_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    tokenizer: str = "whitespace",
    persist: bool = False,
) -> DataFrame:
    """(id, sh, sig): the shingle-hash set AND minhash signature of
    every document in ONE fused Arrow pass — the landing-time
    signature table.  Write this to parquet when a corpus lands and
    every later near-dup job (incremental_minhash_pairs'
    ``corpus_sig``, cluster maintenance) reads the stored keys
    instead of re-hashing the text.  Lazy, map-only by default;
    ``persist=True`` additionally caches it memory-and-disk
    (through the session cache, released by ``release_caches``) and
    materializes EAGERLY — the multi-consumer form the LSH paths
    use, where concurrent stages would otherwise race to
    compute-and-cache the same partitions."""
    sig = df.select(
        F.col(id_col).alias("id"),
        _shingle_sig_udf(n, tokenizer)(F.col(text_col)).alias("ss"),
    ).select("id", F.col("ss.sh").alias("sh"), F.col("ss.sig").alias("sig"))
    if persist:
        sig = session_cache.persist(sig)
        sig.count()
    return sig


def _shingle_sig_frame(
    df: DataFrame, text_col: str, id_col: str, n: int, tokenizer: str,
) -> DataFrame:
    return shingle_signatures(
        df, text_col, id_col, n=n, tokenizer=tokenizer, persist=True)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
    tokenizer: str = "whitespace",
) -> DataFrame:
    """Candidate pairs via LSH banding, verified with exact Jaccard.

    rows_per_band = N_HASHES // bands.  Band buckets become an
    equi-join key: candidates = docs sharing any band — shuffle on
    (band, key), never a cross join.  Output: (id_a, id_b, jaccard)
    with jaccard ≥ threshold, id_a < id_b.

    Shuffle discipline (the 100 TB-dominant cost): the band self-join
    shuffles ONLY (id, band, key) — 3 scalars — and dedups candidate
    id pairs before anything wide moves; the shingle-hash sets join
    back by id afterwards, so each set crosses the wire at most once
    per side instead of ×bands replicated through the band shuffle.
    The (id, sh, sig) frame is persisted (memory-and-disk) because
    three plan branches consume it and the Arrow shingle pass is the
    dominant map cost — recomputing it per branch would triple it.
    """
    r = _check_bands(bands)
    # ONE Arrow pass computes the shingle set and its signature
    # together (r1 verdict: two separate UDFs re-hashed every shingle
    # twice — 2× the dominant map cost)
    # persist + eager materialization: three plan branches consume
    # `sig`, and a lazy persist lets Spark schedule those stages
    # concurrently — each races to compute-and-cache the same
    # partitions, paying the dominant Arrow shingle pass up to 3×
    # (measured 13 s → 35-77 s cold at sf0.1).  The blocking count
    # inside _shingle_sig_frame runs the pass exactly once into the
    # cache before any consumer stage launches.
    sig = _shingle_sig_frame(df, text_col, id_col, n, tokenizer)
    keys = _banded_keys(sig, bands, r)

    cand_ids = (
        keys.alias("a").join(
            keys.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # keep the verify stage parallel: AQE would coalesce the deduped
    # id-pair exchange to 1-3 tasks by bytes and serialize the exact
    # Jaccard below (see verify_spread)
    cand_ids = verify_spread(cand_ids, "id_a", "id_b")
    sets = sig.select("id", "sh")
    cand = (
        cand_ids
        .join(sets.select(F.col("id").alias("id_a"),
                          F.col("sh").alias("sh_a")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"),
                          F.col("sh").alias("sh_b")), "id_b")
    )
    return (
        cand.withColumn("jaccard", jaccard_col("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def exact_dedup_index(
    corpus_df: DataFrame,
    key_cols: Sequence[str] = ("text",),
    id_col: str = "doc_id",
) -> DataFrame:
    """(key_cols..., dup_of): the corpus' per-content-key minima —
    the landing-time EXACT-dedup index.  Store it (bucketed on the
    key) when the corpus lands and pass it to incremental_exact_new
    as ``corpus_index`` so each delta batch pays only delta×index
    instead of re-aggregating the standing corpus per batch."""
    return corpus_df.groupBy(*key_cols).agg(
        F.min(id_col).alias("dup_of"))


def incremental_exact_new(
    new_df: DataFrame,
    corpus_df: DataFrame,
    key_cols: Sequence[str] = ("text",),
    id_col: str = "doc_id",
    *,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Incremental-ingestion exact dedup: for every document in the
    NEW batch, is it already in the corpus?  Returns the new batch's
    (id, is_new, dup_of) — ``dup_of`` is the lowest corpus id with
    identical content (null when genuinely new).

    One equi-join of the new batch against the corpus' per-key
    minima on the content key; the corpus side reduces to one row
    per distinct key before the join (map-side combined), so the
    join input is |distinct corpus keys|, not corpus rows.  This is
    the daily-delta shape: the corpus×corpus pass ran when the
    corpus landed.  Pass the STORED ``exact_dedup_index`` frame as
    ``corpus_index`` and each batch truly pays only delta×index —
    without it the index is rebuilt from ``corpus_df`` per call (one
    corpus scan + shuffle), the bounded self-contained form."""
    key_cols = list(key_cols)
    index = (corpus_index if corpus_index is not None
             else exact_dedup_index(corpus_df, key_cols, id_col))
    out = new_df.select(id_col, *key_cols).join(
        index, key_cols, "left")
    return out.select(
        id_col,
        F.col("dup_of").isNull().alias("is_new"),
        "dup_of",
    )


def incremental_minhash_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
    tokenizer: str = "whitespace",
    new_sig: DataFrame | None = None,
    corpus_sig: DataFrame | None = None,
    corpus_keys: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup detection: LSH candidate pairs BETWEEN a
    new batch and the existing corpus (never corpus×corpus — that
    ran when the corpus landed), verified with exact Jaccard.
    Returns (corpus_id, new_id, jaccard) with jaccard ≥ threshold.

    Same shuffle discipline as minhash_lsh_pairs: the cross-frame
    band join moves only (id, band, key); shingle sets join back by
    id.  The production landing-time contract — both tables are
    pure functions of the text, computed ONCE when the corpus lands:

    * ``corpus_sig`` — the stored ``shingle_signatures`` frame
      (skips re-hashing the corpus text per batch);
    * ``corpus_keys`` — the stored ``band_keys`` frame, ideally
      bucketed on ``key`` (skips the per-batch corpus band-explode
      AND its shuffle: with a small delta, AQE broadcasts the
      delta's keys and the per-batch cost really is proportional to
      the delta, as an incremental path should be — without it the
      corpus-side re-band + shuffle dominates each batch).

    Without them, both sides compute from text (the bounded
    self-contained form the catalog query exercises)."""
    r = _check_bands(bands)
    sig_new = (new_sig if new_sig is not None else
               _shingle_sig_frame(new_df, text_col, id_col, n, tokenizer))
    sig_corpus = (corpus_sig if corpus_sig is not None else
                  _shingle_sig_frame(
                      corpus_df, text_col, id_col, n, tokenizer))
    keys_corpus = (corpus_keys if corpus_keys is not None
                   else _banded_keys(sig_corpus, bands, r))
    cand = (
        keys_corpus.alias("a")
        .join(
            _banded_keys(sig_new, bands, r).alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key")),
        )
        .select(
            F.col("a.id").alias("corpus_id"),
            F.col("b.id").alias("new_id"),
        )
        .dropDuplicates(["corpus_id", "new_id"])
    )
    cand = verify_spread(cand, "corpus_id", "new_id")
    pairs = (
        cand
        .join(sig_corpus.select(F.col("id").alias("corpus_id"),
                                F.col("sh").alias("sh_a")), "corpus_id")
        .join(sig_new.select(F.col("id").alias("new_id"),
                             F.col("sh").alias("sh_b")), "new_id")
    )
    return (
        pairs.withColumn("jaccard", jaccard_col("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("corpus_id", "new_id", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard.  O(N²) verification — restrict
    the input (subset or LSH candidates) before calling; the full-
    corpus path at scale is minhash_lsh_pairs."""
    sets = df.select(
        F.col(id_col).alias("id"),
        # shingle strings (not hashes): exact verify
        shingles_col(F.col(text_col), n).alias("sh"),
    )
    a, b = sets.alias("a"), sets.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            jaccard_col("a.sh", "b.sh").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def benchmark_overlap(
    df: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    n: int = 3,
    min_overlap: int = 8,
    tokenizer: str = "whitespace",
    shingles_col: str | None = None,
) -> DataFrame:
    """Decontamination: flag training documents that share ≥
    ``min_overlap`` distinct word n-grams with ANY benchmark/eval
    document — the test-set-leakage scrub every pre-training corpus
    needs before release.

    Scale shape: the benchmark side is SMALL by definition (eval sets
    are thousands of docs, the corpus is billions) — its exploded
    n-gram hashes broadcast, the corpus streams through one
    Arrow-vectorized shingle pass and an equi-join on the hash, and
    per-(doc, bench) overlap counts reduce map-side.  No shuffle of
    the corpus text itself, no nested-loop join.

    Output: one row per input document — ``contaminated`` boolean,
    ``matched_bench`` (the benchmark doc with the LARGEST overlap,
    ties to the smallest id; null when clean), ``n_overlap``
    (0 when clean).  Deterministic.
    """
    from pyspark.sql import Window

    if min_overlap < 1:
        raise ValueError("min_overlap must be >= 1")
    sh = _shingle_hashes_udf(n, tokenizer)
    # ``shingles_col``: reuse a precomputed shingle-hash array (the
    # Arrow pass is the dominant map cost — a caller that already
    # paid it, e.g. the Bloom prefilter, must not pay it twice)
    doc_grams = (F.col(shingles_col) if shingles_col
                 else sh(F.col(text_col)))
    doc_sh = df.select(
        F.col(id_col), F.explode(doc_grams).alias("__h"))
    bench_sh = benchmark.select(
        F.col(bench_id_col).alias("__bid"),
        F.explode(sh(F.col(text_col))).alias("__h"),
    )
    best = _benchmark_best(doc_sh, bench_sh, id_col, min_overlap)
    return _attach_contamination(df.select(id_col), best, id_col)


def _gram_hash(col: Column) -> Column:
    """Base-31 Horner hash of a gram string — the same chain the
    DuckDB oracles replay character-for-character."""
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % HASH_MOD,
    )


def positional_shingles_col(text: Column, n: int = 3) -> Column:
    """Word n-gram strings WITH duplicates in document order — the
    positional sibling of :func:`shingles_col` (posexplode over it
    yields the gram's 0-based start-token index, which span-level
    decontamination needs; the distinct form cannot carry it)."""
    return let_col(
        words_col(text),
        lambda w: F.transform(
            _shingle_index_col(w, n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + j + 1) for j in range(n)]
            ),
        ),
    )


def benchmark_overlap_spans(
    df: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    n: int = 3,
    min_overlap: int = 8,
) -> DataFrame:
    """Span-level decontamination: for every contaminated document,
    WHERE the leak lives — the token span covering all grams shared
    with the best-matching benchmark doc — so the pipeline can excise
    the span instead of dropping the whole document (the GPT-3 /
    Pile-style n-gram surgery; :func:`benchmark_overlap` only answers
    drop-or-keep).

    Shape: posexplode positional grams (map-side), equi-join the
    broadcast benchmark gram set, per-(doc, bench) DISTINCT-gram
    count (identical n_overlap semantics to benchmark_overlap) with
    min/max matched gram position, best bench doc by (count desc, id
    asc).  Output: one row per CONTAMINATED doc — (id_col,
    matched_bench, n_overlap, span_start, span_end) where span_end =
    last matched gram's start + n − 1 (inclusive token indices).
    Both sides hash through the same base-31 Horner chain, so the
    DuckDB oracle replays everything.
    """
    from pyspark.sql import Window

    if min_overlap < 1:
        raise ValueError("min_overlap must be >= 1")

    doc_g = df.select(
        F.col(id_col),
        F.posexplode(positional_shingles_col(F.col(text_col), n))
        .alias("pos", "__s"),
    ).select(id_col, "pos", _gram_hash(F.col("__s")).alias("__h"))
    bench_g = benchmark.select(
        F.col(bench_id_col).alias("__bid"),
        F.explode(positional_shingles_col(F.col(text_col), n))
        .alias("__s"),
    ).select("__bid", _gram_hash(F.col("__s")).alias("__h")).distinct()
    agg = (
        doc_g.join(F.broadcast(bench_g), "__h")
        .groupBy(id_col, "__bid")
        .agg(
            F.countDistinct("__h").alias("n_overlap"),
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).alias("span_end"),
        )
        .filter(F.col("n_overlap") >= min_overlap)
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("n_overlap"), F.asc("__bid"))
    return (
        agg.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(id_col, F.col("__bid").alias("matched_bench"),
                "n_overlap",
                F.col("span_start").cast("long").alias("span_start"),
                F.col("span_end").cast("long").alias("span_end"))
    )


def _position_runs(pos_df: DataFrame, id_col: str, *, n: int,
                   gap: int) -> DataFrame:
    """(id, pos) matched-gram start positions → disjoint span runs:
    consecutive positions more than ``gap`` apart start a new run;
    span_end = last position + n − 1.  The window is per-doc
    (bounded by doc length), never global.  Output: (id_col, run,
    span_start, span_end, n_matched_grams), run 1-based in position
    order; runs are pairwise disjoint token spans."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    runs = pos_df.withColumn(
        "__new",
        F.when(F.col("pos") - F.lag("pos").over(w) > gap, 1)
        .otherwise(F.lit(0)),
    ).withColumn("run", F.sum("__new").over(w) + 1)
    return (
        runs.groupBy(id_col, "run")
        .agg(F.min("pos").alias("span_start"),
             (F.max("pos") + F.lit(n - 1)).alias("span_end"),
             F.count("*").alias("n_matched_grams"))
        .select(id_col, F.col("run").cast("long").alias("run"),
                F.col("span_start").cast("long").alias("span_start"),
                F.col("span_end").cast("long").alias("span_end"),
                F.col("n_matched_grams").cast("long")
                .alias("n_matched_grams"))
    )


def benchmark_leak_spans(
    df: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    n: int = 3,
    min_overlap: int = 8,
    gap: int | None = None,
) -> DataFrame:
    """PER-LEAK span decontamination: one row per contiguous leaked
    region, unlike :func:`benchmark_overlap_spans` which hulls every
    match from the single best bench doc into one span (excising all
    clean text between two separated leaks, and missing leaks from
    the second-best bench entirely).  This is the real GPT-3 /
    Pile-style surgery input: matched gram positions from ALL
    qualifying bench docs are merged, then split into gap-separated
    runs so each leak excises individually.

    Semantics: a (doc, bench) pair qualifies when it shares ≥
    ``min_overlap`` distinct grams (identical to benchmark_overlap);
    the distinct matched gram start positions of all qualifying pairs
    merge per doc and split where consecutive positions are more than
    ``gap`` tokens apart (default ``n``: runs whose matched gram
    windows overlap or abut stay together, so runs are pairwise
    disjoint token spans — span_end(run k) < span_start(run k+1)).

    Scale shape: same as benchmark_overlap_spans — one positional
    gram pass over the corpus, broadcast bench gram set, ONE
    aggregation per (doc, bench) carrying both the distinct-gram
    count and the matched position set (collect_set bounded by doc
    length, so the corpus gram subtree evaluates once), then a
    per-doc window over positions (bounded by doc length, properly
    partitioned).  Output: (id_col, run, span_start, span_end,
    n_matched_grams) for contaminated docs only; run is 1-based in
    position order."""
    if min_overlap < 1:
        raise ValueError("min_overlap must be >= 1")
    gap = n if gap is None else gap

    doc_g = df.select(
        F.col(id_col),
        F.posexplode(positional_shingles_col(F.col(text_col), n))
        .alias("pos", "__s"),
    ).select(id_col, "pos", _gram_hash(F.col("__s")).alias("__h"))
    bench_g = benchmark.select(
        F.col(bench_id_col).alias("__bid"),
        F.explode(positional_shingles_col(F.col(text_col), n))
        .alias("__s"),
    ).select("__bid", _gram_hash(F.col("__s")).alias("__h")).distinct()
    pos = (
        doc_g.join(F.broadcast(bench_g), "__h")
        .groupBy(id_col, "__bid")
        .agg(F.countDistinct("__h").alias("__n"),
             F.collect_set("pos").alias("__poss"))
        .filter(F.col("__n") >= min_overlap)
        .select(id_col, F.explode("__poss").alias("pos"))
        .distinct()
    )
    return _position_runs(pos, id_col, n=n, gap=gap)


def repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 10,
    min_count: int = 2,
    gap: int | None = None,
) -> DataFrame:
    """INTRA-corpus repeated-span detection — the ExactSubstr-style
    dedup of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (arXiv 2107.06499), at word-n-gram resolution: find every token span whose ``n``-grams occur ≥
    ``min_count`` times ACROSS THE CORPUS (within-doc repeats
    included), merged into gap-separated runs per doc.  Complements
    `dedup_lines` (C4 line granularity) and `benchmark_overlap_*`
    (cross-corpus leaks): this is the operator that catches boilerplate
    headers, licence blocks and templated text duplicated across
    documents that are NOT near-duplicates of each other.

    Scale shape: one positional gram projection (pure Column math, no
    Python), a corpus-wide occurrence count per gram hash (one
    shuffle with map-side combine — the same vocabulary-aggregate
    shape as the PPJoin prefix index), an equi-join of grams to the
    surviving hashes, then the per-doc position-run window.  The gram
    subtree evaluates twice (count + join) exactly like the jaccard
    prefix index; both are plain scans.  A hot gram (appearing in
    every doc) costs join rows linear in its occurrences — no
    quadratic anywhere, no pair explosion at all.

    Output: (id_col, run, span_start, span_end, n_matched_grams).
    Feed to :func:`excise_spans` to trim.  NOTE the contract
    deviation from Lee et al.: ALL occurrences of a repeated span are
    excised (their suffix-array pipeline keeps one canonical copy);
    keeping-one requires a global per-gram tie-break that costs a
    second shuffle — callers that need it can anti-join one keeper
    doc per span hash upstream."""
    if min_count < 2:
        raise ValueError("min_count must be >= 2 (1 matches everything)")
    gap = n if gap is None else gap
    g = df.select(
        F.col(id_col),
        F.posexplode(positional_shingles_col(F.col(text_col), n))
        .alias("pos", "__s"),
    ).select(id_col, "pos", _gram_hash(F.col("__s")).alias("__h"))
    hot = (
        g.groupBy("__h").agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__h")
    )
    pos = g.join(hot, "__h").select(id_col, "pos")
    return _position_runs(pos, id_col, n=n, gap=gap)


def repeated_spans_keep_one(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 10,
    min_count: int = 2,
    gap: int | None = None,
) -> DataFrame:
    """:func:`repeated_spans` with Lee et al.'s KEEP-ONE contract:
    for every repeated gram, the globally-first occurrence (smallest
    ``(id, pos)``) is the canonical copy and survives; every other
    occurrence is excisable.  So corpus-wide boilerplate keeps exactly
    one instance instead of vanishing entirely — the semantics a
    training corpus actually wants (ExactSubstr removes all-but-one).

    Shape: the occurrence rank is one window over the gram table
    partitioned by gram hash (rank 1 = keeper) — properly partitioned,
    hot grams bound each partition's sort at their occurrence count;
    ranks > 1 feed the same per-doc run window as the drop-all
    variant.  The DuckDB oracle replays the identical
    ``row_number() OVER (PARTITION BY h ORDER BY id, pos)`` rule, so
    keeper choice is engine-portable (total order, no ties)."""
    from pyspark.sql import Window

    if min_count < 2:
        raise ValueError("min_count must be >= 2 (1 matches everything)")
    gap = n if gap is None else gap
    g = df.select(
        F.col(id_col),
        F.posexplode(positional_shingles_col(F.col(text_col), n))
        .alias("pos", "__s"),
    ).select(id_col, "pos", _gram_hash(F.col("__s")).alias("__h"))
    w = Window.partitionBy("__h").orderBy(F.asc(id_col), F.asc("pos"))
    ranked = g.select(
        id_col, "pos", "__h",
        F.row_number().over(w).alias("__rn"),
        F.count("*").over(Window.partitionBy("__h")).alias("__c"),
    )
    pos = ranked.filter(
        (F.col("__c") >= min_count) & (F.col("__rn") > 1)
    ).select(id_col, "pos").distinct()
    return _position_runs(pos, id_col, n=n, gap=gap)


def excise_spans(
    df: DataFrame,
    spans: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply span surgery: remove every inclusive token span
    ``[span_start, span_end]`` (0-based token indices) listed for a
    document; unflagged documents pass through untouched.  Accepts
    one span per doc (:func:`benchmark_overlap_spans`) or many
    (:func:`benchmark_leak_spans`) — clean text BETWEEN two leaks
    survives, which is the point of per-leak surgery.

    Shape: the span frame (small — contaminated docs only) groups to
    one array-of-spans row per doc, one left join onto the corpus,
    then map-side token filtering with the index-aware array filter
    (per-token `exists` over the doc's spans — spans per doc are a
    handful, tokens are bounded by doc length) — no explode, no
    shuffle of the text beyond the join.  Output: (id_col, text_col
    cleaned, n_tokens_removed, was_contaminated).
    ``n_tokens_removed`` counts tokens actually dropped, so it is
    correct even for overlapping input spans."""
    sp = (
        spans.select(id_col, "span_start", "span_end")
        .groupBy(id_col)
        .agg(F.collect_list(
            F.struct(F.col("span_start").alias("s"),
                     F.col("span_end").alias("e"))).alias("__spans"))
    )
    joined = df.select(id_col, text_col).join(sp, id_col, "left")

    def keep(w):
        # index-aware filter (0-based i): keep tokens inside no span
        return F.filter(
            w,
            lambda x, i: ~F.exists(
                F.col("__spans"),
                lambda s: (i >= s["s"]) & (i <= s["e"])),
        )

    # double let-binding: the token array AND the filtered array each
    # evaluate once per row (keep() is O(tokens × spans) — without the
    # inner binding it would run twice, once per struct field)
    cleaned = let_col(
        words_col(F.col(text_col)),
        lambda w: let_col(
            keep(w),
            lambda k: F.struct(
                F.concat_ws(" ", k).alias("text"),
                (F.size(w) - F.size(k)).alias("removed"),
            ),
        ),
    )
    out = joined.withColumn("__c", cleaned)
    contaminated = F.col("__spans").isNotNull()
    return out.select(
        id_col,
        F.when(contaminated, F.col("__c.text"))
        .otherwise(F.col(text_col)).alias(text_col),
        F.when(contaminated, F.col("__c.removed"))
        .otherwise(F.lit(0)).cast("long").alias("n_tokens_removed"),
        contaminated.alias("was_contaminated"),
    )


def _benchmark_best(doc_sh, bench_sh, id_col, min_overlap):
    """Shared core: exploded (id, gram-hash) vs broadcast bench grams
    → per-doc best match ≥ min_overlap (count desc, bench id asc)."""
    from pyspark.sql import Window

    hits = (
        doc_sh.join(F.broadcast(bench_sh), "__h")
        .groupBy(id_col, "__bid")
        .agg(F.count("*").alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("n_overlap"), F.asc("__bid"))
    return (
        hits.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(id_col, F.col("__bid").alias("matched_bench"),
                "n_overlap")
    )


def _attach_contamination(ids_df, best, id_col):
    """Re-attach clean documents: one output row per input doc."""
    return (
        ids_df.join(best, id_col, "left")
        .select(
            id_col,
            F.col("matched_bench"),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.col("matched_bench").isNotNull().alias("contaminated"),
        )
    )


def ngram_jaccard_pairs_indexed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    threshold: float = 0.2,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs via a prefix-filtered inverted-index
    join — the scale path replacing :func:`ngram_jaccard_pairs`'
    O(N²) self-join.  Same output, same oracle.

    All-pairs similarity join (Bayardo et al., WWW'07 / PPJoin):

    1. each doc's distinct shingles are ordered canonically by global
       document frequency ascending (rare first; ties by string) —
       one small agg + broadcast-rank join;
    2. only the first ``|sh| − ⌈t·|sh|⌉ + 1`` shingles (the PREFIX)
       are indexed.  Two docs with Jaccard ≥ t MUST share a prefix
       shingle under a common global order, so the equi-join on
       prefix shingles has full recall — and because prefixes are
       rare-first, stop-word shingles never become join keys: the
       hot-key blowup of a naive inverted index is designed out;
    3. the indexed prefix entries group into per-shingle POSTING
       LISTS (one shuffle on the shingle key), and candidate pairs
       explode map-side from each list — so the prefix subtree is
       computed ONCE, not twice as a self-join would;
    4. candidate pairs (deduped) pull both full shingle arrays and
       verify exact Jaccard — identical int/int arithmetic to the
       naive path and the DuckDB oracle.

    ``max_df`` caps the posting-list length: index entries whose
    shingle document-frequency exceeds it are dropped BEFORE pair
    explosion, bounding the per-key quadratic at (max_df²)/2.  Recall
    contract: exact as long as every qualifying pair shares ≥ 1
    prefix shingle with df ≤ max_df — guaranteed when max_df is set
    at or above the corpus's observed maximum df (the catalog's
    usage; the knob exists so a 100 TB run can bound worst-case skew
    explicitly instead of discovering it in a straggler).

    Requires ``threshold > 0`` (a zero threshold would include
    zero-overlap pairs, which no index can enumerate without a cross
    join — that regime is the naive verifier's, on bounded input).
    """
    if not threshold > 0:
        raise ValueError("ngram_jaccard_pairs_indexed needs threshold > 0")
    sets = df.select(
        F.col(id_col).alias("id"),
        shingles_col(F.col(text_col), n).alias("sh"),
    )
    # global canonical order: document frequency asc, then string asc.
    # No global rank materialization needed — the (df, s) tuple IS a
    # total order, so the only window below is per-doc (partitioned by
    # id, bounded by doc length), never a global sort.
    from pyspark.sql import Window

    vocab = (
        sets.select(F.explode("sh").alias("s"))
        .groupBy("s").agg(F.count("*").alias("df"))
    )
    exploded = sets.select("id", F.size("sh").alias("sz"),
                           F.explode("sh").alias("s"))
    # no broadcast hint: the shingle vocabulary is corpus-sized at
    # 100 TB (fact, not dim) — AQE broadcasts it when it is small
    ranked = exploded.join(vocab, "s")
    # prefix length p = sz - ceil(t*sz) + 1; keep the p rarest shingles
    pfx = (
        ranked.withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("id")
                .orderBy(F.asc("df"), F.asc("s"))),
        )
        .filter(F.col("pos")
                <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
    )
    if max_df is not None:
        pfx = pfx.filter(F.col("df") <= F.lit(max_df))
    # posting-list pair explosion instead of a pfx⋈pfx self-join: the
    # self-join would evaluate the whole vocab-rank/window subtree
    # TWICE (Spark has no cross-join common-subplan reuse) and add a
    # join shuffle; grouping to (shingle → id list) is one shuffle and
    # the per-list pair expansion is map-side (streamed two-level
    # explosion — see posting_pairs — so a hot shingle under
    # max_df=None costs time, never a single quadratic row).
    plist = (
        pfx.select("id", "s")
        .groupBy("s").agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    cand = verify_spread(
        posting_pairs(plist).dropDuplicates(["id_a", "id_b"]),
        "id_a", "id_b")
    verified = (
        cand.join(sets.select(F.col("id").alias("id_a"),
                              F.col("sh").alias("sh_a")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"),
                          F.col("sh").alias("sh_b")), "id_b")
    )
    return (
        verified.withColumn("jaccard", jaccard_col("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    bits: int = 32,
) -> DataFrame:
    """32-bit SimHash from word-unigram hashes (relational formulation:
    explode words → per-bit ±1 votes → sign → weighted sum; two
    shuffles on id, fully portable to the SQL oracle).  Tie (vote sum
    0) counts as bit set."""
    whash = F.aggregate(
        F.split(F.col("word"), ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % HASH_MOD,
    )
    exploded = (
        df.select(F.col(id_col).alias("id"),
                  F.explode(words_col(F.col(text_col))).alias("word"))
        .withColumn("h", whash)
    )
    bits_df = exploded.select(
        "id",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
        "h",
    ).withColumn(
        "vote",
        # shiftright via expr: the python helper only takes literal bits
        F.when(F.expr("shiftright(h, bit) & 1") == 1,
               F.lit(1)).otherwise(F.lit(-1)),
    )
    return (
        bits_df.groupBy("id", "bit")
        .agg(F.sum("vote").alias("v"))
        .groupBy("id")
        .agg(
            F.sum(
                F.when(F.col("v") >= 0,
                       F.pow(F.lit(2.0), F.col("bit")).cast("long"))
                .otherwise(F.lit(0))
            ).alias("simhash")
        )
    )


def hamming_col(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_distance: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.  Pairwise over the
    given frame — at scale, block first (e.g. join on 16-bit halves:
    any pair within distance d shares at least one half for d < 16)."""
    s = simhash(df, text_col, id_col)
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming_col(F.col("a.simhash"), F.col("b.simhash"))
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
    )


def simhash_pairs_blocked(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_distance: int = 3,
    bits: int = 32,
    n_blocks: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs with BLOCKED candidate generation — the
    scale path that replaces :func:`simhash_pairs`' O(N²) self-join.

    Pigeonhole: split the ``bits``-bit fingerprint into ``n_blocks``
    contiguous blocks (default ``max_distance + 1``); any pair within
    Hamming distance d ≤ n_blocks − 1 differs in at most d blocks, so
    at least one block matches EXACTLY.  Candidates are therefore an
    equi-join on (block index, block value) — a hash shuffle, never a
    nested-loop join — with exact Hamming verification after.  Output
    is identical to ``simhash_pairs`` at the same ``max_distance``
    (full recall by construction; the Manku/WWW'07 simhash dedup
    scheme).

    Block width is bits/n_blocks; larger distances need more blocks →
    narrower blocks → bigger buckets.  At 100 TB pair volume is
    governed by the widest block bucket: prefer a wider fingerprint
    (``bits=64``) or a smaller ``max_distance`` rather than >8 blocks
    of a 32-bit hash.
    """
    s = simhash(df, text_col, id_col, bits=bits)
    return hamming_pairs_blocked(
        s, hash_col="simhash", id_col="id",
        bits=bits, max_distance=max_distance, n_blocks=n_blocks)


def hamming_pairs_blocked(
    hashes: DataFrame,
    *,
    hash_col: str,
    id_col: str = "id",
    bits: int = 64,
    max_distance: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """Generic pigeonhole-blocked Hamming pair join over a
    precomputed (id, fingerprint) frame — the candidate-generation
    core factored out of :func:`simhash_pairs_blocked` (r12) so the
    perceptual image dHash (pipeline/multimodal.py dhash_images) and
    any future bit-fingerprint share ONE audited plan shape: explode
    each fingerprint into ``n_blocks`` contiguous (block, value)
    keys, equi-join on them (hash shuffle, never a nested loop),
    verify exact Hamming ≤ ``max_distance`` after, dedupe pairs that
    matched several blocks.  Full recall for d ≤ n_blocks − 1 by the
    pigeonhole argument (Manku WWW'07).

    Output: (id_a, id_b, hamming) with id_a < id_b."""
    n_blocks = n_blocks or (max_distance + 1)
    if n_blocks < max_distance + 1:
        raise ValueError(
            f"n_blocks={n_blocks} cannot guarantee recall for "
            f"max_distance={max_distance}: need ≥ {max_distance + 1}"
        )
    if n_blocks > bits:
        raise ValueError(f"n_blocks={n_blocks} > bits={bits}")
    s = hashes.select(F.col(id_col).alias("id"),
                      F.col(hash_col).alias("__h"))
    # uneven split: first (bits % n_blocks) blocks get the extra bit
    w0, rem = divmod(bits, n_blocks)
    bounds = []
    off = 0
    for b in range(n_blocks):
        width = w0 + (1 if b < rem else 0)
        bounds.append((off, width))
        off += width
    blocked = s.select(
        "id", "__h",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("blk"),
                F.expr(
                    f"(__h >> {off}) & {(1 << width) - 1}"
                ).alias("val"),
            )
            for b, (off, width) in enumerate(bounds)
        ])).alias("bv"),
    ).select("id", "__h", "bv.blk", "bv.val")
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming_col(F.col("a.__h"), F.col("b.__h"))
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
        .dropDuplicates(["id_a", "id_b"])
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star contraction: every node connects its STRICTLY
    LARGER neighbors to the minimum of its closed neighborhood.
    Output edges are canonical ``u > v``."""
    nbrs = edges.union(
        edges.select(F.col("u").alias("v"), F.col("v").alias("u"))
        .select("u", "v"))
    mins = nbrs.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star contraction: every node connects its ≤-neighbors
    (and itself) to the minimum among them.  Input/output edges are
    canonical ``u > v``."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    return (
        edges.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _probe(edges: DataFrame) -> tuple:
    """One action over an edge frame: (edge count, two independent
    xxhash64 checksums of the edge set) — the contraction loop's
    convergence signature, and the count that picks the path."""
    row = edges.agg(
        F.count("*"),
        # decimal accumulation: a long sum of xxhash64 values
        # overflows under ANSI mode
        F.sum(F.xxhash64("u", "v").cast("decimal(20,0)")),
        F.sum(F.xxhash64(F.lit("s2"), "u", "v").cast("decimal(20,0)")),
    ).first()
    return tuple(row)


# Edge count at or below which dedup_clusters skips the contraction
# rounds and labels the whole graph in ONE union-find task.  Each
# contraction round costs a fixed floor of Spark jobs (two star
# phases, a checkpoint, a probe), so on a small graph the loop is all
# scheduling and no compute.  Measured on seeded random graphs
# (as many nodes as edges: one giant component plus many small ones),
# local[4] on a 4-core VM, one session, wall seconds to label every
# node, best of 3 seeds (2 at 10^6):
#
#         edges   one task   loop   loop rounds
#         1 000     0.46     2.62      5-6
#         3 000     0.40     2.87       6
#        10 000     0.41     2.49       6
#        30 000     0.55     3.16       6
#       100 000     0.75     5.70       6
#       300 000     1.94    10.30      6-7
#     1 000 000     4.30    26.58       7
#
# The one task wins at every measured size: no crossover falls in the
# range, so the constant sits at its top, the largest size measured
# to win.  Above it the table has no evidence, and the loop keeps the
# work spread over the cluster's cores and the memory of any one task
# bounded (the union-find map grows ~60 MB per 10^6 nodes).
_UNION_FIND_MAX_EDGES = 1_000_000


def _union_find_labels(edges: DataFrame, id_col: str) -> DataFrame:
    """(id_col, cluster_id) for every node of the canonical ``u > v``
    edge frame, computed in ONE task: union-find with path halving,
    each union hanging the larger root under the smaller, so every
    root is its component's minimum id."""
    id_type = edges.schema["u"].dataType
    schema = StructType([StructField(id_col, id_type, False),
                         StructField("cluster_id", id_type, False)])

    def label(batches):
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for pdf in batches:
            for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
                ru, rv = find(u), find(v)
                if ru != rv:
                    parent[max(ru, rv)] = min(ru, rv)
        nodes = list(parent)
        yield pd.DataFrame({id_col: nodes,
                            "cluster_id": [find(x) for x in nodes]})

    return edges.coalesce(1).mapInPandas(label, schema=schema)


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair graph → one canonical
    doc per cluster — the decision step after pair generation: keep
    ``is_canonical``, drop the rest.

    Input ``pairs`` needs (id_a, id_b) columns (minhash_lsh_pairs /
    simhash_pairs_blocked / ngram_jaccard_pairs_indexed output all
    qualify).  Output: (id_col, cluster_id, is_canonical) where
    cluster_id is the component's MINIMUM id — a deterministic result
    independent of iteration or partition order.  When ``docs`` is
    given, docs absent from every pair come back as singleton
    clusters of themselves.

    The pairs become a canonical ``u > v`` edge frame, checkpointed
    once; the entry probe that materializes it also counts the edges
    and picks one of two paths with the same output:

    * **small graph** (at most ``_UNION_FIND_MAX_EDGES`` edges, a
      measured bound — see the constant): the whole fixpoint runs
      as ONE ``mapInPandas`` task over the coalesced edge frame —
      union-find with path halving, each union keeping the smaller
      root.  A handful of jobs instead of a job floor per round.
    * **large graph**: alternating LARGE-STAR / SMALL-STAR
      contractions (the Kiveris et al. "Connected Components in
      MapReduce and Beyond" two-phase algorithm, public).  Each phase
      is one groupBy-min plus one equi-join on node id; the pair
      converges in O(log n) rounds — vs the O(diameter)-ish rounds of
      min-label propagation — and the fixpoint is exactly the star
      graph centered at each component's minimum id.  Each round
      localCheckpoints the edge frame to truncate lineage (on a real
      cluster, set a checkpoint dir and use checkpoint() for fault
      tolerance), and the convergence probe rides the SAME single
      action: count plus two independent xxhash64 checksums of the
      edge set (collision odds ~2^-128 — no extra exceptAll shuffle
      per round at scale).  Both round-batching variants were
      measured worse — see the loop comment.  Raises if not
      converged within ``max_iter`` — a silent partial clustering
      would corrupt a dedup pass downstream.

    ``stats``: optional dict; on return, ``stats["rounds"]`` holds
    the number of large+small rounds executed (0 on the union-find
    path) and ``stats["checkpoint_frames"]`` the edge checkpoints the
    RETURNED frame still scans lazily (the entry checkpoint, plus the
    converged round's on the loop path) — a caller that materializes
    the labels (e.g. component_stats' eager census) may pass each to
    :func:`loudml_spark.checkpoint.release_checkpoint` afterwards to
    leave nothing pinned.  Intermediate contraction rounds are
    released internally as soon as the next round materializes.
    """
    edges = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("u"),
            F.least("id_a", "id_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # materialize ONCE: edges feed every contraction round, and
        # without this the whole upstream pair-generation pipeline
        # (LSH banding, signature UDFs…) re-executes per iteration —
        # measured 5× the query cost at sf0.1.  Lazy: the entry
        # probe right below is the materializing action (one job
        # instead of an eager-checkpoint job + the probe job).
        .localCheckpoint(eager=False)
    )

    sig = _probe(edges)
    if sig[0] <= _UNION_FIND_MAX_EDGES:
        if stats is not None:
            stats["rounds"] = 0
            stats["checkpoint_frames"] = (edges,)
        out = _union_find_labels(edges, id_col)
    else:
        out = _star_contraction_labels(edges, sig, id_col, max_iter, stats)
    if docs is not None:
        out = (
            docs.select(id_col)
            .join(out, id_col, "left")
            .select(
                id_col,
                F.coalesce(F.col("cluster_id"), F.col(id_col))
                .alias("cluster_id"),
            )
        )
    return out.withColumn(
        "is_canonical", F.col("cluster_id") == F.col(id_col)
    )


def _star_contraction_labels(
    edges: DataFrame,
    sig: tuple,
    id_col: str,
    max_iter: int,
    stats: dict | None,
) -> DataFrame:
    """dedup_clusters' large-graph path: (id_col, cluster_id) for every
    node of the checkpointed edge frame ``edges``, whose entry probe
    signature is ``sig``."""
    # every node mentioned in a pair must come back labeled, even if
    # contraction erases its edges (the component min itself)
    nodes = (
        edges.select("u").union(edges.select(F.col("v").alias("u")))
        .distinct()
        .select(F.col("u").alias(id_col))
        # no checkpoint: lineage is one pass over the already-
        # checkpointed edge frame
    )
    converged = False
    rounds = 0
    # the FIRST checkpoint stays pinned (`nodes` scans it lazily at
    # action time) and so does the FINAL one (`labels` scans it);
    # every intermediate round's copy is dead the moment the next
    # round's checkpoint materializes — release it so block-manager
    # storage is O(1) in rounds, not O(log n) pinned edge copies
    from loudml_spark.checkpoint import release_checkpoint

    first_edges = edges
    prev = None
    # Per-round probing AND per-round checkpointing, deliberately —
    # BOTH batching variants are measured losses, recorded here so
    # they are not retried:
    # * r12-C16 probe-stride (checkpoint per round, probe every 2nd):
    #   convergence can then only be detected after a full no-op
    #   PAIR, adding 1-2 extra contraction rounds whose compute
    #   exceeds the saved probe (graph slice: components 3.92 → 4.53,
    #   incremental 7.14 → 7.65).
    # * r13 stacked rounds (TWO rounds per checkpoint, one 4-layer
    #   plan, probe at the pair): CATASTROPHIC — each star phase
    #   references its input 2-3× (nbrs union + the mins self-join),
    #   so without a materialization barrier per round the input
    #   subtree multiplies ~4-9× across a stacked pair and AQE
    #   materializes every copy (graph slice at sf0.1:
    #   graph_components 2.87 → 6.16 s, incremental_components
    #   4.49 → 11.11 s).  The per-round checkpoint is not overhead;
    #   it is what keeps the star contraction's self-referencing
    #   plan linear.
    for _ in range(max_iter):
        # lazy: the per-round probe is the materializing action —
        # one job per contraction round instead of two; the
        # superseded round is released after the probe as before
        edges = _small_star(_large_star(edges)) \
            .localCheckpoint(eager=False)
        rounds += 1
        new_sig = _probe(edges)
        if prev is not None and prev is not first_edges:
            release_checkpoint(prev)
        prev = edges
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if stats is not None:
        stats["rounds"] = rounds
        stats["checkpoint_frames"] = (first_edges, edges)
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds"
        )
    # fixpoint edges are stars: (node, component_min) for every
    # non-min node; min-groupBy is belt-and-braces determinism
    labels = edges.groupBy("u").agg(F.min("v").alias("cluster_id"))
    return (
        nodes.join(labels.select(F.col("u").alias(id_col), "cluster_id"),
                   id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("cluster_id"), F.col(id_col))
            .alias("cluster_id"),
        )
    )


def _cosine_udf():
    """Row-batched cosine via numpy einsum (Arrow in, BLAS-grade
    compute).  Summation order differs from a sequential fold by
    ~1 ulp — callers round to 6 dp before thresholds/ranking, which
    absorbs it (and the DuckDB oracle rounds identically)."""
    import numpy as np

    def fn(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack(a.to_numpy()).astype(np.float64)
        B = np.stack(b.to_numpy()).astype(np.float64)
        dot = np.einsum("ij,ij->i", A, B)
        na = np.sqrt(np.einsum("ij,ij->i", A, A))
        nb = np.sqrt(np.einsum("ij,ij->i", B, B))
        return pd.Series(dot / (na * nb))

    return F.pandas_udf(fn, "double")


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns (vectorized)."""
    return _cosine_udf()(a, b)


def embedding_cosine_pairs_blocked(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    threshold: float = 0.9,
    block_size: int = 4096,
    round_to: int = 6,
) -> DataFrame:
    """EXACT all-pairs cosine ≥ threshold without a nested-loop join —
    the scale path replacing :func:`embedding_cosine_pairs`.

    Moderate thresholds (the catalog's 0.3 ⇒ pairs at 66-73°) are
    beyond any sign-LSH recall guarantee, so the exact scale design is
    the blocked-matrix one used by all-pairs similarity systems:

    1. block id = ``vec_id div block_size`` (dense, deterministic);
    2. the (small) distinct-block frame self-joins into block PAIRS
       (bi ≤ bj) — B² keys, driver-tiny for any real block_size;
    3. each vector replicates to the block-pairs it participates in
       (2B−1 each ⇒ N·B rows — the unavoidable O(N²/block_size) data
       movement of exact all-pairs), grouped by the pair key: a plain
       hash SHUFFLE, 0 nested-loop joins;
    4. per block-pair, one Arrow-batched numpy GEMM scores all
       block_size² combinations at BLAS speed and emits only rows
       over the threshold.

    Identical output to the naive self-join (same float64 dots,
    rounded to ``round_to`` before the threshold).  For high
    thresholds where recall<1 is acceptable, LSH/IVF candidate
    buckets (similarity.py) are the cheaper route.
    """
    import numpy as np

    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        F.expr(f"cast(`{id_col}` as long) div {int(block_size)}L")
        .alias("blk"),
    )
    # block-pair keys from pure arithmetic over range(B²) — one tiny
    # metadata action for B, no cartesian anywhere in the plan
    spark = df.sparkSession
    max_blk = base.agg(F.max("blk")).first()[0]
    if max_blk is None:
        return spark.createDataFrame(
            [], "id_a long, id_b long, cosine double")
    n_blk = int(max_blk) + 1
    bp = (
        spark.range(n_blk * n_blk)
        .select(
            F.expr(f"id div {n_blk}L").alias("bi"),
            F.expr(f"id % {n_blk}L").alias("bj"),
        )
        .filter(F.col("bi") <= F.col("bj"))
    )
    lhs = (
        base.alias("l")
        .join(F.broadcast(bp.alias("p")), F.col("l.blk") == F.col("p.bi"))
        .select(F.col("p.bi").alias("bi"), F.col("p.bj").alias("bj"),
                F.col("l.id").alias("id"), F.col("l.v").alias("v"))
    )
    rhs = (
        base.alias("r")
        .join(F.broadcast(bp.alias("q")), F.col("r.blk") == F.col("q.bj"))
        .select(F.col("q.bi").alias("bi"), F.col("q.bj").alias("bj"),
                F.col("r.id").alias("id"), F.col("r.v").alias("v"))
    )

    def gemm(_key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        A = np.stack(left["v"].to_numpy()).astype(np.float64)
        B = np.stack(right["v"].to_numpy()).astype(np.float64)
        an = np.sqrt(np.einsum("ij,ij->i", A, A))
        bn = np.sqrt(np.einsum("ij,ij->i", B, B))
        cos = (A @ B.T) / np.outer(an, bn)
        ia = left["id"].to_numpy()
        ib = right["id"].to_numpy()
        ii, jj = np.nonzero(
            (np.round(cos, round_to) >= threshold)
            & (ia[:, None] < ib[None, :])
        )
        return pd.DataFrame({
            "id_a": ia[ii], "id_b": ib[jj],
            "cosine": np.round(cos[ii, jj], round_to),
        })

    return (
        lhs.groupBy("bi", "bj")
        .cogroup(rhs.groupBy("bi", "bj"))
        .applyInPandas(gemm, "id_a long, id_b long, cosine double")
    )


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    threshold: float = 0.9,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold.  Pairwise
    verify for SMALL frames (LSH/IVF candidates or capped subsets) —
    at scale use :func:`embedding_cosine_pairs_blocked`."""
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    a, b = base.alias("a"), base.alias("b")
    cos = cosine_col(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# --------------------------------------------------------------- bloom


def bloom_build(hashes: Sequence[int], *, m_bits: int = 1 << 16,
                k: int = 3) -> list[int]:
    """Build a Bloom filter over int64 hashes: ``m_bits`` bits packed
    32-per-word (32, not 64, so the Column-side bit test below stays
    inside exact double arithmetic — every word value < 2^32 < 2^53).
    Probes use double hashing, pos_i = (h%m + i·(1 + h%(m−1))) % m —
    plain int64 arithmetic, portable to any engine or numpy mirror.
    """
    if m_bits % 32:
        raise ValueError("m_bits must be a multiple of 32")
    if k < 1:
        raise ValueError("k must be >= 1")
    words = [0] * (m_bits // 32)
    for h in hashes:
        h1 = h % m_bits
        h2 = 1 + h % (m_bits - 1)
        for i in range(k):
            pos = (h1 + i * h2) % m_bits
            words[pos // 32] |= 1 << (pos % 32)
    return words


def bloom_probe_col(h: Column, words: list[int], *, m_bits: int,
                    k: int) -> Column:
    """Boolean Column: all ``k`` probe bits of ``h`` set in the packed
    Bloom words (built by :func:`bloom_build`).  The word array rides
    the plan as ONE literal (m_bits/32 longs — 8 KB at m=2^16; even a
    10^10-bit production filter is ~1 GB, broadcast territory, vs an
    exact hash-set that would be unbounded).  Bit extraction is
    floor-div arithmetic on <2^32 word values — exact in doubles, no
    shift builtins needed inside higher-order-function lambdas."""
    # ONE string literal split+cast, constant-folded by Catalyst into
    # a single array literal.  `F.lit(words)` on a 2048-long python
    # list builds a CreateArray expression with 2048 Literal children
    # on the PYTHON side — measured 1.6–5.7 s of driver-side Column
    # construction per query build, which made the Bloom path slower
    # than the exact operator it prunes for (round-7 perf-weak item).
    # The split form builds in ~30 ms and folds to the identical
    # literal before codegen.
    bits_lit = F.split(
        F.lit(",".join(map(str, words))), ","
    ).cast("array<long>")
    # 32-entry power-of-two lookup: a transcendental pow() per bit
    # test tripled the probe cost at sf0.1 — element_at is O(1)
    pow2_lit = F.split(
        F.lit(",".join(str(1 << b) for b in range(32))), ","
    ).cast("array<long>")
    h1 = h % F.lit(m_bits)
    h2 = F.lit(1) + (h % F.lit(m_bits - 1))
    cond = F.lit(True)
    for i in range(k):
        pos = (h1 + F.lit(i) * h2) % F.lit(m_bits)
        word = F.element_at(bits_lit, (pos / F.lit(32)).cast("int") + 1)
        p2 = F.element_at(pow2_lit, (pos % F.lit(32)).cast("int") + 1)
        cond = cond & (F.floor(word / p2) % 2 == 1)
    return cond


def build_bloom_words(
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    n: int = 3,
    tokenizer: str = "whitespace",
    m_bits: int = 1 << 16,
    k: int = 3,
) -> list[int]:
    """Collect the benchmark side's distinct n-gram hashes and pack
    them into Bloom words — the once-per-eval-set build step of
    :func:`benchmark_overlap_bloom`."""
    sh = _shingle_hashes_udf(n, tokenizer)
    bench_hashes = [
        r[0]
        for r in benchmark.select(
            F.explode(sh(F.col(text_col))).alias("__h")
        ).distinct().collect()
    ]
    return bloom_build(bench_hashes, m_bits=m_bits, k=k)


def benchmark_overlap_bloom(
    df: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    n: int = 3,
    min_overlap: int = 8,
    tokenizer: str = "whitespace",
    m_bits: int = 1 << 16,
    k: int = 3,
    words: list[int] | None = None,
) -> DataFrame:
    """:func:`benchmark_overlap` with a Bloom prefilter — the shape
    that survives when the eval-set n-gram table outgrows an exact
    broadcast set: corpus documents whose shingle arrays hold fewer
    than ``min_overlap`` grams PASSING the Bloom test (a necessary
    condition — Bloom has no false negatives) never enter the
    verification join at all, so the join input shrinks from |corpus|
    to |candidates| before any shuffle.  Survivors are verified by
    the EXACT equi-join, so false positives only cost work, never
    correctness: the final output is identical to the exact
    operator's, row for row (the catalog pairs this with the same
    oracle — the value-hash match is the proof the prefilter loses
    nothing).

    The filter itself is built on the driver from the (by definition
    small) benchmark side and rides the plan as a literal word array
    — m_bits/32 longs, 8 KB at the default m=2^16 / k=3.

    WHEN TO USE (measured, r9 — SCALE.md §bloom): the win regime is
    MEMORY, not wall-time.  At every eval-set size whose exact gram
    set fits the broadcast budget (≲10⁷ grams), prefer
    :func:`benchmark_overlap` — the k modular probes cost more per
    gram than one broadcast-hash-join lookup (measured: exact 11.0 s
    vs bloom 16.4 s at a 2,000-doc bench / 48k-doc corpus / zero hit
    rate; parity ±0.2 s at the 20-doc bench across 480→50k corpus
    docs).  Reach for this operator only when the eval suite's exact
    gram set cannot ship (10⁸–10¹⁰ grams: a multi-GB broadcast hash
    set vs a 12 MB–1 GB filter literal), where the exact path is an
    executor OOM rather than a slower plan.
    """
    sh = _shingle_hashes_udf(n, tokenizer)
    if words is None:
        # the filter is a static artifact of the eval set — callers
        # that scrub many corpus batches build it once (build_bloom_
        # words) and pass it in; building per call costs one bench-
        # side job each time
        words = build_bloom_words(
            benchmark, text_col=text_col, n=n, tokenizer=tokenizer,
            m_bits=m_bits, k=k)
    # ONE Arrow shingle pass feeds the probe; the probe runs exactly
    # once per gram (its own select stage, referenced by column in the
    # next), and — the load-bearing trick — only the grams that PASS
    # the Bloom test are exploded into the verification join.  Bloom
    # has no false negatives, so a failing gram is in NO benchmark
    # document and contributes zero to every (doc, bench) overlap
    # count: the exact count over passing grams equals the exact count
    # over all grams.  The join input therefore shrinks from |grams|
    # to |true overlaps| + |false positives| (≈ FP-rate · |grams|),
    # not merely from |grams| to |grams of candidate docs|.
    passing = df.withColumn("__sh", sh(F.col(text_col))).select(
        F.col(id_col),
        F.filter(
            F.col("__sh"),
            lambda h: bloom_probe_col(h, words, m_bits=m_bits, k=k),
        ).alias("__pass"),
    )
    # prune-by-emptying instead of filter-then-explode: one projection
    # keeps a single evaluation of the passing array
    doc_sh = passing.select(
        F.col(id_col),
        F.explode(
            F.when(F.size("__pass") >= F.lit(min_overlap),
                   F.col("__pass"))
            .otherwise(F.array().cast("array<long>"))
        ).alias("__h"),
    )
    bench_sh = benchmark.select(
        F.col(bench_id_col).alias("__bid"),
        F.explode(sh(F.col(text_col))).alias("__h"),
    )
    best = _benchmark_best(doc_sh, bench_sh, id_col, min_overlap)
    return _attach_contamination(df.select(id_col), best, id_col)


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    tokenizer: str = "whitespace",
) -> DataFrame:
    """ASYMMETRIC near-dup detection: n-gram containment
    |A∩B| / |A| — the measure that catches a short document contained
    inside a long one (quotes, excerpts, page-of-a-book), which
    symmetric Jaccard dilutes toward zero as the size ratio grows.

    Candidate generation is the shared-gram EQUI-join (shuffle key =
    gram hash), with an optional document-frequency stop-gram cut
    (``max_df``) bounding the per-gram fan-out — the same df-bound
    that keeps LSH band buckets from exploding on boilerplate; at
    100 TB the cut is what bounds the self-join.  Never an all-pairs
    scan.

    Output: one row per unordered candidate pair (id_a < id_b) with
    ``n_common`` distinct shared grams and BOTH directed containments
    (``containment_a`` = share of A's grams found in B, and vice
    versa), kept when either direction ≥ ``threshold``.  Counts are
    exact integers; the containments are single IEEE divisions —
    engine-portable with no rounding.
    """
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    sh = _shingle_hashes_udf(n, tokenizer)
    grams = df.select(
        F.col(id_col).alias("id"), sh(F.col(text_col)).alias("__sh"))
    ex = grams.select("id", F.explode("__sh").alias("h"))
    # persist the exploded gram frame: it feeds the df cut, the size
    # aggregate, and BOTH sides of the candidate self-join — without
    # the persist every branch re-runs the shingle UDF over the full
    # corpus (measured: 32 ArrowEvalPython stages → 2 at sf0.01)
    ex = session_cache.persist(ex)
    if max_df is not None:
        keep = ex.groupBy("h").agg(
            F.count("*").alias("__df")).filter(F.col("__df") <= max_df)
        ex = ex.join(keep.select("h"), "h")
        ex = session_cache.persist(ex)
    # sizes from the POST-cut gram space so numerator and denominator
    # measure the same universe (otherwise the stop-gram cut silently
    # deflates containment of boilerplate-heavy docs)
    sizes = ex.groupBy("id").agg(F.count("*").alias("sz"))
    a = ex.select(F.col("id").alias("id_a"), "h")
    b = ex.select(F.col("id").alias("id_b"), "h")
    common = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("__sa"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("__sb"))
    out = (
        common.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b", "n_common",
            (F.col("n_common") / F.col("__sa")).alias("containment_a"),
            (F.col("n_common") / F.col("__sb")).alias("containment_b"),
        )
    )
    return out.filter(
        (F.col("containment_a") >= threshold)
        | (F.col("containment_b") >= threshold))


# --- content-defined chunking (CDC) ---------------------------------
# The storage-dedup trick applied to corpus curation: cut each text
# where a ROLLING WINDOW hash of the stream hits a boundary value, so
# an insertion/deletion only moves the boundaries NEAR the edit and
# every other chunk re-aligns — chunk-level exact dedup then catches
# shared content that whole-document hashing (shifted by one char)
# misses and winnowing only fingerprints.

CDC_WINDOW = 16
CDC_DIVISOR = 64
CDC_MIN_LEN = 32
CDC_MAX_LEN = 256


def cdc_boundaries(
    text: str,
    *,
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
    min_len: int = CDC_MIN_LEN,
    max_len: int = CDC_MAX_LEN,
) -> list[tuple[int, int, int]]:
    """Pure-integer CDC over one text, SHARED by the distributed
    operator and its replay oracle: returns (start, length,
    chunk_hash) triples.  Position i (1-based end of a window) is a
    cut when the window's polynomial rolling hash ≡ 0 (mod
    ``divisor``) and the current chunk has ≥ ``min_len`` chars; a
    chunk is force-cut at ``max_len``.  The window hash derives from
    prefix hashes mod 1e9+7 (exact Python ints, engine-independent);
    ``chunk_hash`` is the same polynomial hash of the chunk text, so
    identical chunk CONTENT gets identical ids anywhere it appears."""
    p = HASH_MOD
    n = len(text)
    codes = [ord(c) for c in text]
    prefix = [0] * (n + 1)
    for i, c in enumerate(codes):
        prefix[i + 1] = (prefix[i] * 31 + c) % p
    pw = pow(31, window, p)
    out = []
    start = 0
    for i in range(1, n + 1):
        cut = False
        if i - start >= max_len:
            cut = True
        elif i - start >= min_len and i >= window:
            wh = (prefix[i] - prefix[i - window] * pw) % p
            cut = wh % divisor == 0
        if cut:
            out.append((start, i - start,
                        (prefix[i] - prefix[start]
                         * pow(31, i - start, p)) % p))
            start = i
    if start < n:
        out.append((start, n - start,
                    (prefix[n] - prefix[start]
                     * pow(31, n - start, p)) % p))
    return out


def cdc_chunks(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
    min_len: int = CDC_MIN_LEN,
    max_len: int = CDC_MAX_LEN,
) -> DataFrame:
    """Content-defined chunking of every document: one row per chunk
    (``id_col``, chunk_id, start, length, chunk_hash).  Map-only —
    an Arrow-batched UDF computes boundaries per text (O(len), exact
    integer hashing) and posexplode scalarizes; no shuffle, so a
    100 TB corpus chunks in one pass and the chunk-hash groupBy that
    follows is the only exchange of a CDC-dedup pipeline.  NULL
    texts emit no rows."""
    from loudml_spark import errors

    if not (0 < window <= min_len <= max_len):
        raise errors.Invalid(
            "need 0 < window <= min_len <= max_len, got "
            f"{window}/{min_len}/{max_len}")
    if divisor < 2:
        raise errors.Invalid("divisor must be >= 2")

    @F.pandas_udf("array<struct<start:long,length:long,h:long>>")
    def chunk(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: None if t is None else [
                {"start": s, "length": ln, "h": h}
                for s, ln, h in cdc_boundaries(
                    t, window=window, divisor=divisor,
                    min_len=min_len, max_len=max_len)])

    ex = df.select(
        F.col(id_col),
        F.posexplode(chunk(F.col(text_col))).alias("chunk_id", "c"))
    return ex.select(
        id_col, "chunk_id",
        F.col("c.start").alias("start"),
        F.col("c.length").alias("length"),
        F.col("c.h").alias("chunk_hash"))


def ngram_novelty(
    df: DataFrame,
    *,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram novelty — the memorization-risk /
    duplication-pressure score: the fraction of a document's DISTINCT
    word n-grams that occur in no other document.  A doc scoring near
    0 is assembled from corpus-common spans (template/boilerplate
    pressure); near 1 is fresh text.  The per-doc aggregate
    complements the pairwise operators (jaccard/containment find WHO
    overlaps; this scores HOW derivative each doc is without
    materializing pairs).

    Returns ``(id_col, n_grams, novel, novelty)`` where ``novelty =
    novel / n_grams`` (exact integer division, no rounding) and docs
    shorter than ``n`` words get n_grams = 0 and null novelty.

    Scale shape: explode distinct gram hashes → ONE map-side-combined
    groupBy(gram) counting docs-per-gram (doc frequency) → join back
    on the gram key → ONE groupBy(doc).  No self-join, no pair
    explosion: cost is linear in total distinct grams, the df frame
    reduces to |gram vocabulary| rows, and both shuffles are
    hash-partitioned on high-cardinality keys (no skew: a gram's
    posting count is the reduce VALUE, never exploded).
    """
    grams = df.select(
        F.col(id_col),
        F.explode(shingle_hashes_col(F.col(text_col), n)).alias("g"),
    )
    gram_df = grams.groupBy("g").agg(
        F.count("*").alias("gdf"))  # distinct per doc already
    per_doc = grams.join(gram_df, "g").groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.sum((F.col("gdf") == 1).cast("long")).alias("novel"),
    )
    base = df.select(id_col)
    return (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("novel", F.lit(0)).alias("novel"),
            # docs shorter than n words have no grams: null novelty
            # (ANSI mode makes a bare division throw on 0)
            F.when(
                F.col("n_grams") > 0,
                F.col("novel") / F.col("n_grams")).alias("novelty"),
        )
    )


def cross_source_overlap(
    df: DataFrame,
    *,
    n: int = 8,
    text_col: str = "text",
    source_col: str = "source",
    sample_mod: int | None = None,
) -> DataFrame:
    """Source-level contamination matrix: for every pair of corpus
    sources, the overlap of their distinct word n-gram sets —
    ``jaccard = |A∩B| / |A∪B|`` and the directional containments
    ``|A∩B|/|A|``, ``|A∩B|/|B|``.  This is the corpus-curation view
    of decontamination: WHICH feeds are re-hosting each other (a high
    containment of a small source inside a big one flags a mirror).

    Returns one row per unordered source pair (src_a < src_b) with
    ``(shared, total_a, total_b, jaccard, contain_a, contain_b)``.
    Pairs sharing nothing are absent (a zero row per pair would be a
    cross join of the source dimension — callers outer-join the
    source list if they need explicit zeros).

    Scale shape: distinct (gram, source) via ONE map-side-combined
    aggregation; the per-gram source posting list is bounded by the
    SOURCE COUNT (tens), not corpus size, so the per-gram pair
    explosion is O(|sources|²) worst case per gram — then one
    groupBy(pair).  Per-source totals reduce to |sources| rows and
    broadcast-join onto the pair frame.  Nothing here scales with
    document count except the linear gram scan — which is exactly
    what ``sample_mod`` cuts at extreme scale: keep only grams whose
    scrambled hash ≡ 0 (mod sample_mod), a deterministic
    content-keyed 1/sample_mod sample of the GRAM UNIVERSE.  Because
    the same gram is kept or dropped in EVERY source, shared/total
    counts shrink together and jaccard/containment stay unbiased
    estimators (a uniform hash sample of the union); the measured
    10× wall cut is in SCALE_AUDIT.json (`source_overlap_sampled`).
    """
    gs = df.select(
        F.explode(
            shingle_hashes_col(F.col(text_col), n)).alias("g"),
        F.col(source_col).alias("src"),
    )
    if sample_mod is not None:
        if sample_mod < 2:
            from loudml_spark import errors

            raise errors.Invalid(
                f"sample_mod must be >= 2, got {sample_mod}")
        gs = gs.filter(
            scramble_col(F.col("g")) % sample_mod == 0)
    gs = gs.distinct()
    totals = gs.groupBy("src").agg(F.count("*").alias("total"))
    # per-gram posting list of sources (bounded by |sources|) →
    # emit each unordered pair once per shared gram
    posting = gs.groupBy("g").agg(
        F.sort_array(F.collect_set("src")).alias("srcs"))
    pairs = posting.select(
        F.explode(
            F.filter(
                F.flatten(F.transform(
                    F.col("srcs"),
                    lambda a: F.transform(
                        F.col("srcs"), lambda b: F.struct(
                            a.alias("src_a"), b.alias("src_b"))),
                )),
                lambda p: p["src_a"] < p["src_b"],
            )
        ).alias("p")
    ).select("p.src_a", "p.src_b")
    shared = pairs.groupBy("src_a", "src_b").agg(
        F.count("*").alias("shared"))
    ta = totals.select(F.col("src").alias("src_a"),
                       F.col("total").alias("total_a"))
    tb = totals.select(F.col("src").alias("src_b"),
                       F.col("total").alias("total_b"))
    out = shared.join(ta, "src_a").join(tb, "src_b")
    inter = F.col("shared")
    union = F.col("total_a") + F.col("total_b") - inter
    return out.select(
        "src_a", "src_b", "shared", "total_a", "total_b",
        (inter / union).alias("jaccard"),
        (inter / F.col("total_a")).alias("contain_a"),
        (inter / F.col("total_b")).alias("contain_b"),
    )


def lsh_recall_audit(
    df: DataFrame,
    *,
    n: int = 1,
    bands: int = 2,
    threshold: float = 0.8,
    bucket: float = 0.05,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Measured LSH recall vs EXACT ground truth, per similarity
    bucket — the dedup analogue of the ANN recall gate
    (:func:`similarity.ann_recall`): before MinHash+LSH replaces
    exact pair generation in a pipeline, this answers "what fraction
    of true >= threshold pairs does the banding actually surface,
    and how does that recall climb with similarity?" (the textbook
    S-curve, measured instead of assumed: with b bands of r rows,
    P(candidate | j) = 1 - (1 - j^r)^b).

    Ground truth is gate-safe exact: pairs sharing >= 1 shingle come
    from a shingle-hash equi-join (complete for any threshold > 0 —
    a pair with positive Jaccard shares a shingle), verified with
    :func:`jaccard_col`.  Found = the pair also survives
    :func:`minhash_lsh_pairs` with the same parameters.  Returns one
    row per Jaccard bucket: ``(j_bucket, n_true, n_found, recall)``.

    Scale note: ground truth is inherently candidate-heavy (that is
    WHY LSH exists) — run the audit on a bounded slice, like every
    acceptance gate here.
    """
    # the SAME persisted (id, sh, sig) frame minhash_lsh_pairs builds
    # internally: Spark's cache manager dedups identical logical
    # plans, so the dominant Arrow shingle pass runs ONCE into the
    # cache and all four consumers (grams, both set-attach sides, and
    # the banding inside minhash_lsh_pairs) scan it — the previous
    # pure-Column shingle_hashes_col formulation re-evaluated the
    # interpreted char-fold rolling hash in each of three subtrees
    # (identical integer results; array order differs only in
    # distinct-ordering, which explode/array_intersect consumers
    # cannot observe)
    sets = shingle_signatures(
        df, text_col, id_col, n=n, persist=True).select("id", "sh")
    grams = sets.select("id", F.explode("sh").alias("h"))
    cand = (
        grams.alias("a")
        .join(grams.alias("b"),
              (F.col("a.h") == F.col("b.h"))
              & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"))
        .distinct()
    )
    cand = verify_spread(cand, "id_a", "id_b")
    sa = sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    truth = (
        cand.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b",
            jaccard_col("sh_a", "sh_b").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    found = minhash_lsh_pairs(
        df, text_col, id_col, n=n, bands=bands, threshold=threshold,
    ).select("id_a", "id_b", F.lit(1).alias("__found"))
    j = truth.join(found, ["id_a", "id_b"], "left")
    # integer bucket index (floor(j / bucket)) — a float bucket label
    # would re-introduce the ROUND tie-portability problem
    b_idx = F.floor(F.col("jaccard") / F.lit(float(bucket))).cast("int")
    return (
        j.groupBy(b_idx.alias("j_bucket"))
        .agg(F.count("*").alias("n_true"),
             F.sum(F.coalesce("__found", F.lit(0))).alias("n_found"))
        .select(
            "j_bucket", "n_true",
            F.col("n_found").cast("long").alias("n_found"),
            (F.col("n_found") / F.col("n_true")).alias("recall"),
        )
    )


def lsh_plan(
    n_perm: int,
    threshold: float,
    *,
    fn_weight: float = 0.5,
) -> dict:
    """Choose the (bands, rows) split of an ``n_perm``-permutation
    MinHash signature for a target Jaccard ``threshold`` — the
    standard S-curve planner (Leskovec/Rajaraman/Ullman §3.4, the
    same optimization datasketch runs at index build): candidate
    probability is ``P(s) = 1 − (1 − s^rows)^bands``; pick the
    divisor pair minimizing ``fp_weight·∫₀ᵗP + fn_weight·∫ₜ¹(1−P)``
    (numeric integration on a fixed grid — deterministic).

    Returns ``{bands, rows, threshold_est, fp_area, fn_area}`` where
    ``threshold_est = (1/bands)^(1/rows)`` is the curve's inflection
    — the planner's companion to the measured recall S-curve in
    `lsh_recall_audit` (which validates the curve on real data; this
    picks the knob BEFORE indexing).  Driver-side closed-form math:
    the plan is k divisor evaluations, nothing touches data.
    """
    from loudml_spark import errors

    if n_perm < 2:
        raise errors.Invalid(f"n_perm must be >= 2, got {n_perm}")
    if not 0.0 < threshold < 1.0:
        raise errors.Invalid(
            f"threshold must be in (0, 1), got {threshold}")
    fp_weight = 1.0 - fn_weight
    best = None
    grid = [i / 1000.0 for i in range(1, 1000)]
    for rows in range(1, n_perm + 1):
        if n_perm % rows:
            continue
        bands = n_perm // rows
        fp = fn = 0.0
        for s in grid:
            p = 1.0 - (1.0 - s ** rows) ** bands
            if s < threshold:
                fp += p
            else:
                fn += 1.0 - p
        fp /= len(grid)
        fn /= len(grid)
        err = fp_weight * fp + fn_weight * fn
        if best is None or err < best[0]:
            best = (err, bands, rows, fp, fn)
    _, bands, rows, fp, fn = best
    return {
        "bands": bands, "rows": rows,
        "threshold_est": round((1.0 / bands) ** (1.0 / rows), 6),
        "fp_area": round(fp, 6), "fn_area": round(fn, 6),
    }
