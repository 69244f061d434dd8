"""Pipeline operator tests on handcrafted corpora."""

import pytest
from pyspark.sql import functions as F

from loudml_spark.pipeline.dedup import (
    embedding_cosine_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from loudml_spark.pipeline.similarity import cosine_topk, lsh_cosine_topk
from loudml_spark.pipeline.text import langid, text_stats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the mat"),          # exact dup of 0
        (2, "the cat sat on the red mat"),       # near dup
        (3, "el gato y la alfombra y el sol"),   # spanish-ish
        (4, "completely different words here entirely unrelated tokens"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_text_stats(spark, docs):
    out = {r["doc_id"]: r for r in text_stats(docs).collect()}
    assert out[0]["n_tokens"] == 6
    assert out[0]["fingerprint"] == out[1]["fingerprint"]
    assert out[0]["fingerprint"] != out[2]["fingerprint"]
    # 'the' twice + 'on'? not a stopword; markers: the,a,of,and...
    assert out[0]["stopword_ratio"] == pytest.approx(2 / 6)
    assert 0.0 <= out[4]["quality"] <= 1.0


def test_langid(spark, docs):
    out = {r["doc_id"]: r["lang_guess"] for r in langid(docs).collect()}
    assert out[0] == "en"
    assert out[3] == "es"
    assert out[4] == "und"


def test_exact_dedup(spark, docs):
    groups = exact_dedup(docs, ["text"]).collect()
    by_kept = {r["kept_id"]: r["n_dups"] for r in groups}
    assert by_kept[0] == 2  # docs 0,1 collapse
    assert len(groups) == 4


def test_minhash_identical_docs_have_identical_sigs(spark, docs):
    sigs = {r["doc_id"]: r["sig"] for r in
            minhash_signatures(docs, n=1).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[4]
    assert len(sigs[0]) == 8


def test_minhash_lsh_finds_dups(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_lsh_pairs(docs, n=1, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 4) not in pairs


def test_ngram_jaccard(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, n=1, threshold=0.0).collect()}
    assert pairs[(0, 1)] == 1.0
    # doc2 adds 'red': 5 shared distinct words of 6 union
    assert pairs[(0, 2)] == pytest.approx(5 / 6)
    assert pairs.get((0, 4), 0.0) == 0.0 or (0, 4) not in pairs


def test_simhash_near_for_near_docs(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(docs, max_distance=32).collect()}
    assert pairs[(0, 1)] == 0          # identical docs
    assert pairs[(0, 2)] < pairs[(0, 4)]  # near-dup closer than unrelated
    hashes = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    assert all(0 <= h < 2**32 for h in hashes.values())


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0]),  # opposite of 0
        (4, [1.0, 0.05, 0.0]),  # very close to 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk(spark, vectors):
    out = cosine_topk(vectors.filter("vec_id = 0"), vectors, k=2).collect()
    ranked = sorted(out, key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in ranked] == [4, 1]
    assert ranked[0]["cosine"] > 0.99


def test_embedding_cosine_pairs(spark, vectors):
    pairs = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in embedding_cosine_pairs(vectors, threshold=0.9).collect()}
    assert (0, 4) in pairs and (0, 1) in pairs
    assert (0, 2) not in pairs and (0, 3) not in pairs


def test_lsh_topk_subset_of_exact(spark, vectors):
    # LSH returns a subset of true neighbors with correct scores
    exact = {(r["query_id"], r["neighbor_id"]): r["cosine"]
             for r in cosine_topk(
                 vectors.filter("vec_id = 0"), vectors, k=4).collect()}
    approx = lsh_cosine_topk(
        vectors.filter("vec_id = 0"), vectors, k=4, dim=3, bits=2
    ).collect()
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        assert key in exact
        assert r["cosine"] == exact[key]


def test_ivf_topk_recall(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    # 3 well-separated clusters in 16d
    centers = rng.normal(size=(3, 16)) * 5
    rows = []
    for i in range(300):
        c = i % 3
        v = centers[c] + rng.normal(size=16) * 0.3
        rows.append((i, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = corpus.filter("vec_id < 6")

    from loudml_spark.pipeline.similarity import cosine_topk, ivf_cosine_topk

    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(queries, corpus, k=5).collect()}
    approx = ivf_cosine_topk(
        queries, corpus, k=5, n_centroids=6, n_probe=2
    ).collect()
    hits = sum(1 for r in approx
               if (r["query_id"], r["neighbor_id"]) in exact)
    # clustered data + 2 probes: near-perfect recall expected
    assert hits / len(exact) >= 0.9
    # scores of returned pairs are the exact cosines
    exact_scores = {(r["query_id"], r["neighbor_id"]): r["cosine"]
                    for r in cosine_topk(queries, corpus, k=300).collect()}
    for r in approx:
        assert r["cosine"] == exact_scores[(r["query_id"], r["neighbor_id"])]


def test_short_doc_shingles_no_throw(spark):
    # docs with fewer than n words must yield empty shingle sets, not
    # a descending F.sequence + element_at(w, 0) ANSI error (ADVICE r1)
    short = spark.createDataFrame(
        [(0, "hi"), (1, "one two"), (2, "one two three four")],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(short, n=3, threshold=0.1).collect()
    assert all(r["id_a"] != 0 and r["id_b"] != 0 for r in pairs)
    sigs = {r["doc_id"]: r["sig"] for r in
            minhash_signatures(short, n=3).collect()}
    assert len(sigs) == 3  # no throw; short docs get sentinel sigs
    lsh = minhash_lsh_pairs(short, n=3, threshold=0.1).collect()
    assert isinstance(lsh, list)  # executes without error


def test_simhash_pairs_blocked_equals_naive(spark, docs):
    from loudml_spark.pipeline.dedup import simhash_pairs_blocked

    naive = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(docs, max_distance=12).collect()
    )
    blocked = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs_blocked(docs, max_distance=12).collect()
    )
    assert blocked == naive and len(naive) > 0
    # plan check: candidate generation is an equi-join, not BNLJ
    plan = simhash_pairs_blocked(docs, max_distance=12) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    with pytest.raises(ValueError):
        simhash_pairs_blocked(docs, max_distance=6, n_blocks=4)


def test_embedding_pairs_blocked_equals_naive(spark, vectors):
    from loudml_spark.pipeline.dedup import embedding_cosine_pairs_blocked

    naive = sorted(
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_cosine_pairs(vectors, threshold=0.0).collect()
    )
    blocked = sorted(
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_cosine_pairs_blocked(
            vectors, threshold=0.0, block_size=2).collect()
    )
    assert blocked == naive and len(naive) > 0
    plan = embedding_cosine_pairs_blocked(vectors, threshold=0.0,
                                          block_size=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ngram_jaccard_indexed_equals_naive(spark, docs):
    from loudml_spark.pipeline.dedup import ngram_jaccard_pairs_indexed

    for n, t in ((1, 0.5), (1, 0.8), (2, 0.3)):
        naive = sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in ngram_jaccard_pairs(docs, n=n, threshold=t).collect()
        )
        indexed = sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in ngram_jaccard_pairs_indexed(
                docs, n=n, threshold=t).collect()
        )
        assert indexed == naive
    assert len(indexed) >= 0  # n=2/t=0.3 may legitimately be empty
    # candidate generation must be an equi-join, never a cross join
    plan = ngram_jaccard_pairs_indexed(docs, n=1, threshold=0.5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    with pytest.raises(ValueError):
        ngram_jaccard_pairs_indexed(docs, n=1, threshold=0.0)


def test_minhash_lsh_single_pass_unchanged(spark, docs):
    # struct<sh,sig> single-pass UDF must not change results
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_lsh_pairs(docs, n=1, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 4) not in pairs


def test_long_token_shingles_no_memory_blowup(spark):
    # one pathological unbroken token must not widen the whole batch's
    # hash matrix (hashing groups by exact shingle length)
    from loudml_spark.pipeline.dedup import (
        _batch_shingle_hashes,
        _shingle_hash_set,
    )

    blob = "x" * 5000
    texts = ["the cat sat on the mat", blob + " tail word", "a b"]
    got = _batch_shingle_hashes(__import__("pandas").Series(texts), 1)
    for t, hs in zip(texts, got):
        assert sorted(hs.tolist()) == sorted(_shingle_hash_set(t, 1))


def test_dedup_clusters(spark, monkeypatch):
    from loudml_spark.pipeline import dedup
    from loudml_spark.pipeline.dedup import dedup_clusters

    # components: {1,2,3,7} (chain + extra edge), {5,9}; 4 is a
    # singleton only present in docs
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (5, 9), (1, 7)],
        "id_a long, id_b long",
    )
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 5, 7, 9)], "doc_id long")
    out = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
           for r in dedup_clusters(pairs, docs).collect()}
    assert out == {
        1: (1, True), 2: (1, False), 3: (1, False), 7: (1, False),
        5: (5, True), 9: (5, False), 4: (4, True),
    }
    # without docs: only pair participants
    out2 = {r["doc_id"] for r in dedup_clusters(pairs).collect()}
    assert out2 == {1, 2, 3, 5, 7, 9}
    # long chain: large-star/small-star contractions need O(log n)
    # rounds — a 31-node path must close in far fewer rounds than its
    # diameter (label propagation would need ~30).  A threshold of 0
    # keeps the chain off the one-task union-find path.
    monkeypatch.setattr(dedup, "_UNION_FIND_MAX_EDGES", 0)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long")
    stats = {}
    labs = {r["cluster_id"]
            for r in dedup_clusters(chain, stats=stats).collect()}
    assert labs == {0}
    assert stats["rounds"] <= 8


def test_quality_gate_rules_and_reasons(spark):
    from loudml_spark.pipeline.text import quality_gate

    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today"),
         (1, "hi"),
         (2, "the the the the the a a a a of of of and and"),
         (3, "Pneumonoultramicroscopicsilicovolcanoconiosis " * 6)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["keep"], r["reason"])
           for r in quality_gate(docs).collect()}
    assert out[0] == (True, None)
    assert out[1] == (False, "too_short")
    assert out[2] == (False, "stopword_heavy")
    assert out[3][0] is False and out[3][1] in (
        "unsegmented", "low_quality")


def test_regex_tokenizer_stats_on_punctuated_text(spark):
    from loudml_spark.pipeline.text import text_stats

    df = spark.createDataFrame(
        [(1, "The cat, the DOG!!  and   the bird."),
         (2, "???!!! ...")],  # no alnum runs at all
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text_stats(
        df, tokenizer="regex").collect()}
    # regex mode: 7 lowercased alnum tokens; 'the' counted 3x despite
    # case and trailing punctuation (whitespace mode would see
    # "cat,"/"DOG!!" as opaque tokens and miss every stopword)
    r = out[1]
    assert r["n_tokens"] == 7
    assert r["stopword_ratio"] == pytest.approx(4 / 7)  # the,the,the,and
    assert r["avg_word_len"] == pytest.approx(
        (3 + 3 + 3 + 3 + 3 + 3 + 4) / 7)
    # zero-token doc: null ratios, not a divide-by-zero crash
    r2 = out[2]
    assert r2["n_tokens"] == 0
    assert r2["avg_word_len"] is None and r2["stopword_ratio"] is None
    with pytest.raises(ValueError):
        text_stats(df, tokenizer="bpe")


def test_regex_tokenizer_whitespace_mode_unchanged(spark):
    # the token_chars refactor must keep whitespace-mode values
    # bit-identical to the historical (chars-(tokens-1))/tokens form
    from loudml_spark.pipeline.text import text_stats

    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "a  b")],  # incl. double-space edge
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in text_stats(df).collect()}
    assert out[1]["avg_word_len"] == (11 - 2) / 3
    assert out[2]["avg_word_len"] == (4 - 2) / 3


def test_minhash_regex_tokenizer_punctuation_invariant(spark):
    from loudml_spark.pipeline.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again today"),
         (2, "The quick, brown FOX jumps over the lazy dog again today!"),
         (3, "completely different text about spark query engines here")],
        "doc_id long, text string",
    )
    # whitespace mode: punctuation/case make docs 1,2 look different
    ws = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(
        df, n=1, threshold=0.8).collect()}
    assert (1, 2) not in ws
    # regex mode: identical token streams → jaccard 1.0 pair
    rx = {(r["id_a"], r["id_b"]): r["jaccard"] for r in minhash_lsh_pairs(
        df, n=1, threshold=0.8, tokenizer="regex").collect()}
    assert rx.get((1, 2)) == 1.0


def test_langid_regex_tokenizer(spark):
    from loudml_spark.pipeline.text import langid

    df = spark.createDataFrame(
        [(1, "The DOG, and THE cat."), (2, "le chat et la mer, les vagues")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["lang_guess"] for r in langid(
        df, tokenizer="regex").collect()}
    assert out[1] == "en" and out[2] == "fr"


def test_repetition_stats_gopher_rules(spark):
    from loudml_spark.pipeline.text import repetition_stats

    boiler = "menu\nhome\nmenu\nabout us\nmenu"          # 3x dup line
    degen = "buy now buy now buy now buy now buy now"    # 1 bigram loop
    listy = "- one\n- two\n* three\nplain\nmore..."      # bullets+ellipsis
    clean = "a perfectly ordinary sentence with variety"
    df = spark.createDataFrame(
        [(1, boiler), (2, degen), (3, listy), (4, clean),
         (5, "## # heading # ##")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out[1]["n_lines"] == 5
    assert out[1]["dup_line_frac"] == 3 / 5
    assert out[1]["dup_line_char_frac"] == pytest.approx(
        12 / len(boiler.replace("\n", "")))
    # "buy now" x5 of 9 bigrams dominates
    assert out[2]["top_bigram_frac"] == pytest.approx(5 / 9)
    assert out[3]["bullet_line_frac"] == 3 / 5
    assert out[3]["ellipsis_line_frac"] == 1 / 5
    assert out[4]["dup_line_frac"] == 0.0
    assert out[4]["top_bigram_frac"] == pytest.approx(1 / 5)
    assert out[5]["symbol_word_ratio"] == 6 / 5  # 6 '#' over 5 words


def test_benchmark_overlap_decontamination(spark):
    from loudml_spark.pipeline.dedup import benchmark_overlap

    corpus = spark.createDataFrame([
        (10, "the quick brown fox jumps over the lazy dog today"),
        (11, "a completely unrelated document about spark engines"),
        (12, "the quick brown fox jumps over the lazy cat today"),
    ], "doc_id long, text string")
    bench = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "some eval question about arithmetic and geometry"),
    ], "bench_id long, text string")
    out = {r["doc_id"]: r for r in benchmark_overlap(
        corpus, bench, n=3, min_overlap=5).collect()}
    assert out[10]["contaminated"] and out[10]["matched_bench"] == 1
    assert out[10]["n_overlap"] == 8  # all 8 trigrams shared
    assert not out[11]["contaminated"]
    assert out[11]["matched_bench"] is None and out[11]["n_overlap"] == 0
    # doc 12 shares 6 of 8 trigrams (two differ at the tail)
    assert out[12]["contaminated"] and out[12]["n_overlap"] == 6
    # plan: broadcast equi-join on the hash, never a nested loop
    plan = benchmark_overlap(corpus, bench, n=3, min_overlap=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    with pytest.raises(ValueError):
        benchmark_overlap(corpus, bench, min_overlap=0)


def test_stratified_sample_rates_and_determinism(spark):
    from loudml_spark.pipeline.sampling import stratified_sample
    from loudml_spark import errors

    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_sample(
        df, key=F.col("doc_id") * 2654435761,
        strat_col="lang", rates={"en": 1.0}, default_rate=0.25)
    kept = out.filter("keep").groupBy("lang").count().collect()
    by = {r["lang"]: r["count"] for r in kept}
    assert by["en"] == 1000                      # rate 1.0 keeps all
    assert 150 <= by.get("de", 0) <= 350         # ~25% of 1000
    # determinism: identical second run
    again = stratified_sample(
        df, key=F.col("doc_id") * 2654435761,
        strat_col="lang", rates={"en": 1.0}, default_rate=0.25)
    assert sorted(r["doc_id"] for r in out.filter("keep").collect()) == \
        sorted(r["doc_id"] for r in again.filter("keep").collect())
    with pytest.raises(errors.Invalid):
        stratified_sample(df, key=F.col("doc_id"), strat_col="lang",
                          rates={"en": 1.5})


def test_pack_shards_budget_and_offsets(spark):
    from loudml_spark.pipeline.sampling import pack_shards
    from loudml_spark import errors

    rows = [(i, "en", 300) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n long")
    out = sorted(
        pack_shards(df, token_col="n", budget=1000, by="lang").collect(),
        key=lambda r: r["doc_id"])
    # 300-token docs, 1000 budget: docs 0-3 → shard 0 (before=0..900),
    # docs 4-6 → shard 1, docs 7-9 → shard 2
    assert [r["shard"] for r in out] == [0, 0, 0, 0, 1, 1, 1, 2, 2, 2]
    assert out[0]["shard_offset"] == 0
    assert out[4]["shard_offset"] == 200   # 1200 - 1000
    # per-stratum isolation: another lang restarts its shards at 0
    df2 = df.union(spark.createDataFrame(
        [(100, "de", 999)], "doc_id long, lang string, n long"))
    out2 = {r["doc_id"]: r["shard"] for r in pack_shards(
        df2, token_col="n", budget=1000, by="lang").collect()}
    assert out2[100] == 0
    with pytest.raises(errors.Invalid):
        pack_shards(df, token_col="n", budget=0)


def test_embedding_normalize_and_centroids(spark):
    from loudml_spark.pipeline.embeddings import (
        group_centroids,
        normalize,
        vec_norm,
    )
    from loudml_spark import errors

    df = spark.createDataFrame(
        [(0, [3.0, 4.0]), (1, [1.0, 1.0]), (2, [0.0, 0.0]),
         (3, [5.0, 12.0])],
        "vec_id long, embedding array<float>")
    norms = {r["vec_id"]: r["n"] for r in df.select(
        "vec_id", vec_norm(F.col("embedding")).alias("n")).collect()}
    assert norms[0] == pytest.approx(5.0)
    assert norms[2] == 0.0
    unit = df.select("vec_id", normalize(F.col("embedding")).alias("u"))
    got = {r["vec_id"]: r["u"] for r in unit.collect()}
    assert got[0] == pytest.approx([0.6, 0.8])
    assert got[2] == [0.0, 0.0]  # zero vector survives (eps clamp)
    # centroids: group by parity → groups {0,2} and {1,3}
    cents = {r["grp"]: (r["n_vectors"], r["centroid"])
             for r in group_centroids(
                 df.withColumn("grp", F.col("vec_id") % 2),
                 group_col="grp").collect()}
    assert cents[0] == (2, pytest.approx([1.5, 2.0]))
    assert cents[1] == (2, pytest.approx([3.0, 6.5]))
    with pytest.raises(errors.Invalid):
        group_centroids(df, group_col="nope")


def test_chunk_documents_overlap_and_tail(spark):
    from loudml_spark.pipeline.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = sorted(chunk_documents(df, size=4, stride=3).collect(),
                 key=lambda r: r["chunk_id"])
    # starts 0,3,6,9 → chunks of 4,4,4,1 tokens with 1-token overlap
    assert [r["n_tokens"] for r in out] == [4, 4, 4, 1]
    assert out[0]["chunk_text"] == "w0 w1 w2 w3"
    assert out[1]["chunk_text"] == "w3 w4 w5 w6"
    assert out[3]["chunk_text"] == "w9"
    # coverage: every word appears in at least one chunk
    seen = set(" ".join(r["chunk_text"] for r in out).split(" "))
    assert seen == {f"w{i}" for i in range(10)}
    # non-overlapping default; single-word doc → one chunk
    one = chunk_documents(
        spark.createDataFrame([(2, "solo")], "doc_id long, text string"),
        size=4).collect()
    assert len(one) == 1 and one[0]["chunk_text"] == "solo"
    with pytest.raises(ValueError):
        chunk_documents(df, size=4, stride=5)
    with pytest.raises(ValueError):
        chunk_documents(df, size=0)


def test_redact_pii_semantics(spark):
    from loudml_spark.pipeline.text import redact_pii

    df = spark.createDataFrame([
        (1, "mail a.b+c@sub.example.org or b@x.io, ip 192.168.0.1, "
            "call +4915112345678"),
        (2, "no pii here, just 1.5 and version 2.0.1 text"),
        (3, "edge 999.999.999.999 still matches the simple ipv4 shape"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    r1 = out[1]
    assert (r1["n_email"], r1["n_ipv4"], r1["n_phone"]) == (2, 1, 1)
    assert "[EMAIL]" in r1["redacted"] and "[IP]" in r1["redacted"]
    assert "[PHONE]" in r1["redacted"]
    assert "@" not in r1["redacted"]
    r2 = out[2]
    assert (r2["n_email"], r2["n_ipv4"], r2["n_phone"]) == (0, 0, 0)
    assert r2["redacted"] == r2["text"]  # untouched
    # the documented simplification: shape-based ipv4, no octet range
    assert out[3]["n_ipv4"] == 1


def test_char_entropy_ranges(spark):
    import math

    from loudml_spark.pipeline.text import char_entropy

    df = spark.createDataFrame([
        (1, "aaaaaaaaaa"),                      # zero entropy
        (2, "abcdefghij"),                      # uniform: ln(10)
        (3, "the quick brown fox jumps over"),  # natural text
        (4, ""),                                # empty → 0
    ], "doc_id long, text string")
    out = {r["doc_id"]: r["entropy"] for r in char_entropy(df).collect()}
    assert out[1] == 0.0
    assert out[2] == pytest.approx(math.log(10), abs=1e-9)
    assert 2.0 < out[3] < 4.0
    assert out[4] == 0.0


def test_url_stats_blocklist(spark):
    from loudml_spark.pipeline.text import url_stats

    df = spark.createDataFrame([
        (1, "links: https://A.Example.com/x and http://ok.org plus "
            "https://a.example.com/y"),
        (2, "no links at all"),
        (3, "see http://Spam.bad/page?q=1"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in url_stats(
        df, blocklist=["spam.bad"]).collect()}
    r1 = out[1]
    assert r1["n_urls"] == 3
    assert r1["domains"] == ["a.example.com", "ok.org"]  # lowered+distinct
    assert not r1["blocked"]
    assert out[2]["n_urls"] == 0 and out[2]["domains"] == []
    assert out[3]["blocked"]  # case-insensitive domain match
    # no blocklist → never blocked
    assert all(not r["blocked"] for r in url_stats(df).collect())


def test_pq_topk_recall_and_determinism(spark):
    import numpy as np

    rng = np.random.default_rng(1)
    centers = rng.normal(size=(4, 16)) * 5
    rows = []
    for i in range(240):
        v = centers[i % 4] + rng.normal(size=16) * 0.3
        rows.append((i, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = corpus.filter("vec_id < 6")

    from loudml_spark.pipeline.similarity import (
        cosine_topk,
        pq_adc_topk,
        train_pq_codebooks,
        train_pq_codebooks_from_arrays,
    )

    approx = pq_adc_topk(queries, corpus, k=5, m=4, n_codes=8).collect()
    # every query answered with a full top-k
    per_q = {}
    for r in approx:
        per_q.setdefault(r["query_id"], []).append(r)
    assert all(len(v) == 5 for v in per_q.values())
    # PQ resolves BETWEEN clusters, not within (points of one tight
    # cluster share codes — ADC ties break by id): the ANN property
    # to gate is that neighbors come from the query's own cluster
    same_cluster = sum(
        1 for r in approx if r["neighbor_id"] % 4 == r["query_id"] % 4)
    assert same_cluster / len(approx) >= 0.9
    _ = cosine_topk  # exact ranking asserted in the cosine tests
    # codebooks are deterministic and identical via both trainers —
    # feed from_arrays the same float32-widened values the Spark
    # array<float> column holds (the oracle reads the same parquet,
    # so both sides see float32-rounded inputs)
    cb1 = train_pq_codebooks(corpus, m=4, n_codes=8)
    ids = np.arange(240, dtype=np.int64)
    X = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    cb2 = train_pq_codebooks_from_arrays(ids, X, m=4, n_codes=8)
    assert np.array_equal(cb1, cb2)


def test_cms_never_undercounts_and_is_tight_for_heavy_tokens(spark):
    from loudml_spark.pipeline.corpus import cms_counters, cms_estimate

    rows = [(i, " ".join(["heavy"] * 5 + ["rare" + chr(97 + i % 26) * 2]))
            for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    counters = cms_counters(docs, depth=4, width=64)
    cands = spark.createDataFrame(
        [("heavy", 250), ("rarehh", 2), ("neverseen", 0)],
        "token string, tf long")
    got = {r["token"]: r["cms_estimate"]
           for r in cms_estimate(counters, cands, depth=4,
                                 width=64).collect()}
    assert got["heavy"] >= 250        # never an undercount
    assert got["rarehh"] >= 2
    assert got["neverseen"] >= 0      # unseen tokens answer, not vanish
    # total mass bounds the overcount: est - true <= all collisions
    n_total = 50 * 6
    assert got["heavy"] <= 250 + n_total
    # the sketch is bounded state: depth x width rows max
    assert counters.count() <= 4 * 64


def test_dedup_lines_boilerplate_removal(spark):
    """C4-style line dedup: lines in > max_doc_freq distinct docs
    drop, survivors re-join in original order, blank lines normalize
    away, and a doc left with zero lines yields empty text."""
    from loudml_spark.pipeline.text import dedup_lines

    rows = [
        (1, "FOOTER\nalpha one\n\n  \nbravo"),
        (2, "FOOTER\nalpha two"),
        (3, "FOOTER\ncharlie"),
        (4, "FOOTER"),          # nothing survives
        (5, "  padded  \ndelta"),
        (6, ""),                # empty doc must NOT vanish
        (7, None),              # null text must NOT vanish
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_lines(df, max_doc_freq=2)
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {1, 2, 3, 4, 5, 6, 7}  # every input doc present
    assert got[6]["text"] == "" and got[6]["n_lines_kept"] == 0
    assert got[7]["text"] == "" and got[7]["n_lines_dropped"] == 0
    # FOOTER occurs in 4 docs -> dropped everywhere
    assert got[1]["text"] == "alpha one\nbravo"
    assert got[1]["n_lines_kept"] == 2
    assert got[1]["n_lines_dropped"] == 1
    assert got[4]["text"] == ""
    assert got[4]["n_lines_kept"] == 0 and got[4]["n_lines_dropped"] == 1
    # trim before matching/rebuild
    assert got[5]["text"] == "padded\ndelta"
    # per-doc duplicates of a rare line count ONCE toward df
    df2 = spark.createDataFrame(
        [(1, "x\nx\nx"), (2, "y")], "doc_id long, text string")
    g2 = {r["doc_id"]: r for r in
          dedup_lines(df2, max_doc_freq=1).collect()}
    assert g2[1]["n_lines_kept"] == 3  # df('x') == 1, all copies kept


def test_temperature_mix_flattens_distribution(spark):
    """Kept stratum sizes follow n_s^alpha: the smallest stratum
    keeps everything, larger strata flatten toward it; alpha=1 keeps
    all rows; invalid alpha raises."""
    import pytest as _pytest

    from loudml_spark import errors
    from loudml_spark.pipeline.sampling import (
        temperature_mix,
        temperature_rates,
    )

    rows = [(i, "big" if i < 900 else "small", i * 37 + 11)
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, src string, h long")

    out = temperature_mix(
        df, key=F.col("h"), strat_col="src", alpha=0.5)
    kept = {r["src"]: r["n"] for r in out.filter("keep")
            .groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert kept["small"] == 100            # smallest stratum: rate 1
    # big flattens toward sqrt: target 900*(900/100)^-0.5 = 300 ±hash noise
    assert 240 <= kept["big"] <= 360
    # alpha=1: natural distribution untouched
    all_kept = temperature_mix(
        df, key=F.col("h"), strat_col="src", alpha=1.0)
    assert all_kept.filter("keep").count() == 1000
    # rate math is exact at the formula level
    rates = temperature_rates({"a": 400, "b": 100}, 0.0)
    assert rates == {"a": 0.25, "b": 1.0}
    # NULL strata are excluded from the rate math and kept wholesale
    df_null = spark.createDataFrame(
        [(1, None, 5), (2, "a", 6), (3, "a", 7)],
        "doc_id long, src string, h long")
    outn = temperature_mix(
        df_null, key=F.col("h"), strat_col="src", alpha=0.0)
    assert outn.filter("src IS NULL AND keep").count() == 1
    # entirely-NULL stratum column: no counts at all — every row falls
    # to default_rate = 1.0 (kept) instead of tripping the rate math
    df_all_null = spark.createDataFrame(
        [(1, None, 5), (2, None, 6)], "doc_id long, src string, h long")
    out_all_null = temperature_mix(
        df_all_null, key=F.col("h"), strat_col="src", alpha=0.5)
    assert out_all_null.filter("keep").count() == 2
    with _pytest.raises(errors.Invalid):
        temperature_rates({"a": 10}, 1.5)
    with _pytest.raises(errors.Invalid):
        temperature_rates({}, 0.5)


def test_sample_exact_k_deterministic(spark):
    """Exactly k rows per stratum, stable across runs/repartitions,
    ranked by (hash bucket, order_col); k >= stratum size keeps all."""
    from loudml_spark.pipeline.sampling import sample_exact_k

    rows = [(i, "a" if i < 30 else "b", i * 37 + 11) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, s string, h long")
    out = sample_exact_k(
        df, key=F.col("h"), k=5, order_col="doc_id", by=["s"],
        rank_col="rank")
    got = out.collect()
    per = {}
    for r in got:
        per.setdefault(r["s"], []).append(r["doc_id"])
    assert len(per["a"]) == 5 and len(per["b"]) == 5
    # stable under repartition
    out2 = sample_exact_k(
        df.repartition(7), key=F.col("h"), k=5, order_col="doc_id",
        by=["s"], rank_col="rank")
    assert sorted((r["s"], r["doc_id"]) for r in out2.collect()) == \
        sorted((r["s"], r["doc_id"]) for r in got)
    # k larger than the stratum keeps everything
    assert sample_exact_k(
        df, key=F.col("h"), k=100, order_col="doc_id", by=["s"]
    ).count() == 40


def test_normalize_text_rules(spark):
    """Lowercase, control-char strip, whitespace collapse, trim, and
    the changed audit flag."""
    from loudml_spark.pipeline.text import normalize_text

    df = spark.createDataFrame(
        [(1, "Hello\tWorld  twice "), (2, "already clean")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in normalize_text(df).collect()}
    assert got[1]["text_norm"] == "hello world twice"
    assert got[1]["changed"] is True
    assert got[2]["text_norm"] == "already clean"
    assert got[2]["changed"] is False


def test_incremental_dedup_cross_frame_only(spark, docs):
    """Incremental ingestion: exact dup_of points at the lowest
    corpus id; LSH pairs are strictly cross-frame (never
    corpus×corpus or delta×delta) and match the full-run pairs
    restricted to cross pairs."""
    from loudml_spark.pipeline.dedup import (
        incremental_exact_new,
        incremental_minhash_pairs,
        minhash_lsh_pairs,
    )

    corpus = docs.filter("doc_id < 2")    # docs 0,1 (identical text)
    delta = docs.filter("doc_id >= 2")    # docs 2,3,4

    # delta doc 2 is a near-dup (not exact) -> genuinely new exactly
    got = {r["doc_id"]: r for r in
           incremental_exact_new(delta, corpus).collect()}
    assert all(got[i]["is_new"] for i in (2, 3, 4))
    # an exact copy in the delta resolves to the LOWEST corpus id
    delta2 = delta.union(
        docs.filter("doc_id = 0").selectExpr("99 as doc_id", "text"))
    got2 = {r["doc_id"]: r for r in
            incremental_exact_new(delta2, corpus).collect()}
    assert got2[99]["is_new"] is False and got2[99]["dup_of"] == 0

    inc = {(r["corpus_id"], r["new_id"]): r["jaccard"] for r in
           incremental_minhash_pairs(
               delta, corpus, n=1, threshold=0.5).collect()}
    full = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
            minhash_lsh_pairs(docs, n=1, threshold=0.5).collect()}
    cross = {(a, b): j for (a, b), j in full.items() if a < 2 <= b}
    assert inc == cross and len(inc) > 0
    assert all(a < 2 <= b for a, b in inc)


def test_incremental_stored_tables_and_band_validation(spark, docs):
    """The landing-time contract: stored signature/key/index frames
    produce identical results to the from-text path, and an invalid
    band count fails fast instead of silently collapsing recall."""
    from loudml_spark import errors
    from loudml_spark.pipeline.dedup import (
        band_keys,
        exact_dedup_index,
        incremental_exact_new,
        incremental_minhash_pairs,
        minhash_lsh_pairs,
        shingle_signatures,
    )

    corpus = docs.filter("doc_id < 2")
    delta = docs.filter("doc_id >= 2")

    # stored-signature + stored-key path == from-text path
    sig_c = shingle_signatures(corpus, n=1)
    sig_d = shingle_signatures(delta, n=1)
    from_text = sorted(
        tuple(r) for r in incremental_minhash_pairs(
            delta, corpus, n=1, threshold=0.5).collect())
    stored = sorted(
        tuple(r) for r in incremental_minhash_pairs(
            None, None, n=1, threshold=0.5,
            new_sig=sig_d, corpus_sig=sig_c,
            corpus_keys=band_keys(sig_c, bands=4)).collect())
    assert stored == from_text and len(stored) > 0

    # stored exact index path == from-corpus path
    idx = exact_dedup_index(corpus, ["text"])
    a = sorted(tuple(r) for r in
               incremental_exact_new(delta, corpus).collect())
    b = sorted(tuple(r) for r in
               incremental_exact_new(
                   delta, None, corpus_index=idx).collect())
    assert a == b

    # bands must divide N_HASHES (8): 3 drops values, 16 gives r=0
    for bad in (3, 16, 0):
        with pytest.raises(errors.Invalid):
            minhash_lsh_pairs(docs, n=1, bands=bad)
        with pytest.raises(errors.Invalid):
            band_keys(sig_c, bands=bad)


def test_winnow_fingerprints_guarantee_and_window_coverage(spark):
    """The winnowing theorem in miniature: two documents sharing a
    substring of length >= k+w-1 have >= 1 common fingerprint; every
    complete window of w gram positions contains a selected position
    (the density guarantee); sub-k documents yield nothing; and the
    selection is deterministic across repartitions."""
    from loudml_spark.pipeline.text import winnow_fingerprints

    shared = "QUITEUNIQUESEG"  # 14 >= k + w - 1 = 11
    rows = [
        (1, "alpha beta " + shared + " gamma delta"),
        (2, shared + " epsilon zeta eta theta iota"),
        (3, "short"),  # < k chars: no grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, k=8, w=4)
    got = fps.collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc.get(3) is None
    assert by_doc[1] & by_doc[2], "shared >= 11-char substring must share a fp"

    # density: every complete window [t-w+1, t] holds >= 1 selected pos
    pos1 = sorted(r["pos"] for r in got if r["doc_id"] == 1)
    n_grams = len(rows[0][1]) - 8 + 1
    for t in range(4, n_grams + 1):
        assert any(t - 3 <= p <= t for p in pos1), (t, pos1)

    # deterministic under repartition
    again = winnow_fingerprints(df.repartition(7), k=8, w=4).collect()
    assert {(r["doc_id"], r["fp"], r["pos"]) for r in again} == \
        {(r["doc_id"], r["fp"], r["pos"]) for r in got}


def test_winnow_overlap_pairs_seeded_recall(spark):
    """Every seeded (i, i+10M) pair — members sharing only the
    injected doc-unique segment — appears in the catalog query's
    output: the detection side of the winnowing guarantee.  (r8: the
    catalog slice lifted to doc_id < 500 with a +10M member offset.)"""
    from loudml_spark.catalog_pipeline import q_winnow_overlap_pairs
    from loudml_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    base_ids = {
        r[0] for r in load_table(spark, sf_dir, "documents")
        .filter("doc_id < 500").select("doc_id").collect()
    }
    pairs = {(r["doc_a"], r["doc_b"])
             for r in q_winnow_overlap_pairs(spark, sf_dir).collect()}
    missing = {(i, i + 10_000_000) for i in base_ids} - pairs
    assert not missing, sorted(missing)[:10]


def test_lm_score_hand_computed(spark):
    """Add-one-smoothed unigram model on a 3-doc corpus, verified
    against hand-derived probabilities, plus OOV accounting and the
    zero-token-document NULL contract."""
    import math

    from loudml_spark.pipeline.corpus import lm_score

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog"),
        (3, "zzzunseen"),
        (4, "!!!"),  # zero tokens after [a-z]+ extraction
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # vocab_size=3 keeps {the:3, cat:1 ... tie} -> tf desc, token asc:
    # the(3), cat(1), dog(1) kept; mat/on/sat/zzzunseen are OOV.
    out = {r["doc_id"]: r for r in lm_score(df, vocab_size=3).collect()}
    n_total = 9  # the,cat,sat,on,the,mat,the,dog,zzzunseen
    denom = n_total + 3 + 1
    lp = {"the": math.log(4 / denom), "cat": math.log(2 / denom),
          "dog": math.log(2 / denom)}
    oov = math.log(1 / denom)
    d1 = (lp["the"] * 2 + lp["cat"] + oov * 3) / 6
    assert out[1]["n_tokens"] == 6 and out[1]["n_oov"] == 3
    assert abs(out[1]["avg_logp"] - d1) < 1e-6
    assert out[2]["n_oov"] == 0
    assert out[3]["n_oov"] == 1 and out[3]["oov_rate"] == 1.0
    assert out[4]["n_tokens"] == 0
    assert out[4]["avg_logp"] is None and out[4]["oov_rate"] is None

    with pytest.raises(ValueError):
        lm_score(df, vocab_size=0)


def test_semdedup_seeded_recall_and_survivors(spark):
    """Every seeded near-duplicate (i, i+10000) — second half scaled
    by 0.5, cosine ~0.94 — is caught when both members share a cell,
    and the survivor set keeps exactly one exemplar per component."""
    from loudml_spark.catalog_pipeline import (
        q_semdedup_pairs_emb,
        q_semdedup_survivors_emb,
    )

    sf_dir = "/root/testdata/sf0.001"
    pairs = q_semdedup_pairs_emb(spark, sf_dir).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got, "seeded corpus must produce semantic-dup pairs"
    for a, b in got:
        assert b == a + 10000, (a, b)
        assert a < 100
    surv = q_semdedup_survivors_emb(spark, sf_dir).collect()
    canon = {r["vec_id"] for r in surv if r["is_canonical"]}
    by_cluster = {}
    for r in surv:
        by_cluster.setdefault(r["cluster_id"], []).append(r["vec_id"])
    for cid, members in by_cluster.items():
        assert min(members) == cid
        assert cid in canon
    # each detected pair collapsed: its high member is not canonical
    for a, b in got:
        assert b not in canon


def test_bloom_prefilter_no_false_negatives_and_prunes(spark):
    """Bloom semantics: every inserted hash probes positive (no false
    negatives — the property the prefilter's correctness rests on);
    the bloom path's final output equals the exact operator's
    row-for-row; and the prefilter genuinely prunes (fewer docs reach
    verification than the corpus has)."""
    from loudml_spark.pipeline.dedup import (
        _shingle_hashes_udf,
        benchmark_overlap,
        benchmark_overlap_bloom,
        bloom_build,
        bloom_probe_col,
    )
    from loudml_spark.sources.tables import load_table

    # membership: inserted hashes always test positive
    hashes = [h * 2_654_435_761 % 1_000_000_007 for h in range(1, 400)]
    words = bloom_build(hashes, m_bits=1 << 12, k=3)
    hdf = spark.createDataFrame([(h,) for h in hashes], "h long")
    n_pos = hdf.filter(
        bloom_probe_col(F.col("h"), words, m_bits=1 << 12, k=3)
    ).count()
    assert n_pos == len(hashes)

    with pytest.raises(ValueError):
        bloom_build([], m_bits=100, k=3)  # not a multiple of 32
    with pytest.raises(ValueError):
        bloom_build([], m_bits=64, k=0)

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.filter("doc_id >= 20")
    bench = docs.filter("doc_id < 20").select(
        F.col("doc_id").alias("bench_id"), "text")
    exact = benchmark_overlap(corpus, bench, n=3, min_overlap=8)
    bloom = benchmark_overlap_bloom(corpus, bench, n=3, min_overlap=8)
    key = lambda r: (r["doc_id"], r["matched_bench"], r["n_overlap"],
                     r["contaminated"])
    assert sorted(map(key, bloom.collect())) == \
        sorted(map(key, exact.collect()))

    # the prefilter must actually shrink the verification input
    sh = _shingle_hashes_udf(3, "whitespace")
    bench_hashes = [
        r[0] for r in bench.select(
            F.explode(sh(F.col("text"))).alias("h")).distinct().collect()
    ]
    w2 = bloom_build(bench_hashes, m_bits=1 << 16, k=3)
    n_cand = corpus.filter(
        F.size(F.filter(
            sh(F.col("text")),
            lambda h: bloom_probe_col(h, w2, m_bits=1 << 16, k=3),
        )) >= 8
    ).count()
    n_corpus = corpus.count()
    n_contaminated = exact.filter("contaminated").count()
    assert n_contaminated <= n_cand < n_corpus, \
        (n_contaminated, n_cand, n_corpus)


def test_pack_sequences_tiling_invariants(spark):
    """Sequence packing contracts: document pieces tile [0, n_tokens)
    with no gaps; every window except a stratum's last carries exactly
    seq_len tokens; zero-token docs vanish; bad seq_len raises."""
    from loudml_spark import errors
    from loudml_spark.pipeline.sampling import pack_sequences

    rows = [
        (1, "a", 5), (2, "a", 9), (3, "a", 0), (4, "a", 17),
        (5, "b", 8), (6, "b", 3),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n long")
    out = pack_sequences(df, token_col="n", seq_len=8, by="lang") \
        .collect()
    assert not any(r["doc_id"] == 3 for r in out)

    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    n_of = {d: n for d, _, n in rows}
    for d, pieces in by_doc.items():
        pieces.sort(key=lambda r: r["tok_begin"])
        assert pieces[0]["tok_begin"] == 0
        assert pieces[-1]["tok_end"] == n_of[d]
        for p, q in zip(pieces, pieces[1:]):
            assert p["tok_end"] == q["tok_begin"]  # no gap, no overlap
            assert q["seq_id"] == p["seq_id"] + 1  # consecutive windows

    # per-(lang, seq) token fill: 8 everywhere but the stratum's last
    fill = {}
    last_seq = {}
    for r in out:
        k = (r["lang"], r["seq_id"])
        fill[k] = fill.get(k, 0) + (r["tok_end"] - r["tok_begin"])
        last_seq[r["lang"]] = max(
            last_seq.get(r["lang"], -1), r["seq_id"])
    for (lang, seq), n in fill.items():
        if seq < last_seq[lang]:
            assert n == 8, (lang, seq, n)
        else:
            assert 0 < n <= 8
    # offsets are consistent with the in-window placement
    for r in out:
        assert 0 <= r["offset_in_seq"] < 8
        assert (r["offset_in_seq"] + (r["tok_end"] - r["tok_begin"])
                ) <= 8

    with pytest.raises(errors.Invalid):
        pack_sequences(df, token_col="n", seq_len=0)


def test_centroid_similarity_hand_computed(spark):
    """Pairwise centroid cosine on a 2-group toy set with known
    centroids: g0 -> mean([1,0],[1,0]) = [1,0]; g1 -> mean([0,2],[2,0])
    = [1,1]; cos = 1/sqrt(2)."""
    import math

    from loudml_spark import errors
    from loudml_spark.pipeline.embeddings import centroid_similarity

    rows = [
        (0, [1.0, 0.0]), (0, [1.0, 0.0]),
        (1, [0.0, 2.0]), (1, [2.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "g int, embedding array<float>")
    out = centroid_similarity(df, group_col="g").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["grp_a"], r["grp_b"]) == (0, 1)
    assert r["cosine"] == pytest.approx(1 / math.sqrt(2), abs=1e-6)

    with pytest.raises(errors.Invalid):
        centroid_similarity(df, group_col="nope")


def test_containment_pairs_seeded_excerpts(spark):
    """Every seeded (base, excerpt) pair surfaces with near-1
    containment on the excerpt side — the asymmetric measure's whole
    point — while symmetric Jaccard on the same pair is diluted by
    the size ratio; threshold validation raises."""
    from loudml_spark.catalog_pipeline import q_containment_pairs_docs
    from loudml_spark.pipeline.dedup import ngram_containment_pairs

    sf_dir = "/root/testdata/sf0.001"
    rows = q_containment_pairs_docs(spark, sf_dir).collect()
    pairs = {(r["id_a"], r["id_b"]): r for r in rows}
    assert pairs, "seeded corpus must produce containment pairs"
    # every seeded (base, base+10M) pair present (extras are GENUINE
    # >=0.6 containments inside the word-soup corpus; r8: the catalog
    # slice lifted to doc_id < 500 with a +10M excerpt offset)
    from loudml_spark.sources.tables import load_table as _lt
    seeded = {(i, i + 10_000_000)
              for (i,) in _lt(spark, sf_dir, "documents")
              .filter("doc_id < 500").select("doc_id").collect()}
    missing = seeded - set(pairs)
    assert not missing, sorted(missing)[:10]
    for (a, b), r in pairs.items():
        ex_side = max(r["containment_a"], r["containment_b"])
        assert ex_side >= 0.6
        # Jaccard = |∩| / (|A| + |B| − |∩|) is strictly smaller than
        # the excerpt-side containment for a proper excerpt
        sa = r["n_common"] / r["containment_a"]
        sb = r["n_common"] / r["containment_b"]
        jac = r["n_common"] / (sa + sb - r["n_common"])
        # equality only when excerpt == whole doc (short documents)
        assert jac <= ex_side
    assert any(
        r["n_common"] / (r["n_common"] / r["containment_a"]
                         + r["n_common"] / r["containment_b"]
                         - r["n_common"]) < max(r["containment_a"],
                                                r["containment_b"])
        for r in pairs.values()
    ), "at least one proper excerpt must show dilution"

    with pytest.raises(ValueError):
        ngram_containment_pairs(
            spark.createDataFrame([(1, "a b c d")],
                                  "doc_id long, text string"),
            threshold=0.0)


def test_sparse_cosine_pairs_hand_computed(spark):
    """3 tiny docs with known TF-IDF cosines (numpy oracle), plus the
    max_df cut semantics: cutting a universal term recomputes norms
    in the reduced space."""
    import math

    import pytest

    from loudml_spark import errors
    from loudml_spark.pipeline.corpus import sparse_cosine_pairs

    texts = {1: "cat dog cat", 2: "cat dog dog", 3: "bird bird cat"}
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string")

    def oracle(docs, max_df=None, n=3):
        import collections
        per = {i: collections.Counter(t.split()) for i, t in docs.items()}
        dfreq = collections.Counter(
            tok for c in per.values() for tok in c)
        vecs = {}
        for i, c in per.items():
            dl = sum(c.values())
            v = {t: (tf / dl) * (math.log((1 + n) / (1 + dfreq[t])) + 1)
                 for t, tf in c.items()
                 if max_df is None or dfreq[t] <= max_df}
            nrm = math.sqrt(sum(x * x for x in v.values()))
            vecs[i] = {t: x / nrm for t, x in v.items()}
        out = {}
        ids = sorted(vecs)
        for x in ids:
            for y in ids:
                if x < y:
                    shared = set(vecs[x]) & set(vecs[y])
                    if shared:
                        out[(x, y)] = (len(shared), round(sum(
                            vecs[x][t] * vecs[y][t] for t in shared), 6))
        return out

    got = {(r["id_a"], r["id_b"]): (r["n_common"], r["cosine"])
           for r in sparse_cosine_pairs(
               df, threshold=0.01).collect()}
    assert got == oracle(texts)

    # 'cat' appears in all 3 docs; max_df=2 removes it from the
    # similarity space — (1,3) shared only 'cat', so it disappears
    got_cut = {(r["id_a"], r["id_b"]): (r["n_common"], r["cosine"])
               for r in sparse_cosine_pairs(
                   df, threshold=0.01, max_df=2).collect()}
    assert got_cut == oracle(texts, max_df=2)
    assert (1, 3) in got and (1, 3) not in got_cut

    with pytest.raises(errors.Invalid):
        sparse_cosine_pairs(df, threshold=0.0)
    with pytest.raises(errors.Invalid):
        sparse_cosine_pairs(df, max_df=1)


def test_embedding_covariance_and_pca_match_numpy(spark):
    """Distributed Gram-pass covariance == numpy population cov
    (round 6); PCA projections == sklearn-style numpy PCA (eigh on
    the covariance, sign-fixed) within 1e-6; explained ratios
    descending and summing <= 1."""
    import numpy as np
    import pytest

    from loudml_spark import errors
    from loudml_spark.pipeline.embeddings import (
        embedding_covariance, pca_fit, pca_project,
    )

    rng = np.random.default_rng(5)
    # anisotropic cloud: variance concentrated in two directions
    base = rng.normal(0, 1, (80, 2)) @ rng.normal(0, 1, (2, 6)) \
        + rng.normal(0, 0.05, (80, 6))
    rows = [(i, [float(x) for x in base[i]]) for i in range(80)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>").repartition(4)

    x = np.asarray([np.asarray(v, dtype=np.float64) for _, v in rows])
    want_cov = np.cov(x, rowvar=False, bias=True)
    got = {(r["i"], r["j"]): (r["n"], r["cov"])
           for r in embedding_covariance(df).collect()}
    assert len(got) == 6 * 7 // 2
    for (i, j), (n, cv) in got.items():
        assert n == 80 and i <= j
        assert cv == pytest.approx(round(float(want_cov[i, j]), 6),
                                   abs=2e-6)

    comps, ratio = pca_fit(df, k=3)
    assert comps.shape == (3, 6)
    assert ratio == sorted(ratio, reverse=True)
    assert 0.95 <= ratio[0] + ratio[1] and sum(ratio) <= 1.0 + 1e-9

    # numpy oracle with the same sign convention
    w, v = np.linalg.eigh(want_cov)
    order = np.argsort(w)[::-1][:3]
    ref = v[:, order].T.copy()
    for row in ref:
        if row[np.argmax(np.abs(row))] < 0:
            row *= -1
    assert np.allclose(comps, ref, atol=1e-6)

    proj = {r["vec_id"]: r["pca"]
            for r in pca_project(df, comps).collect()}
    want = x @ ref.T
    for i in range(80):
        assert np.allclose(proj[i], want[i], atol=1e-5), i

    with pytest.raises(errors.Invalid):
        pca_fit(df, k=0)
    with pytest.raises(errors.Invalid):
        pca_fit(df, k=7)
    with pytest.raises(errors.Invalid):
        embedding_covariance(df.select("vec_id"), vec_col="embedding")


def test_embedding_outlier_scores_flag_injected_outlier(spark):
    """Vectors on a 2D subspace + one far-off-subspace outlier: the
    outlier gets the max whitened score, and every score matches the
    numpy replay (same sample selection, same fit, full projection
    math) to 6 dp."""
    import numpy as np

    from loudml_spark.pipeline.embeddings import (
        SAMPLE_A, SAMPLE_B, SAMPLE_MOD,
        _pca_fit_arrays, embedding_outlier_scores,
    )

    rng = np.random.default_rng(9)
    x = rng.normal(0, 1, (60, 2)) @ rng.normal(0, 1, (2, 8))
    x += rng.normal(0, 0.01, x.shape)
    x[37] += 25.0  # inject: far off the natural subspace
    rows = [(i, [float(v) for v in x[i]]) for i in range(60)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>").repartition(4)

    got = {r["vec_id"]: r["outlier_score"]
           for r in embedding_outlier_scores(
               df, k=3, max_rows=40).collect()}
    assert max(got, key=got.get) == 37

    # numpy replay: same portable-hash sample, same fit, same math
    xf = np.asarray([np.asarray(v, dtype=np.float64) for _, v in rows])
    order = sorted(range(60),
                   key=lambda i: ((i * SAMPLE_A + SAMPLE_B) % SAMPLE_MOD, i))
    sample = np.asarray(sorted(order[:40]))
    mean, comps, eig = _pca_fit_arrays(xf[sample], 3)
    m = comps @ mean
    proj = xf @ comps.T
    want = np.sqrt((((proj - m) ** 2) / eig).sum(axis=1))
    for i in range(60):
        assert abs(got[i] - round(float(want[i]), 6)) <= 1e-6, i

    # deterministic across runs / repartitions
    again = {r["vec_id"]: r["outlier_score"]
             for r in embedding_outlier_scores(
                 df.repartition(7), k=3, max_rows=40).collect()}
    assert again == got


def test_pmi_pairs_hand_computed(spark):
    """4 tiny docs, python oracle: PMI = ln(c_ab*N/(df_a*df_b));
    strong collocation ('new york' in every doc it appears) scores
    above independent pairs; max_df drops ubiquitous tokens."""
    import itertools
    import math

    import pytest

    from loudml_spark import errors
    from loudml_spark.pipeline.corpus import pmi_pairs

    texts = {1: "new york pizza", 2: "new york subway",
             3: "pizza oven", 4: "the pizza the subway"}
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string")

    def oracle(min_count=1, max_df=None):
        toks = {i: set(t.split()) for i, t in texts.items()}
        n = len(toks)
        dfreq = {}
        for s in toks.values():
            for w in s:
                dfreq[w] = dfreq.get(w, 0) + 1
        if max_df is not None:
            toks = {i: {w for w in s if dfreq[w] <= max_df}
                    for i, s in toks.items()}
        out = {}
        vocab = sorted({w for s in toks.values() for w in s})
        for a, b in itertools.combinations(vocab, 2):
            c = sum(1 for s in toks.values() if a in s and b in s)
            if c >= min_count:
                out[(a, b)] = (c, round(
                    math.log(c * n / (dfreq[a] * dfreq[b])), 6))
        return out

    got = {(r["token_a"], r["token_b"]): (r["n_docs"], r["pmi"])
           for r in pmi_pairs(df, min_pair_count=1).collect()}
    assert got == oracle()
    # 'new york' co-occur in 2/2 of their docs: pmi = ln(2*4/(2*2)) = ln 2
    assert got[("new", "york")] == (2, round(math.log(2.0), 6))

    cut = {(r["token_a"], r["token_b"]): (r["n_docs"], r["pmi"])
           for r in pmi_pairs(
               df, min_pair_count=1, max_df=2).collect()}
    assert cut == oracle(max_df=2)
    assert not any("pizza" in p for p in cut)  # df=3 token dropped

    with pytest.raises(errors.Invalid):
        pmi_pairs(df, min_pair_count=0)
    with pytest.raises(errors.Invalid):
        pmi_pairs(df, max_df=1)


def test_bm25_hand_computed(spark):
    """BM25 against a from-the-formula python oracle on a 4-doc
    corpus; ordering, top_k cut, and the n_terms hit count."""
    import math

    import pytest

    from loudml_spark.pipeline.corpus import bm25_scores

    texts = {
        1: "spark spark table sort",
        2: "spark window",
        3: "merge merge merge window window table",
        4: "sort table row",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string")
    terms = ["spark", "window", "merge"]
    got = {r["doc_id"]: r for r in
           bm25_scores(df, terms, k1=1.2, b=0.75).collect()}

    n = len(texts)
    lens = {i: len(t.split()) for i, t in texts.items()}
    avgdl = sum(lens.values()) / n
    dfreq = {t: sum(1 for x in texts.values() if t in x.split())
             for t in terms}

    def score(doc):
        toks = texts[doc].split()
        s = 0.0
        hits = 0
        for t in terms:
            tf = toks.count(t)
            if tf == 0:
                continue
            hits += 1
            idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += round(idf * tf * 2.2
                       / (tf + 1.2 * (0.25 + 0.75 * lens[doc] / avgdl)), 6)
        return hits, s

    assert set(got) == {1, 2, 3}  # doc 4 hits no query term
    for d in (1, 2, 3):
        hits, s = score(d)
        assert got[d]["n_terms"] == hits, d
        assert got[d]["score"] == pytest.approx(s, abs=2e-6), d

    top1 = bm25_scores(df, terms, top_k=1).collect()
    assert len(top1) == 1
    best = max((score(d)[1], -d) for d in (1, 2, 3))
    assert top1[0]["doc_id"] == -best[1]

    from loudml_spark import errors as lerr
    with pytest.raises(lerr.Invalid):
        bm25_scores(df, [])
    with pytest.raises(lerr.Invalid):
        bm25_scores(df, terms, b=1.5)


def test_lm_perplexity_hand_computed(spark):
    """Perplexity against a from-the-formula python oracle; the
    repetitive doc must score lower (more corpus-typical) than the
    rare-word doc."""
    import math

    import pytest

    from loudml_spark import errors
    from loudml_spark.pipeline.corpus import lm_perplexity

    texts = {
        1: "the cat sat on the mat",
        2: "the the the the",
        3: "zyx qwv",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string")
    got = {r["doc_id"]: r for r in lm_perplexity(df, add_k=0.5).collect()}

    corpus = [w for t in texts.values() for w in t.split()]
    total, vocab = len(corpus), len(set(corpus))

    def ppl(doc):
        toks = texts[doc].split()
        s = 0.0
        for w in set(toks):
            p = (corpus.count(w) + 0.5) / (total + 0.5 * vocab)
            s += round(toks.count(w) * math.log(p), 6)
        return len(toks), math.exp(-s / len(toks))

    assert set(got) == {1, 2, 3}
    for d in texts:
        n, expect = ppl(d)
        assert got[d]["n_tokens"] == n, d
        assert got[d]["ppl"] == pytest.approx(expect, rel=1e-5), d
    assert got[2]["ppl"] < got[1]["ppl"] < got[3]["ppl"]

    with pytest.raises(errors.Invalid):
        lm_perplexity(df, add_k=0)


def test_importance_weights_hand_computed(spark):
    """DSIR unigram log-ratio against a python oracle; target-typical
    docs must weigh above source-typical ones, and an empty target
    raises."""
    import math

    import pytest
    from pyspark.sql import functions as F

    from loudml_spark import errors
    from loudml_spark.pipeline.corpus import importance_weights

    rows = [
        (1, "alpha beta alpha", "en"),
        (2, "beta gamma", "en"),
        (3, "gamma gamma delta", "fr"),
        (4, "alpha beta", None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string")
    got = {r["doc_id"]: r for r in importance_weights(
        df, F.col("lang") == "en", add_k=0.5).collect()}

    tgt_corpus = [w for _, t, lang in rows if lang == "en"
                  for w in t.split()]
    src_corpus = [w for _, t, _ in rows for w in t.split()]
    vocab = len(set(src_corpus))
    den_t = len(tgt_corpus) + 0.5 * vocab
    den_s = len(src_corpus) + 0.5 * vocab

    def weight(doc):
        toks = rows[doc - 1][1].split()
        s = 0.0
        for w in set(toks):
            pt = (tgt_corpus.count(w) + 0.5) / den_t
            ps = (src_corpus.count(w) + 0.5) / den_s
            s += round(toks.count(w) * math.log(pt / ps), 6)
        return len(toks), s

    assert set(got) == {1, 2, 3, 4}
    for d in (1, 2, 3, 4):
        n, expect = weight(d)
        assert got[d]["n_tokens"] == n, d
        assert got[d]["log_weight"] == pytest.approx(expect, abs=2e-6), d
    # the all-target-vocab doc outweighs the fr-heavy one
    assert got[1]["log_weight"] > got[3]["log_weight"]

    with pytest.raises(errors.Invalid):
        importance_weights(df, F.lit(False))
    with pytest.raises(errors.Invalid):
        importance_weights(df, F.col("lang") == "en", add_k=-1)


def test_textrank_hand_computed(spark):
    """TextRank against a python PageRank replay with the same
    quantize-then-sum schedule on a 3-doc corpus; also pins the
    co-occurrence edge builder and validation errors."""
    import pytest

    from loudml_spark import errors
    from loudml_spark.pipeline.corpus import (
        cooccurrence_edges,
        textrank_keywords,
    )

    texts = {
        1: "alpha beta gamma",
        2: "alpha beta delta",
        3: "alpha gamma",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string")

    edges = {(r["u"], r["v"]): r["c"] for r in
             cooccurrence_edges(df, min_pair_count=1).collect()}
    # co-occurrence counts: alpha-beta 2, alpha-gamma 2, alpha-delta 1,
    # beta-gamma 1, beta-delta 1 — symmetric
    assert edges[("alpha", "beta")] == 2 == edges[("beta", "alpha")]
    assert edges[("alpha", "gamma")] == 2
    assert edges[("beta", "delta")] == 1
    assert ("gamma", "delta") not in edges

    got = {r["token"]: r["score"] for r in textrank_keywords(
        df, min_pair_count=1, iterations=5).collect()}

    # python replay of the exact schedule
    out_w = {}
    for (u, _v), c in edges.items():
        out_w[u] = out_w.get(u, 0) + c
    n = len(out_w)
    ranks = {u: 1.0 / n for u in out_w}
    for _ in range(5):
        incoming = {u: [] for u in out_w}
        for (u, v), c in edges.items():
            incoming[v].append(round(ranks[u] * (c / out_w[u]), 9))
        # DECIMAL(28,9) sum == exact integer sum of 1e9-scaled terms
        ranks = {
            v: round(0.15 / n + 0.85
                     * (sum(int(round(x * 1e9)) for x in xs) / 1e9), 9)
            for v, xs in incoming.items()}

    assert set(got) == set(ranks)
    for t in ranks:
        assert got[t] == pytest.approx(round(ranks[t], 6), abs=2e-6), t
    # alpha co-occurs with everything — it must rank first
    assert max(got, key=got.get) == "alpha"
    # score mass is conserved up to rounding: Σr ≈ 1
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-3)

    top2 = textrank_keywords(df, min_pair_count=1, iterations=5,
                             top_k=2).collect()
    assert len(top2) == 2 and top2[0]["token"] == "alpha"

    with pytest.raises(errors.Invalid):
        textrank_keywords(df, damping=1.5)
    with pytest.raises(errors.Invalid):
        textrank_keywords(df, iterations=0)
    with pytest.raises(errors.Invalid):
        # min_pair_count far above any count -> empty graph
        textrank_keywords(df, min_pair_count=99)


def test_group_split_leakage_safety(spark):
    from loudml_spark.pipeline.sampling import group_split
    from loudml_spark.pipeline.text import rolling_hash_col, scramble_col

    # 200 groups x 5 rows: every row of a group must share its split
    rows = [(g * 5 + i, f"dom{g}") for g in range(200) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = group_split(
        df, group_key=scramble_col(rolling_hash_col(F.col("grp"))),
        weights={"train": 0.7, "val": 0.15, "test": 0.15})
    per_grp = out.groupBy("grp").agg(
        F.countDistinct("split").alias("n_splits")).collect()
    assert len(per_grp) == 200
    assert all(r["n_splits"] == 1 for r in per_grp)
    # hand-check one group end-to-end: dom0's scrambled hash + bucket
    h = 0
    for c in "dom0":
        h = (h * 31 + ord(c)) % 1_000_000_007
    h = (h * h % 1_000_000_007 + h) % 1_000_000_007
    expect = ("train" if h % 10000 < 7000
              else "val" if h % 10000 < 8500 else "test")
    got = {r["split"] for r in out.filter("grp = 'dom0'").collect()}
    assert got == {expect}
    # all three splits are populated across 200 groups
    assert out.select("split").distinct().count() == 3


def test_weighted_keep_threshold_and_nulls(spark):
    from loudml_spark.pipeline.sampling import weighted_keep
    from loudml_spark import errors

    rows = [(i, None if w is None else float(w)) for i, w in
            enumerate([0.0, 10_000.0, 50.0, None, 200.0])]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    out = {r["doc_id"]: r["keep"] for r in weighted_keep(
        df, key=F.col("doc_id") * 2654435761, weight=F.col("w"),
        scale=0.001).collect()}
    assert out[0] is False          # weight 0 never survives
    assert out[1] is True           # min(1, 10) = 1 -> always kept
    assert out[3] is False          # NULL weight -> threshold NULL
    # doc 2: prob 0.05 -> bucket < 500; doc 4: prob 0.2 -> bucket < 2000
    for doc, prob in ((2, 0.05), (4, 0.2)):
        bucket = (doc * 2654435761) % 10000
        assert out[doc] == (bucket < prob * 10000)
    with pytest.raises(errors.Invalid):
        weighted_keep(df, key=F.col("doc_id"), weight=F.col("w"),
                      scale=0.0)


def test_bpe_pair_counts_hand_example(spark):
    from loudml_spark.pipeline.corpus import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "low low lower a"), (2, "Lowest LOW!")],
        "doc_id long, text string")
    # word freqs: low x3, lower x1, lowest x1, a x1 (single char -> none)
    out = {r["pair"]: r["n"] for r in bpe_pair_counts(df).collect()}
    assert out["lo"] == 5 and out["ow"] == 5   # in every low* word
    assert out["we"] == 2                       # lower + lowest
    assert out["er"] == 1 and out["st"] == 1 and out["es"] == 1
    assert "a" not in out and len(out) == 6
    # top-1 is the next BPE merge: a deterministic tie-break on pair
    top = bpe_pair_counts(df, top_k=1).collect()
    assert (top[0]["pair"], top[0]["n"]) == ("lo", 5)
    # plan: top-k lowers to TakeOrderedAndProject, no global sort
    plan = bpe_pair_counts(df, top_k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_zipf_fit_matches_numpy_ols(spark):
    import numpy as np

    from loudml_spark import errors
    from loudml_spark.pipeline.corpus import zipf_fit

    df = spark.createDataFrame(
        [(1, "a a a a a a a a b b b b c c d")], "doc_id long, text string")
    row = zipf_fit(df).collect()[0]
    tf = np.array([8.0, 4.0, 2.0, 1.0])
    x = np.round(np.log(np.arange(1, 5)), 6)
    y = np.round(np.log(tf), 6)
    slope, intercept = np.linalg.lstsq(
        np.vstack([x, np.ones(4)]).T, y, rcond=None)[0]
    r2 = np.corrcoef(x, y)[0, 1] ** 2
    assert row["n"] == 4
    assert row["slope"] == round(float(slope), 6)
    assert row["intercept"] == round(float(intercept), 6)
    assert row["r2"] == round(float(r2), 6)
    # degenerate: single token -> zero x-variance -> NULL fit, not ANSI error
    one = spark.createDataFrame([(1, "solo solo")], "doc_id long, text string")
    row = zipf_fit(one).collect()[0]
    assert row["n"] == 1 and row["slope"] is None and row["r2"] is None
    with pytest.raises(errors.Invalid):
        zipf_fit(df, top_k=0)


def test_cluster_split_no_near_dup_straddles(spark):
    from loudml_spark.catalog_pipeline import q_cluster_split_docs

    out = q_cluster_split_docs(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    # every member of a cluster shares its split (the leakage guard)
    per = {}
    for r in rows:
        per.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in per.values())
    # multi-member clusters exist in the fixture (else the test is vacuous)
    from collections import Counter
    sizes = Counter()
    for r in rows:
        sizes[r["cluster_id"]] += 1
    assert max(sizes.values()) >= 2
    # all three splits populated
    assert {r["split"] for r in rows} == {"train", "val", "test"}


def test_cdc_chunks_edit_robust_and_tiling(spark):
    import pytest as _pt

    from loudml_spark import errors
    from loudml_spark.pipeline.dedup import cdc_boundaries, cdc_chunks

    base = "the quick brown fox jumps over the lazy dog " * 8
    edited = "XY" + base  # 2-char insertion at the front
    # chunks tile [0, n) with min/max respected (except the tail)
    ch = cdc_boundaries(base)
    assert ch[0][0] == 0
    assert all(a[0] + a[1] == b[0] for a, b in zip(ch, ch[1:]))
    assert ch[-1][0] + ch[-1][1] == len(base)
    assert all(32 <= ln <= 256 for _, ln, _ in ch[:-1])
    # identical content -> identical hash wherever it appears
    texts = {s: base[s:s + ln] for s, ln, _ in ch}
    hs = {base[s:s + ln]: h for s, ln, h in ch}
    assert len(hs) < len(ch) or len(set(texts.values())) == len(ch)
    # edit robustness: the insertion only changes the first chunk
    df = spark.createDataFrame([(1, base), (2, edited), (3, None)],
                               "doc_id long, text string")
    out = cdc_chunks(df)
    h1 = [r["chunk_hash"] for r in
          out.filter("doc_id=1").orderBy("chunk_id").collect()]
    h2 = [r["chunk_hash"] for r in
          out.filter("doc_id=2").orderBy("chunk_id").collect()]
    assert len(h1) == len(h2) and h1[1:] == h2[1:] and h1[0] != h2[0]
    # NULL text emits no rows
    assert out.filter("doc_id=3").count() == 0
    # short text -> one whole-text chunk
    one = cdc_boundaries("tiny")
    assert one == [(0, 4, one[0][2])]
    with _pt.raises(errors.Invalid):
        cdc_chunks(df, window=64, min_len=32)
    with _pt.raises(errors.Invalid):
        cdc_chunks(df, divisor=1)


def test_length_batches_padding_waste(spark):
    import pytest as _pt

    from loudml_spark import errors
    from loudml_spark.pipeline.sampling import (
        length_batches,
        padding_waste,
    )

    # alternating short/long docs: arrival batches mix lengths and
    # burn ~the gap per short doc; sorted batches are homogeneous
    lens = [10, 500, 12, 480, 9, 520, 11, 490]
    df = spark.createDataFrame(
        [(i, lens[i]) for i in range(8)], "doc_id long, n long")
    srt = padding_waste(
        length_batches(df, token_col="n", batch_size=4),
        token_col="n").collect()[0]
    arr = padding_waste(
        length_batches(df, token_col="n", batch_size=4,
                       sort_by_length=False),
        token_col="n").collect()[0]
    # hand-computed: sorted batches {9,10,11,12} + {480,490,500,520}
    # waste (12*4-42) + (520*4-1990) = 6 + 90 = 96; arrival batches
    # each pad three short+long mixes to ~max
    assert (srt["n_batches"], srt["n_docs"]) == (2, 8)
    assert srt["pad_tokens"] == 96
    assert arr["pad_tokens"] == (500 * 4 - 1002) + (520 * 4 - 1030)
    assert srt["real_tokens"] == arr["real_tokens"] == sum(lens)
    assert srt["pad_tokens"] < arr["pad_tokens"] / 10
    # determinism under repartition
    again = padding_waste(
        length_batches(df.repartition(5), token_col="n", batch_size=4),
        token_col="n").collect()[0]
    assert again["pad_tokens"] == 96
    with _pt.raises(errors.Invalid):
        length_batches(df, token_col="n", batch_size=0)


def test_incremental_cdc_near_dup_detection(spark):
    from loudml_spark.catalog_pipeline import q_incremental_cdc_docs
    from loudml_spark.pipeline.dedup import cdc_chunks

    # synthetic: a delta doc that is a corpus doc with one insertion
    base = "the quick brown fox jumps over the lazy dog " * 8
    docs = spark.createDataFrame(
        [(0, base), (250, "XY" + base), (251, "entirely different " * 20)],
        "doc_id long, text string")
    ch = cdc_chunks(docs)
    corpus_h = ch.filter("doc_id < 200").select("chunk_hash") \
        .distinct().withColumn("__hit", F.lit(1))
    delta = ch.filter("doc_id >= 200")
    got = {r["doc_id"]: r for r in (
        delta.join(corpus_h, "chunk_hash", "left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_chunks"),
             F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
             .alias("n_shared"))
        .withColumn("is_near_dup",
                    F.col("n_shared") * 2 >= F.col("n_chunks"))
    ).collect()}
    # edited re-crawl: all but the first chunk re-align -> near-dup
    r = got[250]
    assert r["is_near_dup"] and r["n_shared"] == r["n_chunks"] - 1
    # unrelated doc shares nothing
    assert got[251]["n_shared"] == 0 and not got[251]["is_near_dup"]
    # and the catalog query runs on real data with sane invariants
    rows = q_incremental_cdc_docs(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 100
    assert all(0 <= x["n_shared"] <= x["n_chunks"] for x in rows)


def test_classifier_score_matches_numpy(spark):
    """The JVM-side hashed-logistic inference reproduces the trained
    numpy model's logit exactly (integer micro-units) and its
    probability to 6 dp — on a corpus the model separates."""
    import numpy as np

    from loudml_spark.pipeline.classify import (
        _hash_token,
        classifier_score,
        train_quality_classifier,
    )

    good = ["clean prose with words " * 3 + f"v{i}" for i in range(12)]
    bad = ["zz qq xx junk spam " * 3 + f"u{i}" for i in range(12)]
    texts = [t for pair in zip(good, bad) for t in pair]
    labels = [1, 0] * 12
    w, b = train_quality_classifier(texts, labels, n_buckets=512)
    assert len(w) == 512 and any(w)

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           classifier_score(df, w, b, id_col="doc_id").collect()}
    assert len(got) == len(texts)
    for i, t in enumerate(texts):
        logit = sum(w[_hash_token(tok, 512)] for tok in t.split(" ")) + b
        assert got[i]["logit_micro"] == logit, (i, t)
        p = round(1.0 / (1.0 + np.exp(-(logit / 1e6))), 6) + 0.0
        assert got[i]["quality_prob"] == p, (i, p)
    # the model learned the split: good docs score above bad docs
    gscore = np.mean([got[i]["quality_prob"] for i in range(0, 24, 2)])
    bscore = np.mean([got[i]["quality_prob"] for i in range(1, 24, 2)])
    assert gscore > bscore + 0.2, (gscore, bscore)


def test_benchmark_overlap_spans_hand_computed(spark):
    """Span surgery on a constructed leak: a corpus doc embeds a
    bench doc's 12-token run in its middle; the reported span must
    cover exactly the leaked grams' token range."""
    from loudml_spark.pipeline.dedup import benchmark_overlap_spans

    leak = " ".join(f"L{i}" for i in range(12))        # 12 tokens
    pre = " ".join(f"p{i}" for i in range(5))          # tokens 0-4
    post = " ".join(f"q{i}" for i in range(4))
    corpus = spark.createDataFrame(
        [(100, f"{pre} {leak} {post}"),
         (101, "totally unrelated words only here")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(1, leak), (2, "other bench content entirely")],
        "bench_id long, text string")
    rows = {r["doc_id"]: r for r in benchmark_overlap_spans(
        corpus, bench, n=3, min_overlap=8).collect()}
    assert set(rows) == {100}            # only the leaking doc
    r = rows[100]
    assert r["matched_bench"] == 1
    assert r["n_overlap"] == 10          # 12 tokens -> 10 trigrams
    assert r["span_start"] == 5          # leak starts after 5-token pre
    assert r["span_end"] == 5 + 12 - 1   # inclusive last leaked token


def test_ann_recall_hand_computed(spark):
    """recall@k arithmetic: hits counted per query against the exact
    set; queries the index misses entirely score 0, not dropped."""
    from loudml_spark.pipeline.similarity import ann_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (3, 30)],
        "query_id long, neighbor_id long")
    approx = spark.createDataFrame(
        [(1, 10), (1, 12), (1, 99), (2, 77), (2, 88)],
        "query_id long, neighbor_id long")
    got = {r["query_id"]: r for r in
           ann_recall(approx, exact).collect()}
    assert got[1]["n_hits"] == 2 and got[1]["n_exact"] == 3
    assert got[1]["recall"] == 2 / 3
    assert got[2]["n_hits"] == 0 and got[2]["recall"] == 0.0
    assert got[3]["n_hits"] == 0 and got[3]["n_exact"] == 1


def test_excise_spans_hand_computed(spark):
    """Span surgery output: flagged doc loses exactly the inclusive
    token span; unflagged docs pass through byte-identical."""
    from loudml_spark.pipeline.dedup import excise_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "keep all of this")],
        "doc_id long, text string")
    spans = spark.createDataFrame(
        [(1, 2, 4)], "doc_id long, span_start long, span_end long")
    got = {r["doc_id"]: r for r in excise_spans(docs, spans).collect()}
    assert got[1]["text"] == "a b f g"
    assert got[1]["n_tokens_removed"] == 3
    assert got[1]["was_contaminated"] is True
    assert got[2]["text"] == "keep all of this"
    assert got[2]["n_tokens_removed"] == 0
    assert got[2]["was_contaminated"] is False


def test_benchmark_leak_spans_multi_leak(spark):
    """Per-leak surgery (the benchmark_overlap_spans hull cannot do
    this): two separated leaks in one doc — one from each of two
    bench docs — must come back as two runs, and excision must keep
    the clean text BETWEEN them byte-identical."""
    from loudml_spark.pipeline.dedup import (
        benchmark_leak_spans,
        excise_spans,
    )

    leak1 = " ".join(f"L{i}" for i in range(10))        # 10 tokens
    leak2 = " ".join(f"M{i}" for i in range(10))
    pre = " ".join(f"p{i}" for i in range(6))           # tokens 0-5
    mid = " ".join(f"b{i}" for i in range(8))           # the survivors
    post = " ".join(f"q{i}" for i in range(5))
    corpus = spark.createDataFrame(
        [(100, f"{pre} {leak1} {mid} {leak2} {post}"),
         (101, "totally unrelated words only here")],
        "doc_id long, text string")
    # leaks come from DIFFERENT bench docs: the hull variant would
    # keep only the best match and miss the other leak entirely
    bench = spark.createDataFrame(
        [(1, leak1), (2, leak2)], "bench_id long, text string")
    spans = benchmark_leak_spans(corpus, bench, n=3, min_overlap=8)
    rows = sorted(spans.collect(), key=lambda r: r["run"])
    assert [r["doc_id"] for r in rows] == [100, 100]
    assert (rows[0]["span_start"], rows[0]["span_end"]) == (6, 15)
    assert (rows[1]["span_start"], rows[1]["span_end"]) == (24, 33)
    assert all(r["n_matched_grams"] == 8 for r in rows)  # 10 tok → 8 tri

    got = {r["doc_id"]: r for r in
           excise_spans(corpus, spans).collect()}
    assert got[100]["text"] == f"{pre} {mid} {post}"
    assert got[100]["n_tokens_removed"] == 20
    assert got[100]["was_contaminated"] is True
    assert got[101]["text"] == "totally unrelated words only here"
    assert got[101]["was_contaminated"] is False

    # a SINGLE bench doc with two separated leaks also splits into
    # two runs (the hull variant bridges them, excising `mid`)
    bench_one = spark.createDataFrame(
        [(7, f"{leak1} {leak2}")], "bench_id long, text string")
    spans2 = benchmark_leak_spans(corpus, bench_one, n=3, min_overlap=8)
    # the bridging grams at the leak1→leak2 seam exist in the bench
    # doc but not the corpus doc, so positions still split on the gap
    assert spans2.count() == 2
    assert excise_spans(corpus, spans2).filter(
        "doc_id = 100").first()["text"] == f"{pre} {mid} {post}"


def test_seeded_multileak_catalog_exercises_run_split(spark):
    """The natural contamination in `documents` is single-run at every
    SF, so the run-splitting semantics would only ever be exercised by
    unit fixtures; the seeded catalog pair (leak_spans_seeded /
    excise_leaks_seeded) plants two bench docs around every corpus doc
    — assert the split fires on the real table and the surgery returns
    the original body between the leaks."""
    from loudml_spark.catalog_pipeline import (
        q_excise_leaks_seeded,
        q_leak_spans_seeded,
    )

    sf = "/root/testdata/sf0.001"
    spans = q_leak_spans_seeded(spark, sf).collect()
    per_doc = {}
    for r in spans:
        per_doc.setdefault(r["doc_id"], []).append(r)
    multi = {d for d, rs in per_doc.items() if len(rs) >= 2}
    # nearly every doc splits (a few have natural overlap bridging)
    assert len(multi) >= 400, len(multi)

    from loudml_spark.sources.tables import load_table
    orig = {r["doc_id"]: r["text"]
            for r in load_table(spark, sf, "documents")
            .filter("doc_id >= 20").collect()}
    cleaned = {r["doc_id"]: r["text"]
               for r in q_excise_leaks_seeded(spark, sf).collect()}
    exact = sum(1 for d in multi
                if len(per_doc[d]) == 2 and cleaned[d] == orig[d])
    # the clean text BETWEEN the two leaks survives byte-identical for
    # the docs whose body carries no natural contamination of its own
    assert exact >= 300, exact


def test_repeated_spans_excises_boilerplate(spark):
    """ExactSubstr-style intra-corpus dedup: a boilerplate sentence
    shared by three docs (twice in one of them) is excised from every
    occurrence — including both copies within one doc, keeping the
    text between them — while a unique doc passes byte-identical."""
    from loudml_spark.pipeline.dedup import excise_spans, repeated_spans

    boiler = ("this content is provided as is without any warranty "
              "of any kind")
    docs = spark.createDataFrame(
        [(1, f"alpha one two three {boiler} tail x"),
         (2, f"beta four five six seven {boiler} tail x"),
         (3, f"gamma {boiler} middle text {boiler} end"),
         (4, "entirely unique content nothing shared here at all")],
        "doc_id long, text string")
    sp = repeated_spans(docs, n=5, min_count=2)
    per_doc = {}
    for r in sp.collect():
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert set(per_doc) == {1, 2, 3}
    assert len(per_doc[3]) == 2          # two separate runs in doc 3

    got = {r["doc_id"]: r for r in excise_spans(docs, sp).collect()}
    # "tail x" follows the boilerplate in docs 1 AND 2, so grams
    # spanning the seam repeat too and the span rightly extends
    assert got[1]["text"] == "alpha one two three"
    assert got[2]["text"] == "beta four five six seven"
    assert got[3]["text"] == "gamma middle text end"
    assert got[4]["text"].startswith("entirely unique")
    assert got[4]["n_tokens_removed"] == 0


def test_repeated_spans_keep_one_keeps_canonical(spark):
    """Keep-one contract: the smallest (doc_id, pos) occurrence of
    every repeated gram survives; all other occurrences excise —
    boilerplate keeps exactly one corpus-wide instance."""
    from loudml_spark.pipeline.dedup import (
        excise_spans,
        repeated_spans_keep_one,
    )

    boiler = ("this content is provided as is without any warranty "
              "of any kind")
    docs = spark.createDataFrame(
        [(1, f"alpha one two three {boiler} end a"),
         (2, f"beta four five six {boiler} end b"),
         (3, f"gamma {boiler} middle {boiler} tail")],
        "doc_id long, text string")
    sp = repeated_spans_keep_one(docs, n=5, min_count=2)
    got = {r["doc_id"]: r for r in excise_spans(docs, sp).collect()}
    # doc 1 is canonical: untouched, boilerplate intact
    assert got[1]["n_tokens_removed"] == 0
    assert boiler in got[1]["text"]
    # docs 2 and 3 lose every non-canonical occurrence
    assert boiler not in got[2]["text"]
    assert got[3]["text"] == "gamma middle tail"
