"""Round-12 hardening: weighted-pagerank input validation, up-front
6dp weight rounding, and the checkpoint block lifecycle
(loudml_spark/checkpoint.py — superseded iteration copies released,
block-manager storage O(1) in n_iter)."""

import pytest
from pyspark.sql import functions as F

from loudml_spark import errors
from loudml_spark.checkpoint import pinned_rdd_count, release_checkpoint
from loudml_spark.pipeline.graph import component_stats, pagerank

WEDGES = [(1, 2, 0.9), (2, 3, 0.5), (1, 3, 0.25), (3, 4, 1.0)]


@pytest.fixture()
def wedge_df(spark):
    return spark.createDataFrame(
        WEDGES, "id_a long, id_b long, wt double")


class TestWeightedValidation:
    def test_duplicate_pair_differing_weight_raises(self, spark):
        df = spark.createDataFrame(
            WEDGES + [(1, 2, 0.4)], "id_a long, id_b long, wt double")
        with pytest.raises(errors.Invalid, match="duplicate"):
            pagerank(df, weight_col="wt")

    def test_reversed_pair_differing_weight_raises(self, spark):
        # (a,b,w1) + (b,a,w2) is the same undirected edge twice
        df = spark.createDataFrame(
            WEDGES + [(2, 1, 0.4)], "id_a long, id_b long, wt double")
        with pytest.raises(errors.Invalid, match="duplicate"):
            pagerank(df, weight_col="wt")

    def test_exact_duplicate_row_is_fine(self, spark):
        # same pair, same weight: distinct() collapses it — valid
        df = spark.createDataFrame(
            WEDGES + [(1, 2, 0.9)], "id_a long, id_b long, wt double")
        out = {r["id"]: r["pagerank"]
               for r in pagerank(df, weight_col="wt").collect()}
        assert abs(sum(out.values()) - 1.0) < 1e-6

    def test_nonpositive_weight_raises(self, spark):
        df = spark.createDataFrame(
            WEDGES + [(4, 5, 0.0)], "id_a long, id_b long, wt double")
        with pytest.raises(errors.Invalid, match="nonpositive"):
            pagerank(df, weight_col="wt")

    def test_null_weight_raises(self, spark):
        df = spark.createDataFrame(
            [(1, 2, 0.9), (2, 3, None)], "id_a long, id_b long, wt double")
        with pytest.raises(errors.Invalid, match="null"):
            pagerank(df, weight_col="wt")

    def test_sub_6dp_weight_noise_collapses(self, spark, wedge_df):
        """Weights differing only past 6dp round to the same edge —
        the documented up-front-rounding contract — and the result
        equals the clean-weight run bit-for-bit."""
        noisy = spark.createDataFrame(
            [(a, b, w + 1e-9) for a, b, w in WEDGES],
            "id_a long, id_b long, wt double")
        clean = sorted(pagerank(wedge_df, weight_col="wt").collect())
        got = sorted(pagerank(noisy, weight_col="wt").collect())
        assert got == clean


class TestCheckpointLifecycle:
    def test_release_checkpoint_noop_on_plain_frame(self, spark):
        df = spark.range(10)
        assert release_checkpoint(df) is False
        assert release_checkpoint(None) is False

    def test_release_checkpoint_frees_blocks(self, spark):
        # track the checkpoint's OWN rdd id, not the global pinned
        # count: unpersist is async (blocking=False), so releases
        # from a previous test can drain between two global counts
        # and flake a strict == assertion (seen once C16 batched the
        # operators' releases); the per-id form asserts the same
        # contract race-free
        def pinned_ids():
            return {i.id() for i in
                    spark.sparkContext._jsc.sc().getRDDStorageInfo()}

        ck = spark.range(1000).localCheckpoint()
        rid = ck._jdf.queryExecution().analyzed().rdd().id()
        assert rid in pinned_ids()
        assert release_checkpoint(ck, blocking=True) is True
        assert rid not in pinned_ids()

    def test_pagerank_storage_o1_in_n_iter(self, spark):
        """n_iter=25 leaves exactly ONE pinned RDD (the final rank
        checkpoint) — the r11 shape left ~n_iter+1 copies
        (tools/checkpoint_evidence.py: 26 vs 1 at 20k nodes)."""
        df = spark.createDataFrame(
            [(i, (i * 7) % 50) for i in range(50)],
            "id_a long, id_b long").filter("id_a != id_b")
        base = pinned_rdd_count(spark)
        out = pagerank(df, n_iter=25)
        assert pinned_rdd_count(spark) - base <= 1
        # the released checkpoints must not be needed again: the
        # result is still actionable and mass-conserving
        total = out.agg(F.sum("pagerank")).first()[0]
        assert abs(total - 1.0) < 1e-5
        release_checkpoint(out)

    def test_component_stats_releases_edges(self, spark):
        df = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
            "id_a long, id_b long")
        base = pinned_rdd_count(spark)
        out = component_stats(df)
        # pinned now: ONLY the one-row-per-component census result —
        # the edge frame and dedup_clusters' surviving contraction
        # checkpoints are all released once the result materializes
        assert pinned_rdd_count(spark) - base <= 1
        rows = {r["cluster_id"]: (r["n_nodes"], r["n_edges"], r["density"])
                for r in out.collect()}
        assert rows[1] == (3, 2, pytest.approx(2 * 2 / (3 * 2)))
        assert rows[10] == (2, 1, 1.0)
        assert rows[20] == (3, 3, 1.0)
        release_checkpoint(out)


class TestKcore:
    def test_textbook_shapes(self, spark):
        """Clique→k−1, cycle→2, star hub→1 (the degree-vs-core
        separation the operator exists for)."""
        from loudml_spark.pipeline.graph import kcore_numbers

        edges = ([(i, j) for i in range(6) for j in range(i + 1, 6)]
                 + [(10 + i, 10 + (i + 1) % 5) for i in range(5)]
                 + [(100, 200 + i) for i in range(20)])
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        out = {r["id"]: (r["degree"], r["core"])
               for r in kcore_numbers(df).collect()}
        assert out[0] == (5, 5)          # clique member
        assert out[10] == (2, 2)         # cycle member
        assert out[100] == (20, 1)       # high-degree, low-core hub
        assert out[200] == (1, 1)

    def test_storage_o1_in_rounds(self, spark):
        from loudml_spark.checkpoint import (
            pinned_rdd_count, release_checkpoint)
        from loudml_spark.pipeline.graph import kcore_numbers

        # long path graph → many h-index rounds to converge
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(60)], "id_a long, id_b long")
        base = pinned_rdd_count(spark)
        out = kcore_numbers(df)
        assert pinned_rdd_count(spark) - base <= 1
        assert all(r["core"] == 1 for r in out.collect())
        release_checkpoint(out)

    def test_missing_column_raises(self, spark):
        from loudml_spark import errors
        from loudml_spark.pipeline.graph import kcore_numbers

        df = spark.createDataFrame([(1, 2)], "x long, y long")
        with pytest.raises(errors.Invalid, match="missing column"):
            kcore_numbers(df)

    def test_nonconvergence_raises(self, spark):
        from loudml_spark.pipeline.graph import kcore_numbers

        # a long path needs ~n/2 h-index rounds (the endpoint 1s
        # propagate one hop per round) — 2 rounds cannot finish
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(40)], "id_a long, id_b long")
        with pytest.raises(RuntimeError, match="converge"):
            kcore_numbers(df, max_iter=2)


class TestIncrementalComponents:
    def _full(self, spark, edges):
        from loudml_spark.pipeline.dedup import dedup_clusters

        df = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
        return {(r["doc_id"], r["cluster_id"], r["is_canonical"])
                for r in dedup_clusters(df).collect()}

    def test_equals_full_recompute(self, spark):
        """The operator's whole contract: quotient-graph update ==
        CC over (standing ∪ delta), including merges across several
        standing components and brand-new nodes."""
        import random

        from loudml_spark.pipeline.dedup import dedup_clusters
        from loudml_spark.pipeline.graph import incremental_components

        rng = random.Random(4)
        standing = {(min(a, b), max(a, b))
                    for a, b in ((rng.randrange(200), rng.randrange(200))
                                 for _ in range(300)) if a != b}
        delta = {(min(a, b), max(a, b))
                 for a, b in ((rng.randrange(260), rng.randrange(150, 260))
                              for _ in range(80)) if a != b}
        sdf = spark.createDataFrame(sorted(standing),
                                    "id_a long, id_b long")
        ddf = spark.createDataFrame(sorted(delta), "id_a long, id_b long")
        labels = dedup_clusters(sdf).select("doc_id", "cluster_id")
        inc = {(r["doc_id"], r["cluster_id"], r["is_canonical"])
               for r in incremental_components(labels, ddf).collect()}
        assert inc == self._full(spark, standing | delta)

    def test_delta_internal_to_one_component_is_noop(self, spark):
        from loudml_spark.pipeline.dedup import dedup_clusters
        from loudml_spark.pipeline.graph import incremental_components

        standing = [(1, 2), (2, 3), (10, 11)]
        sdf = spark.createDataFrame(standing, "id_a long, id_b long")
        labels = dedup_clusters(sdf).select("doc_id", "cluster_id")
        ddf = spark.createDataFrame([(1, 3)], "id_a long, id_b long")
        inc = {(r["doc_id"], r["cluster_id"])
               for r in incremental_components(labels, ddf).collect()}
        assert inc == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}

    def test_new_min_id_rewrites_standing_component(self, spark):
        from loudml_spark.pipeline.dedup import dedup_clusters
        from loudml_spark.pipeline.graph import incremental_components

        sdf = spark.createDataFrame([(5, 6), (6, 7)],
                                    "id_a long, id_b long")
        labels = dedup_clusters(sdf).select("doc_id", "cluster_id")
        # new node 1 bridges in with a SMALLER id: whole component
        # must relabel to 1 (min-id labels compose)
        ddf = spark.createDataFrame([(1, 7)], "id_a long, id_b long")
        inc = {(r["doc_id"], r["cluster_id"])
               for r in incremental_components(labels, ddf).collect()}
        assert inc == {(1, 1), (5, 1), (6, 1), (7, 1)}

    def test_validation(self, spark):
        from loudml_spark import errors
        from loudml_spark.pipeline.graph import incremental_components

        lab = spark.createDataFrame([(1, 1)], "doc_id long, cluster_id long")
        bad = spark.createDataFrame([(1, 2)], "x long, y long")
        with pytest.raises(errors.Invalid, match="missing column"):
            incremental_components(lab, bad)
        good = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        with pytest.raises(errors.Invalid, match="cluster_id"):
            incremental_components(bad, good)


class TestPersistLRU:
    """The bounded-persist registry (pipeline/dedup._persist_bounded)
    is an LRU shared by the LSH signature frame AND the LM-family
    count frames (r12).  Two contracts: (1) re-registering a frame
    with the SAME analyzed plan must not create a second entry —
    both objects share one cache-manager entry, and evicting the
    older would drop the data the newer still reads; (2) the cap
    must hold with oldest-first eviction."""

    def _fresh_registry(self):
        from loudml_spark.pipeline import dedup

        saved = list(dedup._PERSISTED)
        dedup._PERSISTED.clear()
        return dedup, saved

    def test_same_plan_registers_once_and_refreshes_lru(self, spark):
        dedup, saved = self._fresh_registry()
        try:
            a = spark.range(5).persist()
            b = spark.range(5).persist()   # same analyzed plan as a
            other = spark.range(7).persist()
            dedup._persist_bounded(a)
            dedup._persist_bounded(other)
            dedup._persist_bounded(b)      # dedup + move-to-end
            assert len(dedup._PERSISTED) == 2
            # `a`'s slot was refreshed by `b`: evicting one more
            # frame must drop `other`, never the shared range(5) plan
            hashes = [h for h, _ in dedup._PERSISTED]
            assert hashes[-1] == a.semanticHash()
        finally:
            dedup.release_persisted()
            dedup._PERSISTED.extend(saved)

    def test_cap_evicts_oldest_and_unpersists(self, spark):
        dedup, saved = self._fresh_registry()
        try:
            frames = [spark.range(10 + i).persist()
                      for i in range(dedup._PERSIST_CAP + 2)]
            for f in frames:
                f.count()
                dedup._persist_bounded(f)
            assert len(dedup._PERSISTED) == dedup._PERSIST_CAP
            # the two oldest were evicted AND unpersisted
            assert frames[0].storageLevel.useMemory is False
            assert frames[1].storageLevel.useMemory is False
            assert frames[-1].storageLevel.useMemory is True
        finally:
            dedup.release_persisted()
            dedup._PERSISTED.extend(saved)


@pytest.fixture(params=["one_task", "star_loop"])
def cc_path(request, monkeypatch):
    """Run dedup_clusters on each of its two paths: the default
    threshold keeps the small test graphs on the one-task union-find
    path; a threshold of 0 forces the large-star/small-star loop."""
    from loudml_spark.pipeline import dedup

    if request.param == "star_loop":
        monkeypatch.setattr(dedup, "_UNION_FIND_MAX_EDGES", 0)
    return request.param


class TestProbeCadence2:
    """C16: the iterative operators probe/checkpoint every SECOND
    round.  These tests pin the value contract the cadence argument
    rests on — outputs IDENTICAL to an independent plain-Python
    reference (peeling / union-find / a Decimal replica of the exact
    rounding schedule) on seeded random graphs, where an off-by-one
    in convergence detection would show immediately."""

    def _rand_edges(self, seed, n_nodes=40, n_edges=90):
        import random

        rng = random.Random(seed)
        es = set()
        while len(es) < n_edges:
            a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
            if a != b:
                es.add((min(a, b), max(a, b)))
        return sorted(es)

    def test_kcore_equals_peeling(self, spark):
        import collections

        from loudml_spark.pipeline.graph import kcore_numbers

        for seed in (1, 2, 3):
            es = self._rand_edges(seed)
            df = spark.createDataFrame(es, "id_a long, id_b long")
            got = {r["id"]: r["core"]
                   for r in kcore_numbers(df).collect()}
            # textbook peeling reference
            adj = collections.defaultdict(set)
            for a, b in es:
                adj[a].add(b)
                adj[b].add(a)
            deg = {u: len(vs) for u, vs in adj.items()}
            core, live = {}, set(adj)
            k = 0
            while live:
                k += 1
                changed = True
                while changed:
                    changed = False
                    for u in sorted(live):
                        if deg[u] < k:
                            core[u] = k - 1
                            live.discard(u)
                            for w in adj[u]:
                                if w in live:
                                    deg[w] -= 1
                            changed = True
            assert got == core, f"seed {seed}"

    @staticmethod
    def _union_find(es):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in es:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {u: find(u) for u in parent}

    def test_clusters_equal_union_find(self, spark, cc_path):
        from loudml_spark.pipeline.dedup import dedup_clusters

        for seed in (4, 5, 6):
            es = self._rand_edges(seed, n_nodes=60, n_edges=70)
            df = spark.createDataFrame(es, "id_a long, id_b long")
            stats = {}
            got = {r["doc_id"]: r["cluster_id"]
                   for r in dedup_clusters(df, stats=stats).collect()}
            assert (stats["rounds"] == 0) == (cc_path == "one_task")
            assert got == self._union_find(es), f"seed {seed}"

    def test_component_stats_equal_union_find_census(self, spark,
                                                      cc_path):
        import collections

        for seed in (7, 8):
            es = self._rand_edges(seed, n_nodes=50, n_edges=60)
            df = spark.createDataFrame(es, "id_a long, id_b long")
            out = component_stats(df)
            got = {r["cluster_id"]: (r["n_nodes"], r["n_edges"],
                                     r["density"])
                   for r in out.collect()}
            release_checkpoint(out)
            label = self._union_find(es)
            n = collections.Counter(label.values())
            m = collections.Counter(label[a] for a, _ in es)
            want = {c: (n[c], m[c],
                        pytest.approx(2 * m[c] / (n[c] * (n[c] - 1)),
                                      abs=1e-6))
                    for c in n if n[c] >= 2}
            assert got == want, f"seed {seed}"

    def test_small_graph_labels_in_at_most_four_jobs(self, spark):
        """The one-task path's point: a 70-edge graph is labeled by a
        fixed handful of Spark jobs, not a job floor per contraction
        round (23 jobs before)."""
        from loudml_spark.pipeline.dedup import dedup_clusters

        sc = spark.sparkContext
        es = self._rand_edges(4, n_nodes=60, n_edges=70)
        df = spark.createDataFrame(es, "id_a long, id_b long")
        group = "dedup-clusters-small-graph"
        sc.setJobGroup(group, "dedup_clusters on a 70-edge graph")
        try:
            got = {r["doc_id"]: r["cluster_id"]
                   for r in dedup_clusters(df).collect()}
        finally:
            sc._jsc.clearJobGroup()
        assert got == self._union_find(es)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4

    def test_pagerank_equals_decimal_replica(self, spark):
        """Bit-exact trajectory vs a Decimal replica of the operator's
        rounding schedule (round-half-up at 9 dp per contribution,
        exact DECIMAL sums) — checkpoint cadence must not touch the
        arithmetic."""
        import collections
        from decimal import ROUND_HALF_UP, Decimal

        from loudml_spark.pipeline.graph import pagerank

        def r9(x):
            return float(Decimal(repr(x)).quantize(
                Decimal("1e-9"), rounding=ROUND_HALF_UP))

        for seed, n_iter in ((7, 1), (8, 4), (9, 5)):
            es = self._rand_edges(seed, n_nodes=25, n_edges=40)
            df = spark.createDataFrame(es, "id_a long, id_b long")
            got = {r["id"]: r["pagerank"]
                   for r in pagerank(df, n_iter=n_iter).collect()}
            adj = collections.defaultdict(set)
            for a, b in es:
                adj[a].add(b)
                adj[b].add(a)
            n = len(adj)
            base = (1.0 - 0.85) / n
            ranks = {u: r9(1.0 / n) for u in adj}
            for _ in range(n_iter):
                s = collections.defaultdict(Decimal)
                for u, vs in adj.items():
                    c = Decimal(repr(r9(ranks[u] / len(vs)))).quantize(
                        Decimal("1e-9"), rounding=ROUND_HALF_UP)
                    for v in vs:
                        s[v] += c
                ranks = {v: r9(base + 0.85 * float(sv))
                         for v, sv in s.items()}
            assert got == ranks, f"seed {seed} n_iter {n_iter}"
