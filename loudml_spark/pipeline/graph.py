"""Graph analytics over similarity/link pair frames: PageRank.

The reference has no graph surface at all; the curation pipeline
grows one naturally — the MinHash-LSH pair frame (pipeline/dedup.py
minhash_lsh_pairs) IS an edge list, and centrality over it answers
"which document is the hub of this near-duplicate neighborhood?"
(a better survivorship key than min-id) the same way PageRank
(Brin & Page, WWW 1998) answers it for the web graph.

Scale design: the classic Pregel-style shape — the edge frame is
checkpointed once, partitioned by source id, and every power
iteration is ONE equi-join of the (bounded, one-row-per-node) rank
frame against it plus ONE aggregation back to node keys.  No
adjacency matrix, no driver-side graph; 5 iterations = 5 bounded
shuffles, each reusing the same key.

Exactness: per-edge contributions round at ``round_to`` and sum as
DECIMAL — addition-order-independent, so ranks are bit-stable under
repartitioning AND reproduce exactly in the DuckDB oracle (the
repo-wide DECIMAL-routed-sum idiom).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loudml_spark import errors
from loudml_spark.checkpoint import release_checkpoint


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    weight_col: str | None = None,
    damping: float = 0.85,
    n_iter: int = 5,
    round_to: int = 9,
) -> DataFrame:
    """Undirected PageRank by fixed-count power iteration, optionally
    EDGE-WEIGHTED (``weight_col``, e.g. the jaccard column the LSH
    pair frame already carries — a 0.95 near-duplicate link should
    pull more rank than a 0.80 one).

    The edge list is symmetrized (each input pair contributes both
    directions), nodes are the distinct endpoints, and every node
    starts at 1/N.  Each iteration computes

        r'(v) = (1 - d)/N + d * Σ_{u~v} round(r(u) · w(u,v)/W(u),
                                               round_to)

    where unweighted w ≡ 1 gives W(u) = deg(u) (the classic form).
    Weights are rounded to 6 dp ONCE up front and that rounded value
    feeds BOTH the per-edge numerator and W(u) = Σ_x w(u,x), which
    is summed as DECIMAL(18,6) — so Σ_v w(u,v)/W(u) = 1 exactly
    (no rank mass leaks through numerator/denominator precision
    mismatch) and the whole trajectory is deterministic
    cross-engine (per-edge contributions round at ``round_to`` and
    sum as DECIMAL).  A symmetric graph has no dangling nodes
    (every node has degree ≥ 1), so no dangling-mass term is
    needed.

    Weighted-input contract (validated eagerly when ``weight_col``
    is set, one aggregation over the checkpointed edge frame):
    weights must be positive and non-null, and no (src, dst) pair
    may appear with two different (6dp-rounded) weights — duplicate
    pairs would silently survive symmetrization as parallel edges
    that each add to W(u) and the rank sum.  Violations raise
    :class:`~loudml_spark.errors.Invalid`; dedupe upstream (e.g.
    max/avg weight per pair) first.

    Checkpoint lifecycle: every SECOND iteration (and the last)
    EAGERLY ``localCheckpoint``-s the rank frame (the textrank
    lineage idiom — the plan stays at most two join+agg layers deep
    however large ``n_iter`` grows, and the materialization job runs
    n_iter/2 times instead of n_iter; checkpoint placement does not
    touch the arithmetic, so the trajectory is bit-identical), then
    releases the superseded checkpoint's blocks
    (:mod:`loudml_spark.checkpoint`) — block-manager storage is
    O(1) in ``n_iter``, not ~n_iter pinned node-frame copies; the
    edge frame's checkpoint is released after the last iteration
    (the returned frame scans only the final rank checkpoint).

    Output: one row per node — (id, pagerank).  Σ pagerank ≈ 1 up
    to rounding drift.
    """
    if not 0.0 < damping < 1.0:
        raise errors.Invalid(f"damping must be in (0,1), got {damping}")
    if n_iter < 1:
        raise errors.Invalid(f"n_iter must be >= 1, got {n_iter}")
    cols = [src_col, dst_col] + ([weight_col] if weight_col else [])
    for c in cols:
        if c not in edges.columns:
            raise errors.Invalid(f"missing column {c!r}")

    # 6dp rounding up front: the SAME value feeds numerator and
    # W(u), and DECIMAL(18,6) accumulation of it is exact
    w = (F.round(F.col(weight_col).cast("double"), 6) if weight_col
         else F.lit(1.0))
    # EAGER checkpoint of the projected edge frame BEFORE
    # symmetrizing: the two union branches are separate subtrees, so
    # a lazy checkpoint materializes them as racing tasks in ONE job
    # and the CALLER's pair pipeline (for the LSH near-dup graph, the
    # exact-Jaccard verify — measured ~185 CPU-s per evaluation at
    # sf0.1) evaluates up to twice.  One bounded extra job computes
    # it exactly once with full parallelism; both branches then read
    # the cached blocks (guide §1.2: don't compute things twice).
    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst"),
                     w.alias("w")).localCheckpoint()
    sym = (
        e
        .unionByName(e.select(F.col("dst").alias("src"),
                              F.col("src").alias("dst"),
                              F.col("w")))
        .distinct()
        # lazy: the combined probe below scans symw → sym and
        # materializes both checkpoints in one job — same blocks
        # pinned, one fewer job than an eager checkpoint + action
        .localCheckpoint(eager=False)
    )
    # W(u): exact DECIMAL sum of (already-rounded) edge weights —
    # with w ≡ 1 this is exactly the integer degree.  W(u) is
    # attached to every edge ONCE and the (src, dst, w, wsum) frame
    # checkpointed: the power loop used to join `deg` back per
    # iteration, re-running this aggregation over the full edge
    # frame n_iter times (guide §2.4 — do keyed work once, reuse the
    # exchange).  The SAME wsum doubles feed the SAME contribution
    # expression, so the rank trajectory is bit-identical.
    deg = sym.groupBy("src").agg(
        F.sum(F.col("w").cast("decimal(18,6)")).cast("double")
        .alias("wsum"))
    symw = sym.join(deg, "src").localCheckpoint(eager=False)
    # ONE probe materializes symw, validates the weighted-input
    # contract and counts nodes (previously: validation agg +
    # nodes.count() = two full-edge actions).  Duplicate (src,dst)
    # pairs with differing rounded weights survive the distinct()
    # above as parallel edges (corrupting W(u) and the rank sum),
    # and nonpositive/null weights corrupt or zero W(u) — both are
    # input errors, not graphs.
    aggs = [F.count_distinct("src").alias("n_nodes")]
    if weight_col:
        aggs += [F.count("*").alias("rows"),
                 F.count_distinct("src", "dst").alias("pairs"),
                 F.count("w").alias("nonnull"),
                 F.min("w").alias("wmin")]
    chk = symw.agg(*aggs).first()
    # symw is materialized now; sym's and e's blocks are dead either way
    release_checkpoint(sym)
    release_checkpoint(e)
    if weight_col:
        try:
            if chk["nonnull"] != chk["rows"]:
                raise errors.Invalid(
                    f"{weight_col!r} has {chk['rows'] - chk['nonnull']} "
                    "null weights — every edge must carry a weight")
            if chk["pairs"] != chk["rows"]:
                raise errors.Invalid(
                    f"{chk['rows'] - chk['pairs']} duplicate "
                    f"({src_col},{dst_col}) pairs with differing "
                    f"{weight_col!r} values (at 6dp) — dedupe per pair "
                    "(e.g. max/avg weight) before pagerank")
            if chk["wmin"] is not None and chk["wmin"] <= 0.0:
                raise errors.Invalid(
                    f"nonpositive edge weight {chk['wmin']} in "
                    f"{weight_col!r} — weights must be > 0")
        except errors.Invalid:
            release_checkpoint(symw)
            raise
    n = chk["n_nodes"]
    nodes = symw.select(F.col("src").alias("id")).distinct()
    if n == 0:
        return nodes.withColumn("pagerank", F.lit(None).cast("double"))

    # 1/N and (1-d)/N are single IEEE divisions — identical in
    # Python, Spark and DuckDB for the same inputs
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("r", F.round(F.lit(1.0 / n), round_to))
    dec = f"decimal(28,{round_to})"
    # unweighted keeps the exact legacy expression r / deg (wsum of
    # 1.0-weights is exactly the integer degree); weighted is
    # r * (w / W) with the same parenthesization the SQL mirror uses
    cexpr = (F.col("r") * (F.col("w") / F.col("wsum")) if weight_col
             else F.col("r") / F.col("wsum"))
    prev = None
    for i in range(n_iter):
        contrib = (
            symw.join(ranks.withColumnRenamed("id", "src"), "src")
            .select(
                F.col("dst").alias("id"),
                F.round(cexpr, round_to).cast(dec).alias("c"),
            )
        )
        ranks = (
            contrib.groupBy("id")
            .agg(F.sum("c").alias("s"))
            .select(
                "id",
                F.round(
                    F.lit(base)
                    + F.lit(damping) * F.col("s").cast("double"),
                    round_to,
                ).alias("r"),
            )
        )
        # truncate rank lineage every SECOND iteration (and on the
        # last): the plan never grows past two join+agg layers — the
        # same analyzer-safety the per-iteration checkpoint bought —
        # but the eager materialization job runs n_iter/2 times, not
        # n_iter (per-job overhead is the measured floor of these
        # node-sized iterations at bench scale; checkpoint placement
        # does not touch the arithmetic, so the trajectory is
        # bit-identical).  EAGER so the superseded checkpoint's
        # blocks release immediately — storage stays O(1) in n_iter.
        if i % 2 == 1 or i == n_iter - 1:
            ranks = ranks.localCheckpoint()
            release_checkpoint(prev)    # no-op on the first pair
            prev = ranks
    # the returned frame scans only the final rank checkpoint — the
    # edge+wsum frame (and nodes derived from it) is dead now
    release_checkpoint(symw)
    return ranks.select("id", F.col("r").alias("pagerank"))


def sql_pagerank_ctes(
    pairs_cte: str,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    weight_col: str | None = None,
    damping: float = 0.85,
    n_iter: int = 5,
    round_to: int = 9,
) -> str:
    """DuckDB mirror of :func:`pagerank` as a CTE chain (the fixed
    iteration count unrolls to pr0..prK — no recursive aggregation,
    which DuckDB restricts).  ``pairs_cte`` names an earlier CTE with
    ``src_col``/``dst_col`` (and ``weight_col`` if weighted) edge
    columns; the final CTE is ``pr{n_iter}`` with (id, r)."""
    base = repr((1.0 - damping))
    if weight_col:
        # mirror the Spark side's up-front 6dp rounding — the same
        # value feeds numerator and W(u)
        wsel_a = f", ROUND(CAST({weight_col} AS DOUBLE), 6) AS w"
        wsel_b = f", ROUND(CAST({weight_col} AS DOUBLE), 6)"
        deg = ("deg AS (SELECT src, CAST(SUM(CAST(w AS "
               "DECIMAL(18,6))) AS DOUBLE) AS deg "
               "FROM edges GROUP BY src)")
        cexpr = f"ROUND(p.r * (e.w / d.deg), {round_to})"
    else:
        wsel_a = wsel_b = ""
        deg = "deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)"
        cexpr = f"ROUND(p.r / d.deg, {round_to})"
    parts = [f"""edges AS (
  SELECT {src_col} AS src, {dst_col} AS dst{wsel_a} FROM {pairs_cte}
  UNION
  SELECT {dst_col}, {src_col}{wsel_b} FROM {pairs_cte}
),
{deg},
nodes AS (SELECT DISTINCT src AS id FROM edges),
nn AS (SELECT COUNT(*) AS n FROM nodes),
pr0 AS (
  SELECT id, ROUND(CAST(1.0 AS DOUBLE) / nn.n, {round_to}) AS r
  FROM nodes, nn
)"""]
    for t in range(n_iter):
        parts.append(f"""pr{t + 1} AS (
  SELECT e.dst AS id,
         ROUND(CAST({base} AS DOUBLE) / (SELECT n FROM nn)
               + CAST({damping!r} AS DOUBLE)
                 * CAST(SUM(CAST({cexpr}
                                 AS DECIMAL(28,{round_to})))
                        AS DOUBLE), {round_to}) AS r
  FROM pr{t} p
  JOIN edges e ON e.src = p.id
  JOIN deg d ON d.src = p.id
  GROUP BY e.dst
)""")
    return ",\n".join(parts)


def triangle_stats(
    pairs: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over
    an undirected pair graph — the density audit for a near-dup
    graph: a node whose neighbors are also near-dups of EACH OTHER
    (coefficient → 1) sits in a mirror/template cluster, while a
    hub with coefficient → 0 chains unrelated docs (the classic
    false-positive shape for over-eager LSH bands).  Complements
    :func:`pagerank`: rank says how central, the coefficient says
    how cliquish.

    Algorithm: the standard distributed edge-join triangle count
    with DEGREE-ORDERED orientation (Chiba & Nishizeki 1985;
    Schank & Wagner 2005): every edge is directed from its
    lower-degree endpoint (ties by id), which makes "orientation
    order" a total order ≺ and counts each triangle exactly once as
    x ≺ y ≺ z — join oriented edges (a,b)⋈(b,c) into wedges, then
    one equi-join of wedge closures (a,c) against the oriented edge
    set.  All equi-joins on node ids.  Why degree order and not id
    order: wedge volume under id order is Σ_b deg⁺(b)² with deg⁺
    unbounded — a hub whose id sorts low fans out deg² wedges, and
    hubs are exactly what this operator exists to diagnose
    (over-eager LSH bands).  Degree order bounds every out-degree by
    O(√m), so total wedge volume is O(m^1.5) REGARDLESS of the
    degree distribution — a hub sorts LAST, collects in-edges, and
    fans out nothing.  The orientation costs one extra equi-join of
    the edge frame against the degree frame the operator already
    computes.

    Output: (id, degree, n_triangles, coeff) where coeff =
    2·T / (deg·(deg−1)), 0 when deg < 2 — exact integer counts
    through one IEEE division.  Orientation changes the join plan
    only — the triangle SET is orientation-invariant, so outputs are
    bit-identical to the id-ordered form."""
    for c in (src_col, dst_col):
        if c not in pairs.columns:
            raise errors.Invalid(f"missing column {c!r}")
    # checkpoint discipline: `e` is consumed by both union branches,
    # `deg` by three subtrees and `eo` by three (both wedge sides +
    # the closure join).  Without materialization every reference
    # re-expands the CALLER'S pair pipeline — for the LSH near-dup
    # graph that was a 5000-line / 394-Exchange plan re-running the
    # Arrow shingle pass 160× (plans/r12/triangle_stats_docs_*).
    # Lazy checkpoints share one RDD per frame, the single eager
    # materialization of the (node-sized) result computes them all
    # exactly once, and every pinned block is released before
    # returning (the component_stats lifecycle).
    e = (
        pairs.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # EAGER: `und`'s two union branches are separate subtrees
        # racing to materialize a lazy checkpoint inside one job —
        # the caller's pair pipeline (the dominant cost for LSH
        # graphs) would evaluate up to twice.  One bounded job
        # computes it exactly once (the pagerank rationale).
        .localCheckpoint()
    )
    und = e.select("a", "b").union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy("a").agg(
        F.count("*").cast("long").alias("degree")) \
        .withColumnRenamed("a", "id") \
        .localCheckpoint(eager=False)
    # orient each undirected edge from its lower-(degree, id)
    # endpoint: keeps exactly one direction per edge and bounds
    # every out-degree by O(sqrt(m))
    eo = (
        und
        .join(deg.select(F.col("id").alias("a"),
                         F.col("degree").alias("__da")), "a")
        .join(deg.select(F.col("id").alias("b"),
                         F.col("degree").alias("__db")), "b")
        .filter((F.col("__da") < F.col("__db"))
                | ((F.col("__da") == F.col("__db"))
                   & (F.col("a") < F.col("b"))))
        .select("a", "b")
        .localCheckpoint(eager=False)
    )
    wedges = (
        eo.alias("x")
        .join(eo.alias("y"), F.col("x.b") == F.col("y.a"))
        .select(F.col("x.a").alias("a"), F.col("x.b").alias("b"),
                F.col("y.b").alias("c"))
    )
    tri = wedges.join(
        eo.select(F.col("a").alias("a2"), F.col("b").alias("c2")),
        (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")),
    ).select("a", "b", "c")
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    out = (
        deg.join(per_node, "id", "left")
        .select(
            "id", "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long")
            .alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                2.0 * F.coalesce("n_triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)))
            .otherwise(F.lit(0.0)).alias("coeff"))
        # one row per node — materialize, then release everything
        .localCheckpoint()
    )
    for f in (e, deg, eo):
        release_checkpoint(f)
    return out


def component_stats(
    pairs: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    round_to: int = 6,
) -> DataFrame:
    """Connected-component census over an undirected pair graph —
    the graph family's third lens next to :func:`pagerank`
    (centrality) and :func:`triangle_stats` (cliquishness): one row
    PER COMPONENT with its size, edge count and internal density.
    For a near-dup graph this is the cluster-shape audit: density
    → 1 marks true mirror sets (every pair verified), a large
    sparse component (density → 0 at big n) is the chained
    false-positive blob over-eager LSH bands produce — the
    component-level complement of triangle_stats' per-node
    coefficient.

    Algorithm: component labels from :func:`loudml_spark.pipeline.
    dedup.dedup_clusters` (reused, not re-implemented) — one
    union-find task when the edge frame is at or below its measured
    ``_UNION_FIND_MAX_EDGES`` bound, the log-round large-star/
    small-star contraction above it — then ONE label-keyed
    aggregation for nodes and one equi-join + aggregation for edges.
    density = 2·m_c / (n_c·(n_c−1)) — exact integer counts through
    one IEEE division.

    Output: (cluster_id, n_nodes, n_edges, density) for components
    with ≥ 2 nodes (singletons have no edges and no density).

    Eager by design: :func:`~loudml_spark.pipeline.dedup.
    dedup_clusters` already runs its entry probe (and, on a large
    graph, the contraction rounds) at call time, so the census
    materializes its (one-row-per-component) result as a final eager
    ``localCheckpoint`` and releases the edge frame's pinned blocks
    before returning — nothing stays in the block manager but the
    component table itself."""
    from loudml_spark.pipeline.dedup import dedup_clusters

    for c in (src_col, dst_col):
        if c not in pairs.columns:
            raise errors.Invalid(f"missing column {c!r}")
    e = (
        pairs.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # lazy: dedup_clusters' entry probe is the next action and
        # scans e — it materializes the checkpoint (one fewer job)
        .localCheckpoint(eager=False)   # labels + edge join reuse it
    )
    cc_stats: dict = {}
    labels = dedup_clusters(e.selectExpr("a as id_a", "b as id_b"),
                            stats=cc_stats)
    nodes = labels.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_nodes"))
    edges = (
        e.join(labels.selectExpr("doc_id as a", "cluster_id"), "a")
        .groupBy("cluster_id")
        .agg(F.count("*").cast("long").alias("n_edges"))
    )
    out = (
        nodes.join(edges, "cluster_id")
        .filter(F.col("n_nodes") >= 2)
        .select(
            "cluster_id", "n_nodes", "n_edges",
            F.round(
                2.0 * F.col("n_edges")
                / (F.col("n_nodes") * (F.col("n_nodes") - 1)),
                round_to).alias("density"))
        # one row per component — materialize it, then drop the
        # edge frame's pinned blocks AND the contraction's two
        # surviving edge checkpoints (nothing scans them anymore)
        .localCheckpoint()
    )
    release_checkpoint(e)
    for f in cc_stats.get("checkpoint_frames", ()):
        release_checkpoint(f)
    return out


def kcore_numbers(
    pairs: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 100,
) -> DataFrame:
    """Core number (coreness) per node over an undirected pair graph
    — the graph family's fourth lens next to :func:`pagerank`
    (centrality), :func:`triangle_stats` (cliquishness) and
    :func:`component_stats` (component shape): the k-core is the
    maximal subgraph where every node keeps ≥ k neighbors, and a
    node's core number separates "hub of a dense near-dup mass"
    (high coreness — a template/mirror family worth one survivor)
    from "high-degree chain hub" (high degree, LOW coreness — the
    classic over-eager-LSH-band false-positive shape that degree
    alone cannot distinguish).

    Algorithm: the h-index fixpoint (Lü, Zhou, Zhang & Stanley,
    "The H-index of a network node and its relation to degree and
    coreness", Nature Communications 2016 — public): initialize
    v₀(u) = deg(u); iterate v_{t+1}(u) = H({v_t(w) : w ~ u}), the
    h-index of the neighbor values (the largest h such that ≥ h
    neighbors have value ≥ h).  The sequence is monotone
    non-increasing and converges exactly to the core number.  Why
    this form and not textbook peeling: peeling is inherently
    sequential (delete min-degree nodes one k at a time — O(k_max ·
    rounds) global barriers); the h-index iteration is one
    edge-keyed equi-join + one per-node ranked reduction per round,
    every shuffle on the node key, and converges in O(diameter)-ish
    rounds on real graphs.  The per-round frame is one row per node;
    lineage is truncated with eager localCheckpoints whose
    superseded copies are released immediately
    (:mod:`loudml_spark.checkpoint` — storage O(1) in rounds), and
    the convergence probe (count + two independent xxhash64
    checksums, the dedup_clusters idiom) rides one action per round
    (both round-batching cadences were measured worse — see the loop
    comment).  Raises after ``max_iter`` rounds — a silent partial
    fixpoint would understate coreness downstream.

    Exactness: all-integer arithmetic (degrees, ranks, mins/maxes)
    — no rounding surface at all; the DuckDB oracle replays textbook
    peeling in plain Python, a genuinely different algorithm whose
    agreement IS the correctness argument.

    Output: (id, degree, core) — degree for the hub-vs-core
    contrast the operator exists to expose."""
    from pyspark.sql import Window

    from loudml_spark.checkpoint import release_checkpoint

    for c in (src_col, dst_col):
        if c not in pairs.columns:
            raise errors.Invalid(f"missing column {c!r}")
    e = (
        pairs.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # EAGER: sym's two union branches would otherwise race to
        # evaluate the caller's pair pipeline twice inside the first
        # probe job (the pagerank rationale)
        .localCheckpoint()
    )
    sym = (
        e.select("a", "b")
        .union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        # lazy: the initial probe below scans values ← deg ← sym and
        # materializes both checkpoints in ONE job (previously an
        # eager sym job + an eager values job + the probe job)
        .localCheckpoint(eager=False)   # reused every round
    )
    deg = sym.groupBy("a").agg(F.count("*").cast("int").alias("v")) \
        .withColumnRenamed("a", "id")
    values = deg.localCheckpoint(eager=False)

    def _probe(df: DataFrame) -> tuple:
        row = df.agg(
            F.count("*"),
            F.sum(F.xxhash64("id", "v").cast("decimal(20,0)")),
            F.sum(F.xxhash64(F.lit("s2"), "id", "v")
                  .cast("decimal(20,0)")),
        ).first()
        return tuple(row)

    w = Window.partitionBy("a").orderBy(F.col("vn").desc(),
                                        F.col("b").asc())

    def _hstep(vals: DataFrame) -> DataFrame:
        """One h-index round: v'(u) = H({v(w) : w ~ u})."""
        nbr = (
            sym.join(vals.select(F.col("id").alias("b"),
                                 F.col("v").alias("vn")), "b")
            .select("a", "b", "vn")
        )
        return (
            nbr.withColumn("r", F.row_number().over(w))
            .groupBy("a")
            .agg(F.max(F.least(F.col("vn"), F.col("r")))
                 .cast("int").alias("v"))
            .withColumnRenamed("a", "id")
        )

    sig = _probe(values)
    # sym (and values) are materialized by the probe — e is dead now
    release_checkpoint(e)
    prev = values
    converged = False
    # Per-round probing, deliberately — BOTH batching variants are
    # measured losses, recorded so they are not retried:
    # * r12-C16 probe-stride (probe every 2nd round): detection then
    #   needs a full no-op pair, and the 1-2 extra h-index rounds
    #   cost more than the saved probe (kcore 4.94 → 5.38 s).
    # * r13 stacked rounds (TWO h-steps per checkpoint, one 4-layer
    #   plan, stride-2 detection): kcore 4.01 → 5.08 s at sf0.1 —
    #   AQE materializes the same exchange count either way (a lazy
    #   checkpoint's upstream stages run as jobs at construction),
    #   so stacking saves only the probe, and stride-2 detection
    #   still pays the C16 no-op rounds.
    for _ in range(max_iter):
        values = _hstep(values).localCheckpoint(eager=False)
        new_sig = _probe(values)
        release_checkpoint(prev)
        prev = values
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        release_checkpoint(sym)
        raise RuntimeError(
            f"kcore_numbers did not converge in {max_iter} rounds")
    out = (
        deg.withColumnRenamed("v", "degree")
        .join(values.withColumnRenamed("v", "core"), "id")
        .select("id", F.col("degree").cast("long").alias("degree"),
                F.col("core").cast("long").alias("core"))
        .localCheckpoint()          # deg/values both scan sym —
    )                               # materialize, then release all
    release_checkpoint(values)
    release_checkpoint(sym)
    return out


def incremental_components(
    labels: DataFrame,
    delta_pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Update a STANDING component labeling with a delta edge set
    without re-contracting the full graph — the dedup family's
    incremental pattern (incremental CDC: delta vs standing corpus)
    applied to the graph family, closing the loop for a dedup
    service that ingests new documents continuously: the standing
    graph may hold billions of edges, but an ingest batch only needs
    work proportional to ITS OWN size.

    Algorithm (quotient contraction): map each delta endpoint
    through its current label (endpoints the standing labeling has
    never seen label themselves); the delta then induces a QUOTIENT
    graph whose nodes are labels — ≤ 2·|delta| of them, independent
    of standing-corpus size — and
    :func:`~loudml_spark.pipeline.dedup.dedup_clusters` (reused: one
    union-find task on a small quotient, the log-round star
    contraction on a large one) runs on that quotient only.  One
    final label-keyed equi-join rewrites just the standing rows
    whose label merged.  Min-id
    labels compose: each standing cluster_id IS its component's
    minimum, new endpoints contribute their own ids, so the quotient
    minimum equals the minimum over the merged full components —
    the output is IDENTICAL to re-running CC on (standing ∪ delta),
    which is exactly what the oracle checks.

    Output: (id_col, cluster_id, is_canonical) covering standing
    ids ∪ delta endpoints."""
    for c in (src_col, dst_col):
        if c not in delta_pairs.columns:
            raise errors.Invalid(f"missing column {c!r}")
    if id_col not in labels.columns or "cluster_id" not in labels.columns:
        raise errors.Invalid(
            f"labels needs ({id_col!r}, 'cluster_id') columns")
    from loudml_spark.pipeline.dedup import dedup_clusters

    lab = labels.select(F.col(id_col).alias("__id"),
                        F.col("cluster_id").alias("__lab"))
    # materialize the ingest batch ONCE (it is ingest-batch-sized by
    # contract): endpoint extraction, both quotient-edge joins and
    # the fresh-node branch all scan it — without this each subtree
    # re-executes the caller's (possibly expensive) pair pipeline.
    # EAGER: the first action reaches the delta through SEVERAL
    # subtrees at once (ends' two union branches, both quotient-edge
    # joins), and a lazy checkpoint materializes those as racing
    # tasks in one job — the caller's pipeline (e.g. an LSH verify)
    # evaluates up to once per subtree.  One bounded job runs it
    # exactly once (the pagerank rationale).
    delta_pairs = delta_pairs.select(src_col, dst_col) \
        .localCheckpoint()
    ends = (
        delta_pairs.select(F.col(src_col).alias("__e"))
        .unionByName(delta_pairs.select(F.col(dst_col).alias("__e")))
        .distinct()
    )
    # endpoint → current label (never-seen endpoints label themselves)
    emap = (
        ends.join(lab.withColumnRenamed("__id", "__e"), "__e", "left")
        .select("__e", F.coalesce("__lab", F.col("__e")).alias("__l"))
    )
    q_edges = (
        delta_pairs
        .join(emap.selectExpr("__e as " + src_col, "__l as __la"),
              src_col)
        .join(emap.selectExpr("__e as " + dst_col, "__l as __lb"),
              dst_col)
        .filter(F.col("__la") != F.col("__lb"))
        .selectExpr("__la as id_a", "__lb as id_b")
    )
    # quotient contraction: nodes are labels — bounded by 2·|delta|
    cc_stats: dict = {}
    q_labels = dedup_clusters(q_edges, stats=cc_stats).select(
        F.col("doc_id").alias("__lab"),
        F.col("cluster_id").alias("__new"))
    moved = (
        lab.join(q_labels, "__lab")
        .select("__id", F.col("__new").alias("cluster_id"))
    )
    kept = (
        lab.join(q_labels.select("__lab"), "__lab", "left_anti")
        .select("__id", F.col("__lab").alias("cluster_id"))
    )
    fresh = (
        emap.join(lab.withColumnRenamed("__id", "__e"), "__e",
                  "left_anti")
        .join(q_labels.withColumnRenamed("__lab", "__l"), "__l", "left")
        .select(F.col("__e").alias("__id"),
                F.coalesce("__new", F.col("__l")).alias("cluster_id"))
    )
    out = (
        moved.unionByName(kept).unionByName(fresh)
        .select(F.col("__id").alias(id_col), "cluster_id",
                (F.col("cluster_id") == F.col("__id"))
                .alias("is_canonical"))
        # eager by design (the component_stats precedent — the
        # quotient contraction already ran eager jobs): materialize
        # the labels-sized result, then release the delta checkpoint
        # and the contraction's surviving internals.  The CALLER's
        # labels frame is not ours to release.
        .localCheckpoint()
    )
    release_checkpoint(delta_pairs)
    for f in cc_stats.get("checkpoint_frames", ()):
        release_checkpoint(f)
    return out
