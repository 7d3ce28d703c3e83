"""Graph connectivity at scale — the two-star alternation.

Connected components by min-label propagation converge in O(diameter)
rounds, which degenerates on adversarial long-chain graphs: a
10⁶-node path needs 10⁶ rounds. The large-star/small-star alternation
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) restructures the edge set itself each round and converges in
O(log n) rounds regardless of diameter — the CC you'd actually run on
a 100 TB pair graph whose shape you don't control, and the package's
only CC (``dedup`` routes its duplicate clusters through it).

Each operation is one groupBy shuffle over the current edge frame:

- large-star(u): every neighbor v > u re-attaches to
  m = min(N(u) ∪ {u});
- small-star(u): edges point large→small; u and its smaller
  neighbors all attach to m = min(N(u) ∪ {u}).

Both preserve connectivity and strictly shrink a potential function,
so alternation reaches a fixpoint where every component is a star
centered on its minimum id. Every round loop here (CC, k-core,
PageRank, BFS) goes through ``plans.session.run_rounds``, which
sizes the loop's shuffles, checkpoints each round and detects the
fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.session import counted_checkpoint, run_rounds


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round over canonical (u, v) edges.

    ``m = min(N(u) ∪ {u})`` is a WINDOW min over the neighborhood
    partition instead of a groupBy + join-back: one exchange on ``u``
    per star instead of two plus a per-round broadcast barrier for
    the tiny m-relation (guide §2.4 — two operations keyed the same
    way share one exchange). Row set identical: every (v > u) edge
    re-attaches to the same m either way.

    Skew tradeoff: a window min gives up the map-side partial
    aggregation a groupBy min gets, so a hub's whole neighbourhood
    lands in one partition — and the star rounds deliberately
    concentrate edges onto component representatives. On power-law
    graphs at production scale that partition is a straggler and
    spill risk; a salted two-phase min or the groupBy + join shape
    avoids it."""
    from pyspark.sql import Window

    b = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = F.min(F.least("v", "u")).over(Window.partitionBy("u"))
    return (
        b.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient edges large→small first. Window
    min per neighborhood, as in :func:`_large_star`; the self edge
    (u, m) is emitted per input row and deduplicated by the final
    distinct — same set as the former one-row-per-u join shape. Same
    skew tradeoff as :func:`_large_star`: no map-side partial
    aggregation, so a hub's whole neighbourhood lands in one
    partition."""
    from pyspark.sql import Window

    d = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    dm = d.withColumn(
        "m", F.min("v").over(Window.partitionBy("u"))
    )
    nbr = dm.select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_ = dm.select(F.col("u"), F.col("m").alias("v"))
    return (
        nbr.unionByName(self_)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_twostar(pairs: DataFrame, a_col: str = "doc_a",
                                 b_col: str = "doc_b",
                                 max_iter: int = 25) -> DataFrame:
    """Connected components via large-star/small-star alternation.

    Returns (doc_id, cluster_id) with cluster_id = the component's
    minimum id, in O(log n) rounds instead of O(diameter).

    Convergence probe: (count, Σ label, Σ pair-hash) of each round's
    edges, observed by the round's checkpoint job — equal consecutive
    probes mean the edge multiset is unchanged (hash-collision odds
    negligible), i.e. the alternation hit its fixpoint. No frame diff
    needed. Raises ``RuntimeError`` if ``max_iter`` rounds do not
    reach it."""
    raw = pairs.select(
        F.col(a_col).alias("u"), F.col(b_col).alias("v")
    ).localCheckpoint()
    # vertices come from the RAW pairs: a self-pair (x, x) contributes
    # the vertex x (its own singleton cluster) but no edge
    verts = (
        raw.select(F.col("u").alias("doc_id"))
        .unionByName(raw.select(F.col("v").alias("doc_id")))
        .distinct()
    )
    edges, n_edges = counted_checkpoint(
        raw.filter(F.col("u") != F.col("v")).distinct()
    )
    edges = run_rounds(
        lambda e: _small_star(_large_star(e)), edges, n_edges, max_iter,
        probe=(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ),
    )
    # fixpoint edges form stars (u → root). Isolated-in-pairs nodes
    # can't occur (every vertex came from a pair), but roots carry no
    # outgoing edge — they label themselves via the left join.
    roots = edges.groupBy("u").agg(F.min("v").alias("_root"))
    return verts.join(
        roots, verts.doc_id == roots.u, "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("_root"), F.col("doc_id")).alias("cluster_id"),
    )


def mutual_edges(edges: DataFrame, src_col: str = "src",
                 dst_col: str = "dst") -> DataFrame:
    """Keep only RECIPROCATED directed edges, undirected (src < dst).

    The mutual-kNN filter: in an approximate k-NN graph, a one-way
    edge often just means the target sits in a dense region (hubness);
    requiring both directions is the standard robustness step before
    clustering on the graph. One self-join on the (already shuffled)
    edge key — no new shuffle axis."""
    rev = edges.select(
        F.col(dst_col).alias(src_col), F.col(src_col).alias(dst_col)
    )
    return (
        edges.select(src_col, dst_col)
        .join(rev, [src_col, dst_col])
        .filter(F.col(src_col) < F.col(dst_col))
        .distinct()
    )


def pagerank_fixedpoint(edges: DataFrame, src_col: str = "src",
                        dst_col: str = "dst", iterations: int = 3,
                        damping_pct: int = 85,
                        scale: int = 10 ** 9) -> DataFrame:
    """PageRank in fixed-point integer arithmetic — node importance
    over an entity graph (here: the customer↔supplier co-purchase
    network; same shape works for any join-derived edge list).

    Ranks are held as integer ``scale``-ths and every step uses only
    integer ops (``div`` truncation, integer sums), so the result is
    bit-identical on ANY engine and across reruns — float PageRank is
    not (per-node contribution sums accumulate in partition order, and
    a rounding flip near a rank boundary reorders the top-k). That
    reproducibility is the same property the dedup/sampling operators
    guarantee, and at 100 TB it is what makes an importance score
    usable as a stable filter threshold in a curation pipeline.

    Per iteration: one join of ranks onto edges (both sides hashed on
    the node key) and one groupBy sum — O(E) shuffle per round, the
    standard distributed PageRank shape. Frames are localCheckpoint-ed
    per round (iterative-lineage discipline, as above). Nodes without
    out-edges leak their damped mass (the classic simplification);
    symmetrize the edge list if dangling nodes matter."""
    e, n_edges = counted_checkpoint(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
    )
    nodes, n = counted_checkpoint(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if n == 0:
        # no edges, no nodes: a typed empty (node, rank) frame
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    r0 = scale // n
    base = ((100 - damping_pct) * r0) // 100
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # fold the (static) out-degree into the edge list ONCE: each round
    # then needs a single rank join instead of re-joining deg to rank
    # first — one O(E) shuffle saved per iteration
    ed = (
        e.join(deg, e.src == deg.node)
        .select("src", "dst", "deg")
        .localCheckpoint()
    )

    def step(rank):
        sums = (
            ed.join(rank, ed.src == rank.node)
            .select(F.col("dst"), F.expr("rank div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        return nodes.join(sums, nodes.node == sums.dst, "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(f"({damping_pct} * coalesce(s, 0)) div 100")
            ).cast("long").alias("rank"),
        )

    # each round is O(E) work, so its shuffles are sized to the edge
    # count
    rank = nodes.withColumn("rank", F.lit(r0).cast("long"))
    return run_rounds(step, rank, n_edges, iterations)


def triangle_counts(edges: DataFrame, src_col: str = "src",
                    dst_col: str = "dst") -> DataFrame:
    """Per-node triangle counts via degree orientation (Cohen,
    "Graph twiddling in a MapReduce world", 2009; the node-iterator++
    scheme) — community cohesion over an entity co-occurrence graph.

    The naive wedge join explodes on hubs: a degree-d node yields
    d*(d-1)/2 wedges, and real co-occurrence graphs are heavy-tailed.
    Orienting every edge from the (degree, id)-smaller endpoint to the
    larger one caps the oriented out-degree at O(sqrt(m)), so total
    wedge work is O(m^1.5) worst case instead of sum(d^2) — the bound
    that keeps the 100 TB plan finite on a graph with million-degree
    hubs.

    Three shuffles total: degree aggregate, the wedge self-join on the
    oriented source, and the closing semi-join back against the
    oriented edge list. Each triangle is enumerated exactly once
    (its (deg,id)-minimum vertex is the wedge apex), so the per-node
    counts are exact — returns (node, n_triangles) for every node in
    at least one triangle."""
    e = (
        edges.select(
            F.least(src_col, dst_col).alias("u"),
            F.greatest(src_col, dst_col).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient each edge from the (deg, id)-smaller endpoint (a) to the
    # larger (b); carry b's order key for the wedge comparison
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ann = e.join(du, "u").join(dv, "v")
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    ed = ann.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("db"),
    )
    e1 = ed.select(
        F.col("a"), F.col("b").alias("b1"), F.col("db").alias("db1")
    )
    e2 = ed.select(
        F.col("a"), F.col("b").alias("b2"), F.col("db").alias("db2")
    )
    wedges = e1.join(e2, "a").filter(
        F.struct(F.col("db1"), F.col("b1")) < F.struct(F.col("db2"), F.col("b2"))
    )
    closing = ed.select(F.col("a").alias("b1"), F.col("b").alias("b2"))
    tri = wedges.join(closing, ["b1", "b2"], "left_semi")
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b1").alias("node")))
        .unionByName(tri.select(F.col("b2").alias("node")))
    )
    return nodes.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def k_core(edges: DataFrame, k: int, src_col: str = "src",
           dst_col: str = "dst", max_rounds: int = 20) -> DataFrame:
    """k-core decomposition by iterative peeling (Batagelj &
    Zaveršnik's algorithm, distributed as bounded-round peels): drop
    every node with degree < k, recompute degrees, repeat to fixpoint
    — the densest-subgraph screen that separates structural community
    members from incidental co-occurrence.

    Per round: one degree aggregate plus two semi-joins keyed by node
    — O(E) shuffle, sized to the edge count by ``run_rounds``.
    Convergence is an edge-count probe observed by each round's
    checkpoint job; peeling can need O(n) rounds on adversarial
    chains, so ``max_rounds`` bounds the loop and reaching it without
    a fixpoint raises ``RuntimeError`` — on co-occurrence graphs the
    fixpoint lands in a handful of rounds (their degree distribution
    collapses fast).

    Returns (node, core_deg): the members of the k-core with their
    within-core degree."""
    e, n_edges = counted_checkpoint(
        edges.select(
            F.least(src_col, dst_col).alias("u"),
            F.greatest(src_col, dst_col).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def peel(e):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        return (
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
        )

    e = run_rounds(peel, e, n_edges, max_rounds,
                   probe=(F.count(F.lit(1)).alias("n"),))
    return (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_deg"))
    )


def bfs_hops(edges: DataFrame, sources: DataFrame, rounds: int = 6,
             src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Multi-source BFS hop distances, bounded-round Bellman-Ford
    relaxation: after ``rounds`` rounds every node holds its exact
    BFS distance from the nearest source IF that distance is
    <= rounds (the bounded-frontier contract — both engines run the
    same fixed round count, so results agree even short of the
    fixpoint). The reachability radius query behind 'how close is
    every entity to the hub set'.

    Per round: one join of the current distance frame onto the
    symmetrized edge list + one min-aggregate — O(E) shuffle, sized
    to the edge count like every iterative operator here.
    Returns (node, hops) for nodes within ``rounds`` of a source."""
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    sym, n_edges = counted_checkpoint(e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct())
    d = sources.select(
        F.col(sources.columns[0]).alias("node"),
        F.lit(0).alias("h"),
    ).localCheckpoint()

    def relax(d):
        relaxed = sym.join(d, sym.u == d.node).select(
            F.col("v").alias("node"), (F.col("h") + 1).alias("h")
        )
        return d.unionByName(relaxed).groupBy("node").agg(
            F.min("h").alias("h")
        )

    d = run_rounds(relax, d, n_edges, rounds)
    return d.select("node", F.col("h").cast("int").alias("hops"))


def common_neighbor_topk(edges: DataFrame, k: int = 25,
                         min_center_cap: int = 64,
                         src_col: str = "src",
                         dst_col: str = "dst") -> DataFrame:
    """Link prediction by common-neighbor counting: the top-k
    NON-adjacent node pairs ranked by how many neighbors they share,
    with the exact Jaccard coefficient ``cn / (deg(u)+deg(v)-cn)``
    as the tie-scoring signal — the classic "who should be
    connected" primitive (Liben-Nowell & Kleinberg, CIKM'03) over an
    entity co-occurrence graph.

    Scale shape: candidate pairs are enumerated as wedges through a
    shared neighbor w, which costs Σ_w deg(w)² and explodes on hubs.
    The lever is the adaptive center cap — wedge centers are limited
    to deg(w) <= max(min_center_cap, floor(sqrt(m))), which bounds
    total wedge work at cap·Σdeg = O(m^1.5) (the triangle-counting
    bound) while dropping only super-hub centers, whose shared-ness
    carries near-zero link signal (a neighbor shared with everyone
    distinguishes nothing — the same reason Adamic-Adar discounts
    high-degree witnesses). The cap formula is replayed verbatim by
    the oracle, and Jaccard uses the FULL degrees, so published
    scores are exact for every surviving pair. Driver holds one
    scalar (the edge count); three shuffles total (degree agg, wedge
    join, pair count) before the bounded top-k.
    """
    import math

    e = (
        edges.select(
            F.least(src_col, dst_col).alias("u"),
            F.greatest(src_col, dst_col).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    m = e.count()
    cap = max(min_center_cap, math.floor(math.sqrt(float(m))))
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    adj = e.select(F.col("u").alias("w"), F.col("v").alias("x")).unionByName(
        e.select(F.col("v").alias("w"), F.col("u").alias("x"))
    )
    centers = adj.join(
        deg.filter(F.col("deg") <= cap).select(F.col("node").alias("w")),
        "w",
        "left_semi",
    )
    a1 = centers.select("w", F.col("x").alias("u"))
    a2 = centers.select("w", F.col("x").alias("v"))
    wedges = a1.join(a2, "w").filter(F.col("u") < F.col("v"))
    cn = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("cn")
    )
    cand = cn.join(e, ["u", "v"], "left_anti")
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    scored = cand.join(du, "u").join(dv, "v").selectExpr(
        "u", "v", "CAST(cn AS BIGINT) AS cn",
        "CAST(du AS BIGINT) AS deg_u", "CAST(dv AS BIGINT) AS deg_v",
        "CAST(floor((CAST(cn AS DOUBLE) * 1000000.0)"
        " / CAST((du + dv) - cn AS DOUBLE)) AS BIGINT) AS jaccard_fp",
    )
    return scored.orderBy(
        F.desc("cn"), F.desc("jaccard_fp"), "u", "v"
    ).limit(k)
