"""Iterative graph algorithms on DataFrames (beyond
``components.py``'s connected components): PageRank.

Spark-first shape: one hash-join + one aggregate per iteration (the
Pregel message round expressed relationally), with the out-degree
table computed once. No RDDs, no driver-side adjacency — at 100 TB
the edge list shuffles on dst once per iteration and the rank vector
stays co-partitioned with it.

Determinism contract (what makes results oracle-comparable): per-edge
contributions are DOUBLE divisions (exact given identical inputs),
but their SUM is order-dependent in float. So each contribution is
quantized to integer units of 1e-12 via ``floor(c * 1e12)`` — floor
on doubles is IEEE-exact in every engine, unlike double→decimal
rounding, which resolves representation-boundary ties differently
(see queries/__init__ numeric-parity policy) — summed exactly as
DECIMAL(38,0), and the damped update applied on the de-quantized
double. Any engine following the same recipe produces bit-identical
ranks after any number of iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import track
from .ckpt import fixpoint

__all__ = ["pagerank", "triangle_count", "triangles_per_node",
           "label_propagation", "kcore_peel", "PR_QUANT"]

PR_QUANT = 1e12  # contribution quantum: floor(c * PR_QUANT) units


def pagerank(edges: DataFrame, iterations: int = 3,
             damping: float = 0.85,
             src: str = "src", dst: str = "dst",
             distinct_edges: bool = True,
             nodes: DataFrame | None = None,
             complete_inedges: bool = False) -> DataFrame:
    """PageRank over a DIRECTED edge list (undirected graphs: pass
    both directions). Returns (node, rank) after ``iterations``
    synchronous updates from a uniform start.

    rank_0(v) = 1/N
    rank_{i+1}(v) = (1-d)/N + d * sum_{u->v} q(rank_i(u) / deg_out(u))

    with q the 1e-12 floor quantization (see module doc). Nodes with
    no in-edges keep the teleport term; dangling nodes (no out-edges)
    contribute nothing — their mass leaks, the simplest standard
    variant and the one an unrolled SQL oracle mirrors exactly.

    ``nodes``: optional precomputed (node) vertex set — when the
    caller can derive it from a table far smaller than the edge list
    (e.g. the pre-fan-out pair set), passing it skips a full edge-list
    distinct. Must equal the edge endpoints exactly.
    ``complete_inedges=True``: assert-by-contract that every node has
    at least one in-edge (always true for an undirected graph fed as
    both directions), which drops the per-iteration nodes-left-join
    teleport fallback — the aggregate already covers every node.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if distinct_edges:  # pass False when the input is distinct by
        e = e.distinct()  # construction — saves a full edge shuffle
    e = e.persist()
    if nodes is None:
        nodes = (e.select(F.col("src").alias("node"))
                  .union(e.select(F.col("dst").alias("node")))
                  .distinct())
    nodes = nodes.persist()
    adj = None
    try:
        n_total = nodes.count()
        deg = e.groupBy("src").agg(F.count("*").alias("deg"))
        # (src, dst, deg) — reused every iteration; the degree table is
        # |nodes|-sized, so it broadcasts into the edge list map-side
        small = n_total <= 5_000_000
        # lazy persist: adj is consumed exactly once per iteration, so
        # the first iteration's checkpoint job materializes the cache
        # in-line — an explicit adj.count() here was one whole extra
        # pass (r10 audit: actions per pagerank call = 1 setup count +
        # iterations, nothing per-round beyond the checkpoint itself)
        adj = e.join(F.broadcast(deg) if small else deg, "src").persist()
        teleport = (1.0 - damping) / n_total

        def rank_round(ranks, _observe):
            units = F.floor((F.col("rank") / F.col("deg"))
                            * F.lit(PR_QUANT)).cast("decimal(38,0)")
            # the rank vector is |nodes|-sized — when it fits a
            # broadcast, joining it INTO the (much larger) edge list
            # map-side removes the per-iteration edge shuffle entirely;
            # past that size the join falls back to hash-partitioning
            # both sides on src
            rside = F.broadcast(ranks) if small else ranks
            contrib = (adj.join(rside, adj.src == ranks.node)
                          .select(F.col("dst").alias("node"),
                                  units.alias("u")))
            summed = contrib.groupBy("node").agg(
                (F.lit(teleport)
                 + F.lit(damping)
                 * (F.sum("u").cast("double") / F.lit(PR_QUANT)))
                .alias("rank"))
            if complete_inedges:
                # every node received mass — the agg IS the rank vector
                return summed
            # nodes with no in-edges fall back to the teleport term
            return (nodes.join(summed, "node", "left")
                         .select("node", F.coalesce("rank", F.lit(teleport))
                                          .alias("rank")))

        ranks = nodes.select("node", F.lit(1.0 / n_total).alias("rank"))
        return fixpoint(ranks, rank_round, max_iter=iterations)
    finally:
        e.unpersist()
        nodes.unpersist()
        if adj is not None:
            adj.unpersist()


def _canonical_edges_and_degrees(edges: DataFrame, a: str,
                                 b: str) -> tuple[DataFrame, DataFrame]:
    """Canonical (x < y) distinct undirected edge list + per-node
    degrees, both persisted (each feeds two downstream subtrees).
    Persists are cache.track()ed so library callers can free them via
    release_tracked() without a global clearCache."""
    e = track(edges.select(F.least(F.col(a), F.col(b)).alias("x"),
                           F.greatest(F.col(a), F.col(b)).alias("y"))
                   .filter(F.col("x") != F.col("y"))
                   .distinct().persist())
    deg = track(e.select(F.col("x").alias("node"))
                 .unionAll(e.select(F.col("y").alias("node")))
                 .groupBy("node").agg(F.count("*").alias("d"))
                 .persist())
    return e, deg


def _orient_edges(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-ordered orientation: every canonical edge points from
    its lower-(degree, node-id) endpoint to the higher one — a total
    order, so each triangle has exactly ONE source vertex and is
    enumerated once. Returns (src, dst, dstk) with dstk the (d, n)
    struct sort key of dst (the wedge join needs it to order the two
    out-neighbors). Out-degrees under this orientation are O(sqrt(m))
    even on skewed graphs."""
    dx = deg.select(F.col("node").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("d").alias("dy"))
    ed = e.join(F.broadcast(dx), "x").join(F.broadcast(dy), "y")
    xk = F.struct(F.col("dx").alias("d"), F.col("x").alias("n"))
    yk = F.struct(F.col("dy").alias("d"), F.col("y").alias("n"))
    fwd = xk < yk
    return ed.select(F.when(fwd, F.col("x")).otherwise(F.col("y"))
                      .alias("src"),
                     F.when(fwd, F.col("y")).otherwise(F.col("x"))
                      .alias("dst"),
                     F.when(fwd, yk).otherwise(xk).alias("dstk"))


def triangles_per_node(edges: DataFrame, a: str = "a",
                       b: str = "b") -> DataFrame:
    """Per-node triangle participation over an UNDIRECTED edge list:
    (node, d, n_tri) — degree plus the number of triangles the node
    belongs to. Same degree-ordered orientation as
    :func:`triangle_count` (each triangle enumerated exactly once as
    (src, v, w)), then each triangle credits its three corners. The
    per-node census is what local clustering coefficients and
    community features need; cost profile matches the global count
    plus one |triangles|-row aggregate."""
    e, deg = _canonical_edges_and_degrees(edges, a, b)
    oe = track(_orient_edges(e, deg).persist())
    w1 = oe.select("src", F.col("dst").alias("v"),
                   F.col("dstk").alias("vk"))
    w2 = oe.select(F.col("src").alias("src2"), F.col("dst").alias("w"),
                   F.col("dstk").alias("wk"))
    wedges = (w1.join(w2, (F.col("src") == F.col("src2"))
                      & (F.col("vk") < F.col("wk")))
                .select("src", "v", "w"))
    closing = oe.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tris = wedges.join(closing, ["v", "w"])
    tpn = (tris.select(F.col("src").alias("node"))
               .unionAll(tris.select(F.col("v").alias("node")))
               .unionAll(tris.select(F.col("w").alias("node")))
               .groupBy("node")
               .agg(F.count("*").cast("bigint").alias("n_tri")))
    return (deg.join(tpn, "node", "left")
               .select("node", F.col("d").cast("bigint").alias("d"),
                       F.coalesce(F.col("n_tri"),
                                  F.lit(0).cast("bigint")).alias("n_tri")))


def triangle_count(edges: DataFrame, a: str = "a",
                   b: str = "b") -> DataFrame:
    """Global triangle census over an UNDIRECTED edge list (one row
    per edge, any per-edge order). Returns a single row:
    (n_nodes, n_edges, n_wedges, n_triangles, clustering) with
    clustering = 3 * triangles / wedges (the global clustering
    coefficient; NULL when the graph has no wedges).

    The scale shape is degree-ordered edge orientation (the standard
    distributed triangle-counting trick, cf. Suri & Vassilvitskii's
    MR-NodeIterator++): orient every edge from its lower-(degree, id)
    endpoint to the higher one — a total order, so each triangle is
    counted exactly once — then join out-edges on their source to form
    wedges and close them against the oriented edge list. Out-degrees
    under degree orientation are O(sqrt(m)), so the wedge fan-out is
    bounded even on skewed graphs where a hub's undirected degree
    would square. Everything is two hash joins and three aggregates —
    no driver-side adjacency, exact integer arithmetic, and the one
    double division (clustering) is deterministic.
    """
    e, deg = _canonical_edges_and_degrees(edges, a, b)
    oe = track(_orient_edges(e, deg).persist())
    w1 = oe.select("src", F.col("dst").alias("v"),
                   F.col("dstk").alias("vk"))
    w2 = oe.select(F.col("src").alias("src2"), F.col("dst").alias("w"),
                   F.col("dstk").alias("wk"))
    wedges = (w1.join(w2, (F.col("src") == F.col("src2"))
                      & (F.col("vk") < F.col("wk")))
                .select("v", "w"))
    closing = oe.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closing, ["v", "w"]).agg(
        F.count("*").cast("bigint").alias("n_triangles"))
    stats = (deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)).cast("bigint") / 2)
        .cast("bigint").alias("n_wedges")))
    n_edges = e.agg(F.count("*").cast("bigint").alias("n_edges"))
    out = (stats.crossJoin(F.broadcast(n_edges))
                .crossJoin(F.broadcast(tri))
                .select("n_nodes", "n_edges", "n_wedges", "n_triangles",
                        F.when(F.col("n_wedges") > 0,
                               3.0 * F.col("n_triangles")
                               / F.col("n_wedges").cast("double"))
                         .alias("clustering")))
    return out


def _bidirectional(edges: DataFrame, a: str, b: str) -> DataFrame:
    """Canonical distinct undirected edges as BOTH directions
    (src, dst) — the adjacency every per-node neighborhood aggregate
    consumes. Persisted + tracked (re-read every round).

    repartition("dst") before the persist: every consumer joins the
    label/survivor vector on dst each round, and a cached
    InMemoryRelation keeps its child's outputPartitioning — so the
    (big) adjacency is shuffled ONCE here and only the node-sized
    vector moves per round (guide §2.4 "share one exchange"; the
    union's partitioning is useless to the planner, so without this
    every round re-shuffled the full edge list — measured 9.5 → 6.5 s
    on copurchase LPA at sf0.1, every interleaved pair consistent).
    kcore's src-side semi-join shuffles either way (the union
    satisfied nothing), so this is neutral there and removes its
    dst-side exchange."""
    e, _deg = _canonical_edges_and_degrees(edges, a, b)
    return track(e.select(F.col("x").alias("src"), F.col("y").alias("dst"))
                  .unionAll(e.select(F.col("y").alias("src"),
                                     F.col("x").alias("dst")))
                  .repartition("dst")
                  .persist())


def label_propagation(edges: DataFrame, rounds: int = 3,
                      a: str = "a", b: str = "b") -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over an
    UNDIRECTED edge list, made fully deterministic: every node starts
    labeled with its own id; each round EVERY node simultaneously
    adopts the most frequent label among its NEIGHBORS (pure-neighbor
    variant — no self-vote), ties broken by the SMALLEST label. After
    ``rounds`` rounds, returns (node, label): nodes sharing a label
    are one community.

    Determinism is the whole design: asynchronous LPA (the common
    formulation) is order-dependent and the frequency argmax tie is
    usually random — neither survives an engine-differential. The
    synchronous schedule plus min-label ties make the result a pure
    function of the graph, so an unrolled-SQL oracle reproduces it
    bit-for-bit. (Sync LPA can two-cycle on bipartite-ish structure;
    a FIXED round count is therefore part of the operator contract,
    not a convergence heuristic.)

    Scale shape: one hash join (adjacency x label vector, both keyed
    on node) + two hash aggregates per round — the Pregel message
    round expressed relationally, same skeleton as :func:`pagerank`.
    The argmax is max(struct(count, -label)) — a partial-aggregable
    hash agg, NOT a rank window, so no per-node sort and no
    single-task group serialization. Per-round shuffle carries
    (node, label, count) rows bounded by the DISTINCT neighbor-label
    count per node, <= degree.
    """
    bi = _bidirectional(edges, a, b)
    labels = bi.select("src").distinct()                .select(F.col("src").alias("node"),
                       F.col("src").alias("label"))
    for _ in range(rounds):
        cnt = (bi.join(labels, bi.dst == labels.node)
                 .groupBy(F.col("src"), F.col("label"))
                 .agg(F.count("*").alias("c")))
        labels = (cnt.groupBy("src")
                     .agg(F.max(F.struct(F.col("c"),
                                         (-F.col("label")).alias("nl")))
                           .alias("m"))
                     .select(F.col("src").alias("node"),
                             (-F.col("m.nl")).alias("label")))
    return labels


def kcore_peel(edges: DataFrame, k: int = 3,
               rounds: int = 4, a: str = "a", b: str = "b") -> DataFrame:
    """Bounded k-core peel over an UNDIRECTED edge list: ``rounds``
    synchronous rounds of "drop every node whose CURRENT degree is
    < k (with its edges), recompute degrees". Returns the surviving
    (node, d) with d the node's degree in the surviving subgraph.

    When the peel reaches fixpoint within ``rounds`` (it does on the
    co-purchase graph — pinned by the property test), the survivors
    ARE the k-core: the maximal subgraph with minimum degree >= k,
    the standard graph-curation denoiser (drop leaf/tendril structure
    before community detection; keep only well-embedded nodes). The
    FIXED round count keeps the operator a pure function of the graph
    — same contract as :func:`label_propagation` — so the oracle is
    the same peel unrolled in SQL.

    Scale shape per round: two semi-joins restricting the CACHED
    full adjacency to the current survivor set + one degree hash-agg.
    The survivor set shrinks monotonically, so restricting the
    original adjacency to keep_r equals restricting the previous
    round's live edges — the chain collapses, and the only state
    carried between rounds is the (tiny) survivor node set, cut per
    round to stop lineage replay (an uncut round chain re-executes the
    upstream edge build per CONSUMER — 2^rounds scans; measured 18 s
    -> 2.4 s at sf0.1). The adjacency is scanned once per round from
    cache; a many-round variant on a fast-shrinking graph would persist
    the shrinking edge list instead — at 4 bounded rounds the
    cached-scan trade wins. Monotone shrinking also means a round that
    keeps as many survivors as the one before keeps the same set, and
    every later round is a no-op: the peel stops there.
    """
    bi = _bidirectional(edges, a, b)

    def degrees(keep):
        live = bi if keep is None else (
            bi.join(keep, "src", "leftsemi")
              .join(keep.select(F.col("src").alias("dst")), "dst",
                    "leftsemi"))
        return live.groupBy("src").agg(F.count("*").alias("d"))

    def peel(keep, observe):
        return observe(degrees(keep).filter(F.col("d") >= k).select("src"),
                       F.count(F.lit(1)).alias("n"))

    counts: list[int] = []

    def settled(prev, new, m):
        # a spent budget is a normal stop (fixed-round contract), not a
        # ConvergenceError
        counts.append(m["n"])
        return (len(counts) == rounds
                or len(counts) > 1 and counts[-1] == counts[-2])

    deg = degrees(fixpoint(None, peel, max_iter=rounds - 1, until=settled))
    return deg.select(F.col("src").alias("node"),
                      F.col("d").cast("bigint").alias("d"))
