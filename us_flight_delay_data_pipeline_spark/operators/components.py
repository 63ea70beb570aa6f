"""Connected components over a pair/edge DataFrame — the clustering
step of fuzzy deduplication ([EXT], SURVEY.md §7 step 7): near-dup
PAIRS (MinHash/SimHash/Jaccard output) must be grouped into CLUSTERS
so one canonical document per cluster survives. Pair emission alone
under-deletes: A~B and B~C puts A,C in the same cluster only through
transitive closure.

Algorithm: iterative min-label propagation. Each round every node
adopts the minimum component label among itself and its neighbors;
convergence in O(graph diameter) rounds. Near-dup graphs are unions
of small dense clusters (diameter 2-3 in practice), so 3-5 rounds
settle real corpora. Per round: one shuffle join (edges × labels) and
one min-aggregate — both on 16-byte (node, label) pairs, never text.

100 TB posture:
- the edge list is symmetrized once and cached; per-round state is
  two longs per node, cut each round by ``ckpt.fixpoint``;
- convergence is detected with an observed aggregate (count of
  changed labels) riding the round's checkpoint job, not a collect;
- for adversarial high-diameter graphs switch to the large-star /
  small-star formulation (Kiveris et al., "Connected Components in
  MapReduce and Beyond", SoCC'14) which converges in O(log² n) —
  same join/agg primitives, more rounds of them; dedup graphs do not
  need it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ckpt import ConvergenceError, fixpoint

__all__ = ["connected_components", "connected_components_star",
           "connected_components_auto", "ConvergenceError"]


def connected_components_auto(edges: DataFrame, src: str = "src",
                              dst: str = "dst",
                              max_iter: int = 25) -> DataFrame:
    """The diameter-unknown default: run min-label propagation (fast
    on the small dense clusters typical of near-dup graphs, one
    join+agg per round), and if the graph's diameter exhausts its
    round budget, fall back to the large/small-star formulation whose
    O(log² n) round count is diameter-independent. Safe because both
    variants return the identical (node, component=min-id) labeling
    and the min-label operator now RAISES rather than returning
    mid-propagation labels. Only the dedicated ConvergenceError
    triggers the fallback — any other runtime failure surfaces."""
    try:
        return connected_components(edges, src=src, dst=dst,
                                    max_iter=max_iter)
    except ConvergenceError:
        return connected_components_star(edges, src=src, dst=dst)


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_iter: int = 25) -> DataFrame:
    """Return ``(node, component)`` for every node in ``edges``, where
    ``component`` is the minimum node id in the node's connected
    component. Undirected: each input pair connects both endpoints.

    Design note (measured, round 4): a label(label) pointer-jumping
    shortcut was tried and REVERTED — on real near-dup/mutual-kNN
    graphs the propagated minimum is usually already its own
    component's low id, so the jump is a no-op almost everywhere
    (9 → 8 rounds on the diameter-9 mutual-kNN graph, for one extra
    join per round). O(log)-round convergence genuinely requires the
    two-phase star contraction — that is
    :func:`connected_components_star`, and
    :func:`connected_components_auto` falls back to it.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = (e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .distinct()
            .persist())

    def propagate(labels, observe):
        if labels is None:
            # Round 0 needs no join: every node's first label is
            # min(self, neighbors), computable straight off the edge list.
            return (sym.groupBy(F.col("a").alias("node"))
                       .agg(F.min("b").alias("nmin"))
                       .select("node",
                               F.least("node", "nmin").alias("component")))
        neighbor_min = (sym.join(labels, sym["b"] == labels["node"])
                           .groupBy(F.col("a").alias("node"))
                           .agg(F.min("component").alias("neighbor_min")))
        new = (labels.join(neighbor_min, "node", "left")
                     .select("node",
                             F.least("component",
                                     F.coalesce("neighbor_min", "component"))
                              .alias("component"),
                             (F.col("neighbor_min")
                              < F.col("component")).alias("changed")))
        return observe(new, F.sum(F.col("changed").cast("int"))
                            .alias("n_changed"))

    # Not converging raises: labels of a path longer than max_iter
    # rounds are still mid-propagation, i.e. silently-wrong clusters.
    try:
        labels = fixpoint(None, propagate, max_iter=max_iter,
                          until=lambda prev, new, m:
                          prev is not None and not m["n_changed"])
    finally:
        sym.unpersist()
    return labels.select("node", "component")


def connected_components_star(edges: DataFrame, src: str = "src",
                              dst: str = "dst",
                              max_iter: int = 40) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the O(log² n)-round algorithm for graphs whose
    DIAMETER breaks min-label propagation (a path of n nodes needs
    ~n label rounds but ~log² n star rounds).

    One round = two groupBy-min + join passes over the edge list:

    - large-star: every node u computes m = min(Γ(u) ∪ {u}) and
      rewires each LARGER neighbor v > u to m — long chains collapse
      toward minima from every node simultaneously;
    - small-star: on the ≤-oriented edges, u rewires itself and all
      smaller neighbors to their collective minimum — turning local
      minima into star centers.

    Convergence: the edge set is a fixpoint (every edge already
    (node → component-min)); detected with an exact anti-join count,
    not a collect. Labels: each non-center node's single neighbor is
    its component; centers label themselves. Same contract as
    :func:`connected_components` (nodes appearing in ``edges``;
    component = min node id), and pinned equal to it in tests — use
    this variant when cluster diameter is unbounded (chains of
    near-dup pairs, long citation/link paths); min-label when
    clusters are small and dense (typical near-dup corpora).
    """
    e0 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = e0.filter(F.col("a") != F.col("b"))

    def star_round(pairs, observe):
        if pairs is None:  # round 0: canonical undirected pair set (x < y)
            ss = e.select(F.least("a", "b").alias("x"),
                          F.greatest("a", "b").alias("y")).distinct()
            return observe(ss, F.count(F.lit(1)).alias("cnt"))
        sym = pairs.select(F.col("x").alias("u"), F.col("y").alias("v")) \
                   .union(pairs.select(F.col("y").alias("u"),
                                       F.col("x").alias("v")))
        # large-star: m(u) = min over Γ(u) ∪ {u}; rewire v > u to m
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m"))
        # no distinct here: duplicate edges are harmless to the
        # small-star min-groupBy below (min is idempotent) and the ss
        # distinct canonicalizes the round output — dropping the
        # intermediate dedup removes one shuffle per round
        ls = (sym.join(mins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.least("v", "m").alias("x"),
                         F.greatest("v", "m").alias("y"))
                 .filter(F.col("x") != F.col("y")))
        # small-star over ≤-oriented edges of the large-star output:
        # u and its smaller neighbors all rewire to their minimum
        down = ls.select(F.col("y").alias("u"), F.col("x").alias("v"))
        smins = down.groupBy("u").agg(F.min("v").alias("m"))
        ss = (down.join(smins, "u")
                  .select(F.col("v").alias("n"), "m")
                  .union(smins.select(F.col("u").alias("n"), "m"))
                  .filter(F.col("n") != F.col("m"))
                  .select(F.least("n", "m").alias("x"),
                          F.greatest("n", "m").alias("y"))
                  .distinct())
        return observe(ss, F.count(F.lit(1)).alias("cnt"))

    counts: list[int] = []

    def fixed(prev, new, m):
        # Both sides are DISTINCT canonical (x<y) sets, so |new| ==
        # |prev| plus new\prev == ∅ implies equality. The counts ride
        # the checkpoint jobs, and on every shrinking round they already
        # prove "changed" — the anti-join (the expensive half) runs only
        # on the round where counts first agree, not 2× per round.
        counts.append(m["cnt"])
        return (len(counts) > 1 and counts[-1] == counts[-2]
                and new.join(prev, ["x", "y"], "left_anti").count() == 0)

    # The label extraction below assumes a star forest: a non-fixpoint
    # edge set can put one node on the y side of two edges and emit
    # conflicting (node, component) rows, so not converging raises.
    pairs = fixpoint(None, star_round, max_iter=max_iter, until=fixed)

    # fixpoint is a star forest: every y's single partner is its
    # component min; centers (never on the y side) label themselves.
    # The node set is taken BEFORE dropping self-loops: a node whose
    # only edge is (n, n) is still its own singleton component —
    # matching connected_components' contract over its symmetrized
    # edge set.
    all_nodes = (e0.select(F.col("a").alias("node"))
                   .union(e0.select(F.col("b").alias("node")))
                   .distinct())
    labels = pairs.select(F.col("y").alias("node"),
                          F.col("x").alias("component"))
    centers = (all_nodes.join(labels, "node", "left_anti")
                        .select("node", F.col("node").alias("component")))
    return labels.union(centers)
