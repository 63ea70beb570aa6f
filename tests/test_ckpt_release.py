"""Checkpoint-lifecycle pins for the iterative operators.

Round-3 verdict traced dedup_clusters_star's 18-62 s in-session
spread to superseded localCheckpoint blocks accumulating across
rounds (GC-based cleanup is nondeterministic). Every iterative
operator now runs on ``ckpt.fixpoint``, which releases each round's
blocks the moment the next round is materialized — these tests pin
(a) the release helper actually frees executor storage, (b) the loop
leaves only its FINAL round's blocks behind, i.e. storage is O(1) in
rounds, and (c) it frees every round it holds when it raises.
"""

import time

import pytest
from pyspark.sql import functions as F

from us_flight_delay_data_pipeline_spark.operators.ckpt import (
    ConvergenceError, checkpoint_rdd_ids, fixpoint, release_local_checkpoint)


def _storage_blocks(spark):
    sc = spark.sparkContext
    return [(i.name(), i.memSize())
            for i in sc._jsc.sc().getRDDStorageInfo()]


def test_release_frees_checkpoint_blocks(spark):
    spark.catalog.clearCache()
    before = len(_storage_blocks(spark))
    df = (spark.range(10_000).selectExpr("id", "id % 7 AS k")
          .localCheckpoint(eager=True))
    assert len(_storage_blocks(spark)) > before
    release_local_checkpoint(df, checkpoint_rdd_ids(df))
    assert len(_storage_blocks(spark)) == before


def test_release_traverses_projections(spark):
    """The loop variable is usually ckpt.select(...) — the LogicalRDD
    leaf under the projection must still be found and freed."""
    spark.catalog.clearCache()
    before = len(_storage_blocks(spark))
    ckpt = (spark.range(10_000).selectExpr("id", "id % 7 AS k")
            .localCheckpoint(eager=True))
    proj = ckpt.select("id")
    release_local_checkpoint(proj, checkpoint_rdd_ids(ckpt))
    assert len(_storage_blocks(spark)) == before


def test_release_noops_on_plain_plans(spark):
    df = spark.range(100).selectExpr("id")
    other = spark.range(10).localCheckpoint(eager=True)
    release_local_checkpoint(df, checkpoint_rdd_ids(other))  # no raise
    assert df.count() == 100
    assert other.count() == 10  # not a leaf of df: untouched
    release_local_checkpoint(other, checkpoint_rdd_ids(other))


def test_star_cc_storage_constant_in_rounds(spark):
    """A long-path graph forces many star rounds; afterwards at most
    the FINAL round's edge-set blocks may remain (the returned labels
    still read them) — not one set per round."""
    from us_flight_delay_data_pipeline_spark.operators.components import (
        connected_components_star)

    spark.catalog.clearCache()
    base = len(_storage_blocks(spark))
    # one 64-node path => diameter 63, several star rounds
    edges = spark.range(63).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    labels = connected_components_star(edges)
    assert labels.filter("component <> 0").count() == 0
    # final pairs checkpoint (and nothing per-round) may linger
    leftover = len(_storage_blocks(spark)) - base
    assert leftover <= 1, f"per-round checkpoint blocks leaked: {leftover}"


def test_min_label_cc_storage_constant_in_rounds(spark):
    from us_flight_delay_data_pipeline_spark.operators.components import (
        connected_components)

    spark.catalog.clearCache()
    base = len(_storage_blocks(spark))
    edges = spark.range(20).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    labels = connected_components(edges, max_iter=25)
    assert labels.filter("component <> 0").count() == 0
    leftover = len(_storage_blocks(spark)) - base
    assert leftover <= 1, f"per-round checkpoint blocks leaked: {leftover}"


def test_auto_fallback_only_on_convergence_error(spark):
    """connected_components_auto must fall back to the star variant
    ONLY for the dedicated ConvergenceError, not arbitrary failures."""
    from us_flight_delay_data_pipeline_spark.operators.components import (
        ConvergenceError, connected_components_auto)

    # path of length 5 with max_iter=1: min-label cannot converge ->
    # ConvergenceError -> auto falls back to star and still answers
    edges = spark.range(5).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    labels = connected_components_auto(edges, max_iter=1)
    assert labels.filter("component <> 0").count() == 0
    assert issubclass(ConvergenceError, RuntimeError)


def _settled(spark, base, what, deadline=10.0):
    # unpersist is non-blocking: block-count updates lag briefly
    end = time.time() + deadline
    while time.time() < end:
        n = len(_storage_blocks(spark))
        if n <= base:
            return n
        time.sleep(0.2)
    raise AssertionError(
        f"{what}: {len(_storage_blocks(spark)) - base} blocks leaked")


def test_convergence_error_releases_final_round_blocks(spark):
    """ADVICE r4: on the ConvergenceError path the final round's
    localCheckpoint blocks must be released before raising —
    clearCache() cannot free raw RDD checkpoint blocks, so without
    the explicit release the auto-fallback's star run would sit on a
    session-lifetime leak."""
    from us_flight_delay_data_pipeline_spark.operators.components import (
        ConvergenceError, connected_components, connected_components_star)

    spark.catalog.clearCache()
    base = len(_storage_blocks(spark))
    edges = spark.range(30).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    with pytest.raises(ConvergenceError):
        connected_components(edges, max_iter=2)
    _settled(spark, base, "min-label leak on raise")
    with pytest.raises(ConvergenceError):
        connected_components_star(edges, max_iter=1)
    _settled(spark, base, "star leak on raise")


def test_pagerank_never_releases_caller_checkpoints(spark):
    """ADVICE r4 (medium): pagerank's per-round release must only free
    checkpoints IT created. A caller-supplied localCheckpoint-backed
    edges/nodes input must survive the run and stay usable after."""
    from us_flight_delay_data_pipeline_spark.operators.graph import pagerank

    spark.catalog.clearCache()
    edges = (spark.range(40)
             .select(F.col("id").alias("src"),
                     ((F.col("id") + 1) % 40).alias("dst"))
             .localCheckpoint(eager=True))
    nodes = (spark.range(40).select(F.col("id").alias("node"))
             .localCheckpoint(eager=True))
    ranks = pagerank(edges, iterations=3, nodes=nodes,
                     complete_inedges=True)
    assert ranks.count() == 40
    # the caller's checkpoints must still be actionable (released
    # checkpoints raise on any later action — lineage is truncated)
    assert edges.count() == 40
    assert nodes.count() == 40


def test_observation_names_unique_across_invocations(spark):
    """Observation names must be unique per invocation so two
    concurrent runs in one session cannot cross-deliver convergence
    metrics (Spark's listener matches by name)."""
    from us_flight_delay_data_pipeline_spark.operators import ckpt, components

    seen = set()
    orig = ckpt.Observation

    class Spy(orig):
        def __init__(self, name):
            assert name not in seen, f"duplicate observation name {name}"
            seen.add(name)
            super().__init__(name)

    ckpt.Observation = Spy
    try:
        edges = spark.range(6).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        components.connected_components(edges)
        n_min_label = len(seen)
        components.connected_components(edges)  # same rounds, new names
        components.connected_components_star(edges)
        components.connected_components_star(edges)
    finally:
        ckpt.Observation = orig
    assert n_min_label >= 2
    assert len(seen) >= 2 * n_min_label + 2


def test_owned_release_spares_foreign_leaves_in_mixed_plans(spark):
    """The r5-advice footgun made mechanical: a plan whose leaves mix
    an operator-OWNED checkpoint with a CALLER-supplied one (e.g. a
    loop variable built by joining round state against a
    checkpoint-backed input). release with owned= must free only the
    recorded ids; the caller's checkpoint must stay actionable."""
    spark.catalog.clearCache()
    caller = (spark.range(1_000).selectExpr("id", "id % 5 AS k")
              .localCheckpoint(eager=True))
    owned = (spark.range(1_000).selectExpr("id", "id % 3 AS j")
             .localCheckpoint(eager=True))
    owned_ids = checkpoint_rdd_ids(owned)
    assert owned_ids and owned_ids.isdisjoint(checkpoint_rdd_ids(caller))
    mixed = owned.join(caller, "id")  # leaves: BOTH checkpoints
    release_local_checkpoint(mixed, owned=owned_ids)
    # caller's blocks untouched — still actionable
    assert caller.count() == 1_000
    # owned blocks actually freed (an unpersisted localCheckpoint
    # cannot recompute — any action on `owned` now raises)
    import py4j.protocol
    from pyspark.errors.exceptions.captured import CapturedException
    with __import__("pytest").raises(
            (py4j.protocol.Py4JJavaError, CapturedException, Exception)):
        owned.count()
        raise AssertionError("owned checkpoint survived its release")


def test_owned_release_with_empty_ids_is_noop(spark):
    """checkpoint_rdd_ids returns an empty set on Connect sessions —
    release must then degrade to a no-op (GC cleanup), NOT sweep every
    leaf (which would hit foreign checkpoints)."""
    ckpt = spark.range(100).localCheckpoint(eager=True)
    release_local_checkpoint(ckpt, owned=frozenset())
    assert ckpt.count() == 100  # untouched
    release_local_checkpoint(ckpt, checkpoint_rdd_ids(ckpt))


def _plus_one(state, _observe):
    return state.select((F.col("id") + 1).alias("id"))


def test_fixpoint_fixed_rounds_keep_only_final_round(spark):
    spark.catalog.clearCache()
    base = len(_storage_blocks(spark))
    out = fixpoint(spark.range(1_000), _plus_one, max_iter=5)
    assert out.agg(F.min("id")).first()[0] == 5
    leftover = len(_storage_blocks(spark)) - base
    assert leftover <= 1, f"per-round checkpoint blocks leaked: {leftover}"
    release_local_checkpoint(out, checkpoint_rdd_ids(out))


def test_fixpoint_exhausted_budget_raises_and_frees(spark):
    spark.catalog.clearCache()
    base = len(_storage_blocks(spark))
    with pytest.raises(ConvergenceError, match="after 4 rounds"):
        fixpoint(spark.range(1_000), _plus_one, max_iter=4,
                 until=lambda prev, new, m: False)
    _settled(spark, base, "leak on ConvergenceError")


@pytest.mark.parametrize("where", ["step", "job"])
def test_fixpoint_round_failure_frees_and_reraises(spark, where):
    """A failure in round 3 (raised while building the round, or by
    the round's own Spark job) frees round 2's blocks and surfaces the
    original error, not a ConvergenceError."""
    calls = []

    def step(state, _observe):
        calls.append(1)
        nxt = _plus_one(state, _observe)
        if len(calls) == 3:
            if where == "step":
                raise ValueError("boom in round 3")
            nxt = nxt.select(F.when(F.col("id") >= 0, F.raise_error(
                F.lit("boom in round 3"))).alias("id"))
        return nxt

    spark.catalog.clearCache()
    base = len(_storage_blocks(spark))
    with pytest.raises(Exception, match="boom in round 3") as info:
        fixpoint(spark.range(1_000), step, max_iter=5,
                 until=lambda prev, new, m: False)
    assert not isinstance(info.value, ConvergenceError)
    assert len(calls) == 3
    _settled(spark, base, f"leak on a {where} failure")


def test_fixpoint_never_frees_caller_init(spark):
    spark.catalog.clearCache()
    init = spark.range(1_000).localCheckpoint(eager=True)
    out = fixpoint(init, _plus_one, max_iter=3)
    assert out.agg(F.min("id")).first()[0] == 3
    assert init.count() == 1_000  # a released checkpoint would raise
    release_local_checkpoint(out, checkpoint_rdd_ids(out))
    release_local_checkpoint(init, checkpoint_rdd_ids(init))
