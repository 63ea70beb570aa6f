"""One fixpoint loop for the iterative operators (connected components,
PageRank, k-means, the k-core peel).

:func:`fixpoint` cuts every round's lineage with
``localCheckpoint(eager=True)`` and frees the superseded round's
checkpoint blocks the moment the next round has materialized. Spark
would free them only when the driver-side DataFrame is garbage-
collected, and ``clearCache()`` never touches them; left to GC, the
stale rounds pressure the storage region (an 18-62 s in-session spread
for ``dedup_clusters_star`` on identical input, round 3). A released
checkpoint cannot be recomputed, since its lineage is cut.

Ownership: the loop frees only checkpoints it created, tracked by the
RDD ids recorded as each round is cut. A caller's input, including a
``localCheckpoint``-backed ``init`` or edge list that a round's plan
reads, is never freed.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable, Collection

from pyspark.sql import Column, DataFrame, Observation

__all__ = ["ConvergenceError", "fixpoint", "checkpoint_rdd_ids",
           "release_local_checkpoint"]

# Spark's Observation listener matches completed executions by metric
# name; a per-round-index name (cc_round_0) collides when two
# invocations of the same operator run concurrently in one session
# (e.g. a streaming funnel batch plus an ad-hoc query) and can
# cross-deliver convergence metrics between them. A process-wide
# monotonically increasing id makes every observation name unique.
_OBS_ID = itertools.count()


class ConvergenceError(RuntimeError):
    """An iterative operator exhausted its round budget before its
    convergence criterion held. Distinct from RuntimeError so auto-
    fallback wrappers do not mask unrelated runtime failures."""


def _logical_rdd_leaves(df: DataFrame):
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            yield leaf


def checkpoint_rdd_ids(df: DataFrame) -> frozenset[int]:
    """The RDD ids behind a just-created checkpoint. A freshly
    checkpointed plan has exactly one ``LogicalRDD`` leaf, the
    checkpoint itself, so the set cannot include a caller's input.
    Empty on Connect sessions (no ``_jdf``); release then degrades to
    a no-op and GC-based cleanup."""
    try:
        return frozenset(leaf.rdd().id() for leaf in _logical_rdd_leaves(df))
    except Exception:
        return frozenset()


def release_local_checkpoint(df: DataFrame, owned: Collection[int]) -> None:
    """Free the executor-storage blocks of every ``LogicalRDD`` leaf of
    ``df`` whose RDD id is in ``owned`` (recorded by
    :func:`checkpoint_rdd_ids`); other leaves are left alone. The leaf
    may sit under projections. No-op for an empty ``owned``."""
    if not owned:
        return
    try:
        for leaf in _logical_rdd_leaves(df):
            if leaf.rdd().id() in owned:
                leaf.rdd().unpersist(False)
    except Exception:
        # Best-effort: a Connect session (no _jdf) or an internal
        # rename must degrade to the old GC-based cleanup, never fail
        # the algorithm.
        pass


def fixpoint(init: DataFrame | None,
             step: Callable[..., DataFrame], *, max_iter: int,
             until: Callable[[DataFrame | None, DataFrame, dict], bool]
             | None = None) -> DataFrame:
    """Run ``state = step(state, observe)`` from ``init``, cutting each
    round with an eager ``localCheckpoint``, and return the last round.

    - ``init`` is the caller's round 0: never cut and never freed. With
      ``init=None`` the first call, ``step(None, observe)``, builds
      round 0, which is cut and owned like any later round; ``max_iter``
      counts the rounds after round 0.
    - ``observe(df, *aggs)`` returns ``df`` with the aggregates riding
      the round's checkpoint job (no extra job), under a process-unique
      ``Observation`` name. ``step`` may call it on any frame of the
      round, any number of times.
    - ``until(prev, new, metrics)`` runs once ``new`` has materialized
      and before ``prev`` is released; ``metrics`` merges the round's
      observed values. When it holds the loop returns ``new``; when it
      never holds, the last round is released and
      :class:`ConvergenceError` raised. Without ``until`` the loop
      returns after ``max_iter`` rounds.
    - A superseded round is released once the next one exists; on any
      exception every round still held is released and the error
      re-raised.
    """
    observations: list[Observation] = []  # this round's

    def observe(df: DataFrame, *aggs: Column) -> DataFrame:
        obs = Observation(f"fixpoint_{next(_OBS_ID)}")
        observations.append(obs)
        return df.observe(obs, *aggs)

    state, rounds = init, []  # rounds: (frame, ids) cut here, not freed
    try:
        for _ in range(max_iter + (init is None)):
            observations.clear()
            new = step(state, observe).localCheckpoint(eager=True)
            rounds.append((new, checkpoint_rdd_ids(new)))
            metrics = {k: v for obs in observations for k, v in obs.get.items()}
            done = until is not None and until(state, new, metrics)
            if len(rounds) > 1:
                release_local_checkpoint(*rounds.pop(0))
            state = new
            if done:
                return state
        if until is not None:
            raise ConvergenceError(
                f"did not converge: no fixpoint after {max_iter} rounds; "
                f"raise max_iter")
        return state
    except BaseException:
        for df, ids in rounds:
            release_local_checkpoint(df, ids)
        raise
