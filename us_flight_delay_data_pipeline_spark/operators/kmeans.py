"""Distributed k-means over an embedding column — the centroid
*training* step the IVF queries currently skip (they use fixed corpus
vectors / one label-mean pass). Pure DataFrame ops, cosine-free
(classic squared-Euclidean objective), built from the same primitives
as the rest of the engine:

- assignment: corpus × broadcast(centroids) → per-vector argmin via a
  window (one shuffle on vec_id — the centroid table is k rows, so
  broadcast is always right at any corpus size);
- update: posexplode to (cluster, dim, value) → groupBy mean (one
  shuffle of 20-byte rows; never collects vectors); the inertia is
  observed on the assignment inside the same job, so a round is one
  pass over the corpus.

At 100 TB: both shuffles scale linearly in corpus size × dim; k and
iterations multiply constant factors only. For huge k, swap the
crossJoin-argmin for an LSH/IVF pre-filter of candidate centroids —
the update step is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .ckpt import fixpoint

__all__ = ["kmeans_fit", "assign_clusters", "inertia"]


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, v: acc + v)


def assign_clusters(corpus: DataFrame, centroids: DataFrame,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """(id, vector) + (c_id, cv) → (id, vector, c_id, sq_dist) with
    each vector assigned to its nearest centroid (tie → lowest c_id)."""
    scored = (corpus.select(id_col, vec_col)
              .crossJoin(F.broadcast(centroids))
              .withColumn("sq_dist", _sq_dist(F.col(vec_col), F.col("cv"))))
    w = Window.partitionBy(id_col).orderBy("sq_dist", "c_id")
    return (scored.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1)
                  .select(id_col, vec_col, "c_id", "sq_dist"))


def inertia(assigned: DataFrame) -> float:
    """Sum of squared distances to assigned centroids (the k-means
    objective; must be non-increasing across iterations)."""
    return assigned.agg(F.sum("sq_dist")).first()[0]


def kmeans_fit(corpus: DataFrame, init_centroids: DataFrame,
               max_iter: int = 10, tol: float = 1e-6,
               vec_col: str = "embedding",
               id_col: str = "vec_id") -> tuple[DataFrame, list[float]]:
    """Lloyd iterations from explicit initial centroids
    (``c_id, cv``). Returns (final centroids, inertia per iteration).
    Deterministic: fixed init, argmin tie-breaks on c_id, means from
    posexplode + avg (empty clusters keep their previous centroid).
    """
    history: list[float] = []

    def lloyd(cent, observe):
        if cent is None:
            return init_centroids.select("c_id", "cv")
        assigned = observe(assign_clusters(corpus, cent, vec_col, id_col),
                           F.sum("sq_dist").alias("inertia"))
        means = (assigned.select("c_id", F.posexplode(vec_col)
                                 .alias("dim", "v"))
                 .groupBy("c_id", "dim")
                 .agg(F.avg(F.col("v").cast("double")).alias("m"))
                 .groupBy("c_id")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(F.struct("dim", "m"))),
                     lambda s: s["m"]).alias("cv_new")))
        return (cent.join(means, "c_id", "left")
                .select("c_id", F.coalesce("cv_new", "cv").alias("cv")))

    def stalled(prev, new, m):
        # round 0 (the init cut) assigns nothing; a spent budget is a
        # normal stop here, not a ConvergenceError
        if prev is not None:
            history.append(m["inertia"])
        return len(history) == max_iter or (
            len(history) >= 2
            and history[-2] - history[-1] <= tol * abs(history[-2]))

    return fixpoint(None, lloyd, max_iter=max_iter, until=stalled), history
