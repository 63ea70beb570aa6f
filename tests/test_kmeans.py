"""k-means invariants: inertia is monotonically non-increasing across
Lloyd iterations (the defining property), assignments are total and
deterministic, training improves over the fixed-vector init, and the
fit equals a plain numpy Lloyd loop."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from us_flight_delay_data_pipeline_spark.operators.kmeans import (
    assign_clusters, inertia, kmeans_fit)


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


@pytest.fixture(scope="module")
def init(corpus):
    return (corpus.filter(F.col("vec_id") < 8)
            .select(F.col("vec_id").alias("c_id"),
                    F.col("embedding").alias("cv")))


def test_inertia_monotone_and_improves(spark, corpus, init):
    cent, hist = kmeans_fit(corpus, init, max_iter=5)
    assert len(hist) >= 2
    for a, b in zip(hist, hist[1:]):
        assert b <= a + 1e-9
    assert hist[-1] < hist[0]  # training actually moved the centroids
    assert cent.count() == 8


def test_assignment_total_and_deterministic(spark, corpus, init):
    a1 = assign_clusters(corpus, init)
    a2 = assign_clusters(corpus, init)
    n = corpus.count()
    assert a1.count() == n                      # every vector assigned
    assert a1.select("vec_id").distinct().count() == n  # exactly once
    m1 = {r.vec_id: r.c_id for r in a1.select("vec_id", "c_id").collect()}
    m2 = {r.vec_id: r.c_id for r in a2.select("vec_id", "c_id").collect()}
    assert m1 == m2


def test_converged_fit_stops_early(spark, corpus, init):
    _, hist = kmeans_fit(corpus, init, max_iter=10, tol=0.01)
    assert len(hist) < 10  # the tolerance gate fires before max_iter


def _numpy_lloyd(x, cent, rounds):
    """Reference Lloyd loop under kmeans_fit's rules: squared distances
    summed dimension by dimension in order (as the Spark fold does),
    argmin ties to the lowest c_id, an empty cluster keeps its
    centroid."""
    history = []
    for _ in range(rounds):
        d = np.zeros((len(x), len(cent)))
        for j in range(x.shape[1]):
            d = d + (x[:, None, j] - cent[None, :, j]) ** 2
        a = d.argmin(axis=1)  # first minimum: rows are in c_id order
        history.append(d[np.arange(len(x)), a].sum())
        cent = np.array([x[a == c].mean(axis=0) if (a == c).any()
                         else cent[c] for c in range(len(cent))])
    return cent, history


def test_fit_matches_numpy_lloyd(spark, corpus, init):
    cent, hist = kmeans_fit(corpus, init, max_iter=3)
    rows = corpus.select("embedding").collect()
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    init_rows = sorted(init.collect(), key=lambda r: r.c_id)
    c0 = np.array([r.cv for r in init_rows], dtype=np.float64)
    want_cent, want_hist = _numpy_lloyd(x, c0, 3)
    got = sorted(cent.collect(), key=lambda r: r.c_id)
    assert [r.c_id for r in got] == [r.c_id for r in init_rows]
    np.testing.assert_allclose(hist, want_hist, rtol=1e-9, atol=0)
    np.testing.assert_allclose(np.array([r.cv for r in got]), want_cent,
                               rtol=1e-9, atol=0)
