"""Batch-keyed partitioned writers set their overwrite mode on each
write, never on the session.

Each test runs a writer in a private session (``newSession()``: the
shared SparkContext, its own SQL conf) whose
``spark.sql.sources.partitionOverwriteMode`` is the opposite of what
the writer needs, then checks the on-disk result, and that the
session's mode was the same at every Parquet write call and after
the writer returned: a writer that flips the session's mode would
leak it to any other writer running in that session meanwhile.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from us_flight_delay_data_pipeline_spark.operators.bm25 import (
    compact_bm25_index, write_bm25_batch)
from us_flight_delay_data_pipeline_spark.operators.dedup import (
    build_jaccard_index, dedup_against_jaccard_index, write_minhash_batch)
from us_flight_delay_data_pipeline_spark.queries.llm_ext import MINHASH_COEFFS
from us_flight_delay_data_pipeline_spark.sources.registry import load_table
from us_flight_delay_data_pipeline_spark.streaming.funnel import (
    run_funnel_batch)

MODE = "spark.sql.sources.partitionOverwriteMode"


@pytest.fixture
def session_in_mode(spark, monkeypatch):
    """``make(mode)`` -> (session, seen): a private session set to
    ``mode``, and the list of that session's mode at each Parquet
    write call from then on."""
    def make(mode: str):
        s = spark.newSession()
        s.conf.set(MODE, mode)
        seen: list[str] = []
        parquet = DataFrameWriter.parquet

        def recording(self, path, *args, **kwargs):
            seen.append(s.conf.get(MODE))
            return parquet(self, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", recording)
        return s, seen
    return make


def _assert_mode_untouched(s, seen, mode):
    assert seen, "the writer made no Parquet write"
    assert set(seen) == {mode}
    assert s.conf.get(MODE) == mode


def _batch_ids(s, path):
    return {r[0] for r in s.read.parquet(path).select("batch_id")
            .distinct().collect()}


def _docs(s, sf_dir, n):
    return (load_table(s, sf_dir, "documents")
            .filter(F.col("doc_id") < n))


def test_bm25_replay_under_static_keeps_other_batches(
        session_in_mode, sf_dir, tmp_path):
    s, seen = session_in_mode("static")
    path = str(tmp_path / "bm25")
    docs = _docs(s, sf_dir, 40)
    write_bm25_batch(docs.filter(F.col("doc_id") % 2 == 0), path, batch_id=0)
    write_bm25_batch(docs.filter(F.col("doc_id") % 2 == 1), path, batch_id=1)
    before = s.read.parquet(os.path.join(path, "postings")).count()
    write_bm25_batch(docs.filter(F.col("doc_id") % 2 == 1), path, batch_id=1)
    for table in ("postings", "df", "stats"):
        assert _batch_ids(s, os.path.join(path, table)) == {0, 1}, table
    assert s.read.parquet(os.path.join(path, "postings")).count() == before
    assert s.read.parquet(os.path.join(path, "stats")).count() == 2
    _assert_mode_untouched(s, seen, "static")


def test_minhash_replay_under_static_keeps_other_batches(
        session_in_mode, sf_dir, tmp_path):
    s, seen = session_in_mode("static")
    path = str(tmp_path / "mh")
    docs = _docs(s, sf_dir, 40)
    write_minhash_batch(docs.filter(F.col("doc_id") % 2 == 0), path, 0,
                        MINHASH_COEFFS)
    write_minhash_batch(docs.filter(F.col("doc_id") % 2 == 1), path, 1,
                        MINHASH_COEFFS)
    before = s.read.parquet(path).count()
    write_minhash_batch(docs.filter(F.col("doc_id") % 2 == 1), path, 1,
                        MINHASH_COEFFS)
    assert _batch_ids(s, path) == {0, 1}
    assert s.read.parquet(path).count() == before
    _assert_mode_untouched(s, seen, "static")


def test_compaction_onto_stale_dst_under_dynamic(
        session_in_mode, sf_dir, tmp_path):
    """A session in dynamic mode must not let compaction keep the
    stale batch_id>0 partitions of a non-fresh dst: the merged
    df/stats would count them twice."""
    s, seen = session_in_mode("dynamic")
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    docs = _docs(s, sf_dir, 40)
    for path in (src, dst):
        write_bm25_batch(docs.filter(F.col("doc_id") % 2 == 0), path,
                         batch_id=0)
        write_bm25_batch(docs.filter(F.col("doc_id") % 2 == 1), path,
                         batch_id=1)
    compact_bm25_index(src, dst, spark=s)
    for table in ("postings", "df", "stats"):
        assert _batch_ids(s, os.path.join(dst, table)) == {0}, table
    src_docs = (s.read.parquet(os.path.join(src, "stats"))
                 .agg(F.sum("n_docs")).collect()[0][0])
    stats = s.read.parquet(os.path.join(dst, "stats")).collect()
    assert [r["n_docs"] for r in stats] == [src_docs]
    _assert_mode_untouched(s, seen, "dynamic")


def test_jaccard_batches_survive_a_default_session(spark, sf_dir, tmp_path):
    """Writing batch 1 of the exact Jaccard index must keep batch 0's
    sketch/inverted partitions in a session whose mode was never set
    (Spark's default, static), and a batch-1 probe that excludes its
    own rows must still match batch 0."""
    s = spark.newSession()
    path = str(tmp_path / "jidx")
    docs = (load_table(s, sf_dir, "documents")
            .filter(F.size(F.split(F.trim("text"), r"\s+")) >= 8)
            .orderBy("doc_id").limit(40))
    batch0 = docs.filter(F.col("doc_id") % 2 == 0)
    originals = batch0.orderBy("doc_id").limit(5)
    copies = originals.withColumn("doc_id", F.col("doc_id") + 10_000_000)
    batch1 = docs.filter(F.col("doc_id") % 2 == 1).unionByName(copies)
    build_jaccard_index(batch0, path, block_col="lang", batch_id=0)
    build_jaccard_index(batch1, path, block_col="lang", batch_id=1)
    for table in ("sketch", "inverted"):
        assert _batch_ids(s, os.path.join(path, table)) == {0, 1}, table
    hits = {(r["new_id"], r["corpus_id"]) for r in
            dedup_against_jaccard_index(copies, path, block_col="lang",
                                        exclude_batch_id=1).collect()}
    want = {(r["doc_id"] + 10_000_000, r["doc_id"])
            for r in originals.collect()}
    assert want <= hits
    assert s.conf.get(MODE, "static").lower() == "static"


def test_funnel_replay_under_static_keeps_other_batches(
        session_in_mode, sf_dir, tmp_path):
    s, seen = session_in_mode("static")
    root = str(tmp_path)
    kw = dict(state_dir=os.path.join(root, "state"),
              out_path=os.path.join(root, "out"),
              stats_path=os.path.join(root, "stats"))
    docs = (load_table(s, sf_dir, "documents")
            .select("doc_id", "lang", "source", "text")
            .orderBy("doc_id").limit(60))
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    run_funnel_batch(first, 0, **kw)
    run_funnel_batch(second, 1, **kw)
    stats = sorted(map(tuple, s.read.parquet(kw["stats_path"]).collect()))
    run_funnel_batch(second, 1, **kw)
    state = kw["state_dir"]
    for path in (os.path.join(state, "seen_md5"),
                 os.path.join(state, "jaccard_index", "sketch"),
                 os.path.join(state, "jaccard_index", "inverted"),
                 kw["stats_path"]):
        assert _batch_ids(s, path) == {0, 1}, path
    assert sorted(map(tuple, s.read.parquet(kw["stats_path"])
                      .collect())) == stats
    _assert_mode_untouched(s, seen, "static")
