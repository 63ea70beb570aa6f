"""Incremental matview maintenance: the streamed partial-aggregate
log must fold to exactly the batch answer, stay correct across a
replayed batch (dynamic partition overwrite = idempotence), and be
unchanged by compaction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from us_flight_delay_data_pipeline_spark.streaming.matview import (
    compact_rollup, log_revenue_batch, read_rollup,
    stream_monthly_revenue_log)

_SCHEMA = "o_orderkey bigint, o_custkey bigint, o_totalprice double, o_orderdate timestamp_ntz"


def _batch_answer(df):
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    od = F.col("o_orderdate").cast("date")
    return (df.groupBy(F.year(od).alias("year"), F.month(od).alias("month"))
              .agg(F.sum(cents).alias("revenue_cents"),
                   F.count("*").alias("n_orders")))


def _rows(df):
    return {(r["year"], r["month"], r["revenue_cents"], r["n_orders"])
            for r in df.collect()}


@pytest.fixture(scope="module")
def streamed(spark, sf_dir, tmp_path_factory):
    root = tmp_path_factory.mktemp("matview")
    drop = str(root / "drop")
    rows = (spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
            .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
            .orderBy("o_orderkey").collect())
    third = (len(rows) + 2) // 3
    for i in range(3):
        wave = rows[i * third:(i + 1) * third]
        if wave:
            spark.createDataFrame(wave, _SCHEMA) \
                 .coalesce(1).write.mode("append").parquet(drop)
    log = str(root / "log")
    src = (spark.readStream.schema(_SCHEMA)
           .option("maxFilesPerTrigger", 1).parquet(drop))
    q = stream_monthly_revenue_log(src, log, str(root / "ckpt"))
    q.awaitTermination(180)
    all_df = spark.createDataFrame(rows, _SCHEMA)
    waves = [rows[i * third:(i + 1) * third] for i in range(3)]
    return log, all_df, [w for w in waves if w]


def test_view_equals_batch(spark, streamed):
    log, all_df, _ = streamed
    assert _rows(read_rollup(spark, log)) == _rows(_batch_answer(all_df))


def test_replay_is_idempotent(spark, streamed):
    """Replaying batch 1 through the foreachBatch handler must
    rewrite only its own partition, with the same rows, and leave the
    folded view unchanged."""
    log, all_df, waves = streamed
    part = _rows(spark.read.parquet(f"{log}/batch_id=1"))
    # the wave that batch 1 ingested: its partials are the partition
    batch = [w for w in waves
             if _rows(_batch_answer(spark.createDataFrame(w, _SCHEMA)))
             == part]
    assert len(batch) == 1
    log_revenue_batch(spark.createDataFrame(batch[0], _SCHEMA), 1,
                      log_path=log)
    assert _rows(spark.read.parquet(f"{log}/batch_id=1")) == part
    assert _rows(read_rollup(spark, log)) == _rows(_batch_answer(all_df))


def test_compaction_preserves_view(spark, streamed):
    log, all_df, _ = streamed
    compact_rollup(spark, log)
    got = spark.read.parquet(log)
    assert {r["batch_id"] for r in got.select("batch_id").distinct()
            .collect()} == {-1}
    assert _rows(read_rollup(spark, log)) == _rows(_batch_answer(all_df))
