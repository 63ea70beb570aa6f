"""Incremental materialized-view maintenance — the streaming half of
the reference's aspirational incremental refresh (README.md:281-302,
Auto Loader + MERGE / Streams + Tasks) built from the algebra the
``mergeable_partial_aggs`` query pins: algebraic aggregates (sum,
count) fold across disjoint slices, so a view can be maintained as a
LOG OF PARTIAL AGGREGATES instead of rescanning history.

Design (replay-safe by construction):

- each micro-batch writes its month-grain partials to
  ``{log}/batch_id=N/`` with dynamic partition OVERWRITE (a writer
  option, so the session's mode is untouched) — a replayed batch
  (foreachBatch at-least-once on recovery) rewrites the same
  partition with the same rows instead of double-counting;
- the VIEW is ``read_rollup``: one re-aggregation of the log (tiny —
  |months| x |batches| rows, whatever the fact volume was);
- ``compact_rollup`` folds all existing batch partitions into one,
  bounding log growth without changing the view (associativity).

Exactness: revenue folds as integer cents (floor(v*100+0.5), the
registry-wide recipe), so the maintained view is bit-equal to a
batch group-by over all the data — pinned by tests/test_matview.py.

At 100 TB: partials shuffle |keys| rows per batch, the log is
partition-pruned by batch_id, and compaction is a metadata-sized
job. This is exactly the Delta/iceberg MERGE pattern minus the
table-format dependency (delta-spark absent in this container).
"""

from __future__ import annotations

import os
import shutil
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

__all__ = ["stream_monthly_revenue_log", "log_revenue_batch", "read_rollup",
           "compact_rollup"]

_KEYS = ("year", "month")


def _partials(orders: DataFrame) -> DataFrame:
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    od = F.col("o_orderdate").cast("date")
    return (orders.groupBy(F.year(od).alias("year"),
                           F.month(od).alias("month"))
                  .agg(F.sum(cents).alias("revenue_cents"),
                       F.count("*").alias("n_orders")))


def log_revenue_batch(batch_df: DataFrame, batch_id: int, *,
                      log_path: str) -> None:
    """Write one micro-batch's month-grain partials to
    ``{log_path}/batch_id=N/``, replacing only that partition: a
    replayed batch is idempotent. Exposed at module level so tests
    (and backfills) drive the exact code ``foreachBatch`` runs."""
    (_partials(batch_df)
     .withColumn("batch_id", F.lit(batch_id).cast("bigint"))
     .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(log_path))


def stream_monthly_revenue_log(orders: DataFrame, log_path: str,
                               checkpoint: str,
                               available_now: bool = True) -> StreamingQuery:
    """orders stream -> month-grain partial-aggregate log, one
    overwritten ``batch_id`` partition per micro-batch
    (:func:`log_revenue_batch`)."""
    writer = (orders.writeStream
              .foreachBatch(partial(log_revenue_batch, log_path=log_path))
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_rollup(spark: SparkSession, log_path: str) -> DataFrame:
    """The maintained view: fold every logged partial. Output is
    (year, month, revenue_cents, n_orders) — identical to a batch
    group-by over everything ever streamed."""
    log = spark.read.parquet(log_path)
    return (log.groupBy(*_KEYS)
               .agg(F.sum("revenue_cents").alias("revenue_cents"),
                    F.sum("n_orders").alias("n_orders")))


def compact_rollup(spark: SparkSession, log_path: str) -> None:
    """Fold all batch partitions into a single ``batch_id=-1``
    partition and drop the originals — the view is unchanged
    (algebraic associativity), the log returns to |months| rows.
    Run offline, never concurrently with the stream."""
    folded = read_rollup(spark, log_path) \
        .withColumn("batch_id", F.lit(-1).cast("bigint"))
    folded.persist().count()  # materialize BEFORE touching inputs
    paths = [p for p in os.listdir(log_path)
             if p.startswith("batch_id=")]
    tmp = log_path + "__compact"
    folded.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
    folded.unpersist()
    for p in paths:
        shutil.rmtree(f"{log_path}/{p}", ignore_errors=True)
    for p in os.listdir(tmp):
        if p.startswith("batch_id="):
            shutil.move(f"{tmp}/{p}", f"{log_path}/{p}")
    shutil.rmtree(tmp, ignore_errors=True)
