"""Transaction-log queries — the Delta-parity surface under the
differential gate.

The reference's silver sink is Delta (`ETL/flight-silver-
transformation (1).ipynb:1299-1305`) and its roadmap is MERGE/
time-travel refresh (README.md:281-302); delta-spark is absent here,
so `operators/txlog.py` implements the versioned-table contract over
plain parquet. These queries put that contract under the SAME
DuckDB-differential gate as every relational operator: the oracle
recomputes each snapshot's expected contents directly from the source
table, so a wrong add/remove replay, a broken time-travel resolve, or
a double-applied replay batch all surface as a value-hash mismatch.

Both queries build their TxTable idempotently in a scratch dir keyed
by (Spark applicationId, sf_dir) — `functions.core.session_scratch`,
as `graph_and_index.jaccard_index_probe` uses — so repeated runs in
one session (bench medians, driver retries) reuse the committed log,
and concurrent sessions never race on a shared path.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register
from ..functions.core import session_scratch
from ..operators.txlog import TxTable
from ..sources.registry import load_table

_AGG = ("CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)"
        " AS total_price")


def _snapshot_agg(t: TxTable, version: int) -> DataFrame:
    return (t.snapshot(version=version)
             .agg(F.count("*").alias("n_orders"),
                  F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
                   .cast("double").alias("total_price"))
             .select(F.lit(version).cast("int").alias("version"),
                     "n_orders", "total_price"))


def _ensure_tt_table(spark: SparkSession, sf_dir: str) -> TxTable:
    """The shared 4-version scratch table (append, append,
    copy-on-write DELETE of even keys, append), built idempotently;
    a partial chain from an interrupted run is rebuilt from scratch
    (appending onto it would shift every version)."""
    path = session_scratch(spark, sf_dir, "sg_tx_tt")
    t = TxTable(spark, path)
    if t.latest_version() not in (None, 3):
        import shutil
        shutil.rmtree(path, ignore_errors=True)
        t = TxTable(spark, path)
    if t.latest_version() != 3:
        orders = load_table(spark, sf_dir, "orders")
        t.append(orders.filter(F.col("o_orderkey") % 4 == 0))
        t.append(orders.filter(F.col("o_orderkey") % 4 == 1))
        t.delete_where("o_orderkey % 2 = 0")
        t.append(orders.filter(F.col("o_orderkey") % 4 >= 2))
    return t


@register(
    "txlog_time_travel",
    """
    WITH snap AS (
      SELECT CAST(0 AS INT) AS version, o_totalprice
      FROM orders WHERE o_orderkey % 4 = 0
      UNION ALL
      SELECT CAST(1 AS INT), o_totalprice
      FROM orders WHERE o_orderkey % 4 IN (0, 1)
      UNION ALL
      SELECT CAST(2 AS INT), o_totalprice
      FROM orders WHERE o_orderkey % 4 = 1
      UNION ALL
      SELECT CAST(3 AS INT), o_totalprice
      FROM orders WHERE o_orderkey % 4 IN (1, 2, 3)
    )
    SELECT version, COUNT(*) AS n_orders, {agg}
    FROM snap GROUP BY version
    """.format(agg=_AGG),
    doc="Time travel under the oracle gate: four committed versions "
        "(append, append, copy-on-write DELETE, append) over disjoint "
        "key slices of orders, then one aggregate per historical "
        "snapshot. The oracle recomputes each version's expected row "
        "set from orders algebraically (v2 = v1 minus even keys), so "
        "any error in the log replay — a remove not applied, a delete "
        "rewriting the wrong dir, a version resolving to the wrong "
        "manifest chain — breaks the value hash. At 100 TB the log "
        "stays metadata-sized (dir-granular manifests + checkpoints); "
        "snapshots read only their own immutable dirs.",
)
def txlog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _ensure_tt_table(spark, sf_dir)
    return reduce(DataFrame.unionByName,
                  [_snapshot_agg(t, v) for v in range(4)])


@register(
    "txlog_change_data_feed",
    """
    WITH ch AS (
      SELECT 1 AS commit_version, 'insert' AS change_type, o_totalprice
      FROM orders WHERE o_orderkey % 4 = 1
      UNION ALL
      SELECT 2, 'delete', o_totalprice
      FROM orders WHERE o_orderkey % 4 = 0
      UNION ALL
      SELECT 3, 'insert', o_totalprice
      FROM orders WHERE o_orderkey % 4 IN (2, 3)
    )
    SELECT commit_version, change_type, COUNT(*) AS n_rows, {agg}
    FROM ch GROUP BY 1, 2
    """.format(agg=_AGG),
    doc="Change data feed under the oracle gate: changes(0, 3) over "
        "the 4-version scratch table must emit exactly v1's appended "
        "rows as inserts, v2's copy-on-write DELETE as deletes of the "
        "even-key dir it rewrote (its empty replacement contributes "
        "nothing), and v3's append as inserts — the oracle derives "
        "each commit's delta algebraically from orders. CDF reads "
        "touch only the dirs the commits added/removed, never the "
        "full table, which is what makes downstream incremental "
        "consumers (sync to a search index, feature store refresh) "
        "cost O(delta) at 100 TB.",
)
def txlog_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _ensure_tt_table(spark, sf_dir)
    ch = t.changes(0, 3)
    return (ch.groupBy(F.col("_commit_version").alias("commit_version"),
                       F.col("_change_type").alias("change_type"))
              .agg(F.count("*").alias("n_rows"),
                   F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
                    .cast("double").alias("total_price")))


@register(
    "txlog_exactly_once_replay",
    """
    SELECT COUNT(*) AS n_orders, {agg}
    FROM orders
    """.format(agg=_AGG),
    doc="Exactly-once sink semantics under the oracle gate: orders "
        "arrives as three foreachBatch micro-batches committed through "
        "commit_once with token sink/<batch_id>, and batch 1 is "
        "REPLAYED (the post-crash foreachBatch contract). The final "
        "table must equal plain orders — a duplicate append from the "
        "replay doubles a third of the rows and breaks both count and "
        "hash. Token lookups are bounded by the log checkpoint, so "
        "the dedup check never replays the full history.",
)
def txlog_exactly_once_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = session_scratch(spark, sf_dir, "sg_tx_eo")
    t = TxTable(spark, path)
    if t.latest_version() not in (None, 2):  # interrupted build: reset
        import shutil
        shutil.rmtree(path, ignore_errors=True)
        t = TxTable(spark, path)
    if t.latest_version() is None:
        orders = load_table(spark, sf_dir, "orders")
        for bid in (0, 1, 1, 2):  # batch 1 replayed
            t.commit_once(orders.filter(F.col("o_orderkey") % 3 == bid),
                          token=f"sink/{bid}")
    return (t.snapshot()
             .agg(F.count("*").alias("n_orders"),
                  F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
                   .cast("double").alias("total_price")))
