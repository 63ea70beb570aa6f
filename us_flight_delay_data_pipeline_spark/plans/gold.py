"""Gold layer: KPI derivation + the four aggregate grains
(SURVEY.md §0.1, §2.4). The reference's gold notebook is missing from
its checkout; formulas reconstructed from README.md:169-219 and the
exact output schemas pinned by the Snowflake DDL
(snowflake-wh/NB_AIRLINE_DELAY_GOLD (1).ipynb:121-145, 221-244,
289-305, 350-377).

Ambiguity resolution (SURVEY.md §7 risk register): README shows
``avg(delay_rate)`` (avg-of-ratios) while every consuming view
recomputes ``SUM/SUM`` (ratio-of-sums) — these differ numerically.
We emit ratio-of-sums for all KPI columns (the semantics the
dashboards actually display) and additionally keep the README's
row-mean as ``avg_delay_rate_rowmean`` in agg_carrier for fidelity.

Scale notes (100 TB posture):
- every aggregate is a single hash-agg with map-side partial
  aggregation; ratios are computed *from the aggregated sums*, so no
  second pass and no window;
- ``write_gold`` partitions by (carrier, year, month) exactly like the
  reference (README.md:217) → Hive-style partition pruning for
  dashboard predicates;
- carrier keys are skewed (a few mega-carriers dominate rows) — AQE
  skew handling is on in the session; the grouping key-space
  (carrier×year×month) is small so the final reduce is tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.core import rowwise_total, safe_div, year_month
from .flight_schema import CAUSE_COLUMNS

__all__ = [
    "derive_kpis", "agg_carrier", "agg_monthly", "agg_causes",
    "gold_master", "write_gold",
]


def derive_kpis(silver: DataFrame) -> DataFrame:
    """Per-row KPI ratio columns (README.md:177-183)."""
    flights = F.col("arr_flights")
    cause_total = rowwise_total([F.col(c) for c in CAUSE_COLUMNS])
    df = silver.withColumns({
        "year_month": year_month(F.col("year"), F.col("month")),
        "delay_rate": safe_div(F.col("arr_del15"), flights),
        "avg_delay_per_flight": safe_div(F.col("arr_delay"), flights),
        "cancel_rate": safe_div(F.col("arr_cancelled"), flights),
        "divert_rate": safe_div(F.col("arr_diverted"), flights),
        "cause_total": cause_total,
    })
    return df.withColumns({
        f"{c}_pct": safe_div(F.col(c), F.col("cause_total")) for c in CAUSE_COLUMNS
    })


def _sum_block() -> list[F.Column]:
    """The shared SUM set used by carrier/monthly grains (per DDL)."""
    return [
        F.sum("arr_flights").alias("total_arr_flights"),
        F.sum("arr_del15").alias("total_arr_del15"),
        F.sum("arr_delay").alias("total_arr_delay_minutes"),
        F.sum("arr_cancelled").alias("total_arr_cancelled"),
        F.sum("arr_diverted").alias("total_arr_diverted"),
        *[F.sum(c).alias(f"sum_{c}") for c in CAUSE_COLUMNS],
    ]


def _ratio_block(df: DataFrame) -> DataFrame:
    """Ratio-of-sums KPIs over the aggregated columns (the views'
    semantics, snowflake-wh/…:442-445, 475-476, 496-500)."""
    flights = F.col("total_arr_flights")
    cause_total = rowwise_total([F.col(f"sum_{c}") for c in CAUSE_COLUMNS])
    df = df.withColumns({
        "delay_rate": safe_div(F.col("total_arr_del15"), flights),
        "avg_delay_per_flight": safe_div(F.col("total_arr_delay_minutes"), flights),
        "cancel_rate": safe_div(F.col("total_arr_cancelled"), flights),
        "divert_rate": safe_div(F.col("total_arr_diverted"), flights),
        "_cause_total": cause_total,
    })
    df = df.withColumns({
        f"{c}_pct": safe_div(F.col(f"sum_{c}"), F.col("_cause_total"))
        for c in CAUSE_COLUMNS
    })
    return df.drop("_cause_total")


def agg_carrier(silver_kpi: DataFrame) -> DataFrame:
    """GOLD_CARRIER: grain (carrier, carrier_name, year, month) —
    23 DDL columns + the README's avg-of-ratios kept under a
    non-conflicting name (see module docstring)."""
    grouped = silver_kpi.groupBy("carrier", "carrier_name", "year", "month").agg(
        *_sum_block(),
        F.avg("delay_rate").alias("avg_delay_rate_rowmean"),
    )
    return _ratio_block(grouped)


def agg_monthly(silver_kpi: DataFrame) -> DataFrame:
    """GOLD_MONTHLY: grain (year, month) + year_month string key —
    22 DDL columns."""
    grouped = silver_kpi.groupBy("year", "month").agg(*_sum_block())
    return _ratio_block(
        grouped.withColumn("year_month", year_month(F.col("year"), F.col("month")))
    )


def agg_causes(silver_kpi: DataFrame) -> DataFrame:
    """GOLD_CAUSES: grain (carrier, carrier_name, year, month) →
    5 cause sums, total_cause_minutes, 5 pct columns — 15 DDL columns."""
    grouped = silver_kpi.groupBy("carrier", "carrier_name", "year", "month").agg(
        *[F.sum(c).alias(f"sum_{c}") for c in CAUSE_COLUMNS],
    )
    grouped = grouped.withColumn(
        "total_cause_minutes",
        rowwise_total([F.col(f"sum_{c}") for c in CAUSE_COLUMNS]),
    )
    return grouped.withColumns({
        f"{c}_pct": safe_div(F.col(f"sum_{c}"), F.col("total_cause_minutes"))
        for c in CAUSE_COLUMNS
    })


def gold_master(silver_kpi: DataFrame) -> DataFrame:
    """GOLD_MASTER: silver columns + derived KPI columns, row grain —
    28 DDL columns in DDL order (snowflake-wh/…:350-377). Not a join
    product (SURVEY.md §2.3)."""
    ddl_order = [
        "year", "month", "carrier", "carrier_name", "airport", "airport_name",
        "arr_flights", "arr_del15", "carrier_ct", "weather_ct", "nas_ct",
        "security_ct", "late_aircraft_ct", "arr_cancelled", "arr_diverted",
        "arr_delay", "carrier_delay", "year_month", "delay_rate",
        "avg_delay_per_flight", "cancel_rate", "divert_rate", "cause_total",
        "carrier_ct_pct", "weather_ct_pct", "nas_ct_pct", "security_ct_pct",
        "late_aircraft_ct_pct",
    ]
    return silver_kpi.select(*ddl_order)


def write_gold(df: DataFrame, path: str) -> None:
    """Partitioned parquet sink, same spec as the reference
    (README.md:217): partitionBy(carrier, year, month) → partition
    pruning for the per-carrier / per-month dashboard filters."""
    (df.write.format("parquet").mode("overwrite")
       .partitionBy("carrier", "year", "month").save(path))
