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

from ..functions.core import rowwise_total_sql, safe_div_sql, year_month_sql
from .flight_schema import CAUSE_COLUMNS

__all__ = [
    "derive_kpis", "agg_carrier", "agg_monthly", "agg_causes",
    "gold_master", "write_gold",
]

# Each builder is one spark.sql statement over ``{src}`` (see README
# "Architecture"); nested SELECTs mirror the projection layers of the
# DataFrame chain they replaced, so the optimized plans are unchanged.

# KPI ratio -> numerator; the denominator is the flight count.
_RATIOS = {"delay_rate": "arr_del15", "avg_delay_per_flight": "arr_delay",
           "cancel_rate": "arr_cancelled", "divert_rate": "arr_diverted"}
# The shared SUM set of the carrier/monthly grains (per DDL).
_SUMS = {"total_arr_flights": "arr_flights", "total_arr_del15": "arr_del15",
         "total_arr_delay_minutes": "arr_delay",
         "total_arr_cancelled": "arr_cancelled",
         "total_arr_diverted": "arr_diverted",
         **{f"sum_{c}": c for c in CAUSE_COLUMNS}}
_SUM_BLOCK = {n: f"SUM({c})" for n, c in _SUMS.items()}
_TOTAL_OF = {c: n for n, c in _SUMS.items()}  # silver column -> its SUM
_CAUSE_SUMS = [_TOTAL_OF[c] for c in CAUSE_COLUMNS]


def _select_list(exprs: dict[str, str]) -> str:
    """``expr AS name, ...`` for a {name: SQL expression} map."""
    return ", ".join(f"{e} AS {n}" for n, e in exprs.items())


def _pcts(causes: list[str], total: str) -> str:
    return _select_list({f"{c}_pct": safe_div_sql(s, total)
                         for c, s in zip(CAUSE_COLUMNS, causes)})


def derive_kpis(silver: DataFrame) -> DataFrame:
    """Per-row KPI ratio columns (README.md:177-183)."""
    ratios = _select_list({n: safe_div_sql(num, "arr_flights")
                           for n, num in _RATIOS.items()})
    return silver.sparkSession.sql(f"""
        SELECT *, {_pcts(list(CAUSE_COLUMNS), "cause_total")}
        FROM (SELECT *, {year_month_sql("year", "month")} AS year_month,
                     {ratios},
                     {rowwise_total_sql(CAUSE_COLUMNS)} AS cause_total
              FROM {{src}})""", src=silver)


def _grain(src: DataFrame, keys: str, aggs: dict[str, str],
           year_month: bool = False) -> DataFrame:
    """Carrier/monthly grain: SUM block (+ extra aggregates) per key,
    then the ratio-of-sums KPIs over the aggregated columns (the views'
    semantics, snowflake-wh/…:442-445, 475-476, 496-500)."""
    grouped = f"SELECT {keys}, {_select_list(aggs)} FROM {{src}} GROUP BY {keys}"
    cols = [keys, *aggs]
    if year_month:
        grouped = (f"SELECT *, {year_month_sql('year', 'month')} AS year_month"
                   f" FROM ({grouped})")
        cols.append("year_month")
    ratios = _select_list({
        n: safe_div_sql(_TOTAL_OF[num], "total_arr_flights")
        for n, num in _RATIOS.items()})
    return src.sparkSession.sql(f"""
        SELECT {", ".join(cols)}, {", ".join(_RATIOS)},
               {_pcts(_CAUSE_SUMS, "_cause_total")}
        FROM (SELECT *, {ratios},
                     {rowwise_total_sql(_CAUSE_SUMS)} AS _cause_total
              FROM ({grouped}))""", src=src)


def agg_carrier(silver_kpi: DataFrame) -> DataFrame:
    """GOLD_CARRIER: grain (carrier, carrier_name, year, month) —
    23 DDL columns + the README's avg-of-ratios kept under a
    non-conflicting name (see module docstring)."""
    return _grain(silver_kpi, "carrier, carrier_name, year, month", {
        **_SUM_BLOCK, "avg_delay_rate_rowmean": "AVG(delay_rate)"})


def agg_monthly(silver_kpi: DataFrame) -> DataFrame:
    """GOLD_MONTHLY: grain (year, month) + year_month string key —
    22 DDL columns."""
    return _grain(silver_kpi, "year, month", _SUM_BLOCK, year_month=True)


def agg_causes(silver_kpi: DataFrame) -> DataFrame:
    """GOLD_CAUSES: grain (carrier, carrier_name, year, month) →
    5 cause sums, total_cause_minutes, 5 pct columns — 15 DDL columns."""
    keys = "carrier, carrier_name, year, month"
    sums = _select_list({s: _SUM_BLOCK[s] for s in _CAUSE_SUMS})
    return silver_kpi.sparkSession.sql(f"""
        SELECT *, {_pcts(_CAUSE_SUMS, "total_cause_minutes")}
        FROM (SELECT *, {rowwise_total_sql(_CAUSE_SUMS)} AS total_cause_minutes
              FROM (SELECT {keys}, {sums} FROM {{src}} GROUP BY {keys}))""",
        src=silver_kpi)


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
    return silver_kpi.sparkSession.sql(
        f"SELECT {', '.join(ddl_order)} FROM {{src}}", src=silver_kpi)


def write_gold(df: DataFrame, path: str) -> None:
    """Partitioned parquet sink, same spec as the reference
    (README.md:217): partitionBy(carrier, year, month) → partition
    pruning for the per-carrier / per-month dashboard filters."""
    (df.write.format("parquet").mode("overwrite")
       .partitionBy("carrier", "year", "month").save(path))
