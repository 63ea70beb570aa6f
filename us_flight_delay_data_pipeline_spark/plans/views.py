"""Analytic views + dashboard queries (SURVEY.md §2 A4-A6, O1-O2, EP3).

The reference defines 5 Snowflake views and 6 dashboard queries over
the gold tables (snowflake-wh/NB_AIRLINE_DELAY_GOLD (1).ipynb:433-537,
555-650). Here the warehouse collapses into Spark itself: each view is
the reference's SQL text, run as one ``spark.sql`` statement — over a
DataFrame by the view functions (``{gold_*}`` bound by spark.sql's
formatter) and over the registered gold tables by
``register_gold_views`` — one system instead of three (Spark → Blob →
Snowflake).

All ratio KPIs use the CASE-WHEN-0/NULLIF zero-guard via
``safe_div_sql`` (returns 0, not NULL, on zero denominators — exact
contract match).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.core import safe_div_sql
from .flight_schema import CAUSE_COLUMNS

__all__ = [
    "v_overall_kpis", "v_monthly_trend", "v_top_carriers", "v_causes_pct",
    "v_master_clean", "dashboard_top_carriers", "dashboard_monthly_causes",
    "register_gold_views",
]

# snowflake-wh/…:433-446: grand-total single-row KPI view.
V_OVERALL_KPIS = f"""
SELECT *,
       {safe_div_sql("total_del15", "total_arrivals")} AS delay_rate,
       {safe_div_sql("total_delay_minutes", "total_arrivals")} AS avg_delay_per_flight
FROM (SELECT MAX(year) AS latest_year, MAX(month) AS latest_month,
             SUM(total_arr_flights) AS total_arrivals,
             SUM(total_arr_del15) AS total_del15,
             SUM(total_arr_delay_minutes) AS total_delay_minutes,
             SUM(total_arr_cancelled) AS total_cancelled,
             SUM(total_arr_diverted) AS total_diverted
      FROM {{gold_monthly}})"""

# snowflake-wh/…:452-463: ordered monthly trend for line charts.
V_MONTHLY_TREND = f"""
SELECT year, month, year_month,
       total_arr_flights, total_arr_del15, total_arr_delay_minutes,
       {safe_div_sql("total_arr_del15", "total_arr_flights")} AS delay_rate,
       {safe_div_sql("total_arr_delay_minutes", "total_arr_flights")} AS avg_delay_per_flight
FROM {{gold_monthly}}
ORDER BY year, month"""

# snowflake-wh/…:468-479: per-carrier re-aggregation ordered by volume.
V_TOP_CARRIERS = f"""
SELECT *,
       {safe_div_sql("total_del15", "total_flights")} AS delay_rate,
       {safe_div_sql("total_delay_minutes", "total_flights")} AS avg_delay_per_flight
FROM (SELECT carrier, carrier_name,
             SUM(total_arr_flights) AS total_flights,
             SUM(total_arr_del15) AS total_del15,
             SUM(total_arr_delay_minutes) AS total_delay_minutes
      FROM {{gold_carrier}}
      GROUP BY carrier, carrier_name)
ORDER BY total_flights DESC"""

# snowflake-wh/…:484-502: cause-share recomputation per carrier/month.
V_CAUSES_PCT = f"""
SELECT carrier, carrier_name, year, month,
       sum_carrier_ct, sum_weather_ct, sum_nas_ct, sum_security_ct,
       sum_late_aircraft_ct, total_cause_minutes,
       {", ".join(safe_div_sql(f"sum_{c}", "total_cause_minutes") + f" AS {c}_pct_calc"
                  for c in CAUSE_COLUMNS)}
FROM {{gold_causes}}
ORDER BY year, month, carrier"""

# snowflake-wh/…:633-639: cause rollup by month. The doubles are summed
# as DECIMAL(38,6), as the registered queries do: decimal addition is
# exact, so the sums do not follow the partial-aggregation order, and
# each comes back as a DOUBLE. A NaN or infinite input has no decimal
# and is summed as NULL.
_CAUSE_SUMS = [f"sum_{c}" for c in CAUSE_COLUMNS] + ["total_cause_minutes"]
DASHBOARD_MONTHLY_CAUSES = f"""
SELECT year, month,
       {", ".join(f"CAST(SUM(CAST({col} AS DECIMAL(38,6))) AS DOUBLE) AS {col}"
                  for col in _CAUSE_SUMS)}
FROM {{gold_causes}}
GROUP BY year, month
ORDER BY year, month"""

# v_master_clean's TRY_CAST targets (snowflake-wh/…:508-537).
_MASTER_CASTS = {
    "year": "INT", "month": "INT",
    **{c: "DOUBLE" for c in (
        "arr_flights", "arr_del15", "carrier_ct", "weather_ct", "nas_ct",
        "security_ct", "late_aircraft_ct", "arr_cancelled", "arr_diverted",
        "arr_delay", "carrier_delay", "delay_rate", "avg_delay_per_flight",
        "cancel_rate", "divert_rate", "cause_total", "carrier_ct_pct",
        "weather_ct_pct", "nas_ct_pct", "security_ct_pct",
        "late_aircraft_ct_pct")},
}


def _master_clean_sql(columns: list[str]) -> str:
    """V_MASTER_CLEAN over a master with ``columns``, in their order."""
    return "SELECT " + ", ".join(
        f"TRY_CAST({c} AS {_MASTER_CASTS[c]}) AS {c}" if c in _MASTER_CASTS
        else c for c in columns) + " FROM {gold_master}"


def v_overall_kpis(gold_monthly: DataFrame) -> DataFrame:
    """Grand-total single-row KPI view (snowflake-wh/…:433-446)."""
    return gold_monthly.sparkSession.sql(V_OVERALL_KPIS,
                                         gold_monthly=gold_monthly)


def v_monthly_trend(gold_monthly: DataFrame) -> DataFrame:
    """Ordered monthly trend for line charts (snowflake-wh/…:452-463)."""
    return gold_monthly.sparkSession.sql(V_MONTHLY_TREND,
                                         gold_monthly=gold_monthly)


def v_top_carriers(gold_carrier: DataFrame) -> DataFrame:
    """Per-carrier re-aggregation ordered by volume
    (snowflake-wh/…:468-479)."""
    return gold_carrier.sparkSession.sql(V_TOP_CARRIERS,
                                         gold_carrier=gold_carrier)


def v_causes_pct(gold_causes: DataFrame) -> DataFrame:
    """Cause-share recomputation per carrier/month
    (snowflake-wh/…:484-502)."""
    return gold_causes.sparkSession.sql(V_CAUSES_PCT, gold_causes=gold_causes)


def v_master_clean(gold_master: DataFrame) -> DataFrame:
    """Safe-cast passthrough of GOLD_MASTER (snowflake-wh/…:508-537),
    columns in the master's order. Our gold is already typed, so the
    TRY_CASTs are no-op try_casts — kept so the view survives a
    string-typed master ingested from an external stage."""
    return gold_master.sparkSession.sql(_master_clean_sql(gold_master.columns),
                                        gold_master=gold_master)


def dashboard_top_carriers(gold_carrier: DataFrame, k: int = 20) -> DataFrame:
    """Dashboard bar chart: top-k carriers by volume
    (snowflake-wh/…:617-620). Spark plans TakeOrderedAndProject — no
    global sort materialization."""
    return gold_carrier.sparkSession.sql(f"{V_TOP_CARRIERS}\nLIMIT {int(k)}",
                                         gold_carrier=gold_carrier)


def dashboard_monthly_causes(gold_causes: DataFrame) -> DataFrame:
    """Cause rollup by month (snowflake-wh/…:633-639)."""
    return gold_causes.sparkSession.sql(DASHBOARD_MONTHLY_CAUSES,
                                        gold_causes=gold_causes)


def register_gold_views(gold_monthly: DataFrame, gold_carrier: DataFrame,
                        gold_causes: DataFrame,
                        gold_master: DataFrame) -> None:
    """Register the gold tables and the five views for spark.sql use:
    the views are the same SQL text, over the registered table names."""
    tables = {"gold_monthly": gold_monthly, "gold_carrier": gold_carrier,
              "gold_causes": gold_causes, "gold_master": gold_master}
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    views = {"v_overall_kpis": V_OVERALL_KPIS,
             "v_monthly_trend": V_MONTHLY_TREND,
             "v_top_carriers": V_TOP_CARRIERS,
             "v_causes_pct": V_CAUSES_PCT,
             "v_master_clean": _master_clean_sql(gold_master.columns)}
    spark = gold_monthly.sparkSession
    for name, text in views.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {name} AS "
                  + text.format(**{t: t for t in tables}))
