"""Driver-side cost of building the medallion plans: py4j round trips.

Building silver, the KPI frame, the four gold grains, the registered
views and both dashboards runs no Spark action, so every py4j command
it sends is fixed per-step overhead. Each builder is one ``spark.sql``
statement, which keeps the whole set under ~250 commands; the
DataFrame-chain builders sent ~8,000.
"""

from __future__ import annotations

from us_flight_delay_data_pipeline_spark.plans import gold, views
from us_flight_delay_data_pipeline_spark.plans.silver import silver_transform
from us_flight_delay_data_pipeline_spark.session import count_py4j_calls

from flight_fixtures import bronze_df, dirty_bodies, encode_bodies, make_clean_rows

BUDGET = 250


def test_medallion_build_round_trips(spark):
    bronze = bronze_df(spark, encode_bodies(make_clean_rows(40)) + dirty_bodies())
    with count_py4j_calls() as calls:
        silver = silver_transform(bronze)
        kpi = gold.derive_kpis(silver)
        carrier, monthly = gold.agg_carrier(kpi), gold.agg_monthly(kpi)
        causes, master = gold.agg_causes(kpi), gold.gold_master(kpi)
        views.register_gold_views(monthly, carrier, causes, master)
        views.dashboard_top_carriers(carrier)
        views.dashboard_monthly_causes(causes)
    assert 0 < calls[0] <= BUDGET, calls[0]
    # the build registered every view
    names = {t.name for t in spark.catalog.listTables()}
    assert {"v_overall_kpis", "v_monthly_trend", "v_top_carriers",
            "v_causes_pct", "v_master_clean"} <= names
