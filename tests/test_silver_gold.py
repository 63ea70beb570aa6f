"""Golden pipeline tests: bronze envelope → silver → gold → views
(SURVEY.md §5 strategy 2/3), including the dirty-data and
zero-denominator contracts."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from tests.flight_fixtures import (bronze_df, dirty_bodies, encode_bodies,
                                   make_clean_rows)
from us_flight_delay_data_pipeline_spark.plans.flight_schema import (
    CAUSE_COLUMNS)
from us_flight_delay_data_pipeline_spark.plans.gold import (
    agg_carrier, agg_causes, agg_monthly, derive_kpis, gold_master)
from us_flight_delay_data_pipeline_spark.plans.silver import silver_transform
from us_flight_delay_data_pipeline_spark.plans.views import (
    dashboard_monthly_causes, dashboard_top_carriers, v_causes_pct,
    v_monthly_trend, v_overall_kpis, v_top_carriers)


@pytest.fixture(scope="module")
def clean_rows():
    return make_clean_rows(200)


@pytest.fixture(scope="module")
def silver(spark, clean_rows):
    bodies = encode_bodies(clean_rows) + dirty_bodies()
    return silver_transform(bronze_df(spark, bodies)).cache()


def test_silver_schema_and_rowcount(silver, clean_rows):
    # 200 clean rows survive + 1 repaired (trailing garbage) + 1
    # non-numeric-metric row; the 4 unparseable/truncated/null die.
    assert silver.count() == len(clean_rows) + 2
    types = dict(silver.dtypes)
    assert types["year"] == "int" and types["month"] == "int"
    for c in ("arr_flights", "arr_delay", "carrier_ct", "late_aircraft_ct"):
        assert types[c] == "double"
    assert types["carrier"] == "string"


def test_silver_bad_numeric_goes_null(silver):
    # The "not_a_number" arr_flights row is kept with NULL (TRY_CAST
    # semantics, snowflake-wh/…:508-537).
    assert silver.filter(F.col("arr_flights").isNull()).count() == 1


def test_silver_values_roundtrip(silver, clean_rows):
    # silver = 200 clean rows + dirty[0] (seed-99 row 0, repaired) +
    # dirty[5] (seed-99 row 0 with bad arr_flights; arr_delay intact)
    extra = make_clean_rows(3, seed=99)[0]
    want = sum(float(r["arr_delay"]) for r in clean_rows) + 2 * float(extra["arr_delay"])
    got = silver.agg(F.sum("arr_delay")).collect()[0][0]
    assert abs(got - want) < 1e-6


def test_zero_denominator_yields_zero(spark):
    rows = [{
        "year": "2024", "month": "1", "carrier": "ZZ", "carrier_name": "Zero",
        "airport": "AAA", "airport_name": "A", "arr_flights": "0.00",
        "arr_del15": "0.00", "carrier_ct": "0.00", "weather_ct": "0.00",
        "nas_ct": "0.00", "security_ct": "0.00", "late_aircraft_ct": "0.00",
        "arr_cancelled": "0.00", "arr_diverted": "0.00", "arr_delay": "0.00",
        "carrier_delay": "0.00",
    }]
    silver = silver_transform(bronze_df(spark, encode_bodies(rows)))
    kpi = derive_kpis(silver).collect()[0]
    # CASE WHEN 0 THEN 0 contract: 0, not NULL (snowflake-wh/…:442-445)
    assert kpi["delay_rate"] == 0.0
    assert kpi["avg_delay_per_flight"] == 0.0
    assert kpi["carrier_ct_pct"] == 0.0
    mon = v_overall_kpis(agg_monthly(derive_kpis(silver))).collect()[0]
    assert mon["delay_rate"] == 0.0


def test_gold_schemas_match_ddl(silver):
    kpi = derive_kpis(silver)
    assert len(gold_master(kpi).columns) == 28
    carrier_cols = agg_carrier(kpi).columns
    # 23 DDL columns + our avg_delay_rate_rowmean extra
    assert len([c for c in carrier_cols if c != "avg_delay_rate_rowmean"]) == 23
    assert len(agg_monthly(kpi).columns) == 22
    assert len(agg_causes(kpi).columns) == 15


def test_reaggregation_consistency(silver):
    """Property: GOLD_CARRIER totals == GOLD_MONTHLY totals (SURVEY §5.3)."""
    kpi = derive_kpis(silver).na.drop(subset=["arr_flights"])
    a = agg_carrier(kpi).agg(F.sum("total_arr_flights")).collect()[0][0]
    b = agg_monthly(kpi).agg(F.sum("total_arr_flights")).collect()[0][0]
    assert abs(a - b) < 1e-6


def test_cause_pcts_sum_to_one(silver):
    kpi = derive_kpis(silver)
    causes = agg_causes(kpi).filter(F.col("total_cause_minutes") > 0)
    bad = causes.withColumn(
        "s", sum(F.col(f"{c}_pct") for c in (
            "carrier_ct", "weather_ct", "nas_ct", "security_ct",
            "late_aircraft_ct")),
    ).filter(F.abs(F.col("s") - 1.0) > 1e-9)
    assert bad.count() == 0


def test_views_run_and_order(silver):
    kpi = derive_kpis(silver)
    monthly, carrier, causes = agg_monthly(kpi), agg_carrier(kpi), agg_causes(kpi)
    trend = v_monthly_trend(monthly).collect()
    keys = [(r["year"], r["month"]) for r in trend]
    assert keys == sorted(keys)
    top = dashboard_top_carriers(carrier, k=3).collect()
    assert len(top) <= 3
    vols = [r["total_flights"] for r in top]
    assert vols == sorted(vols, reverse=True)
    assert v_causes_pct(causes).count() == causes.count()
    assert dashboard_monthly_causes(causes).count() > 0


def test_dashboard_monthly_causes_ignores_partition_layout(spark):
    """The monthly cause rollup sums exactly: the same gold_causes rows
    in three layouts collect identical rows, although 1e16 + 1.0 - 1e16
    as doubles gives 0.0 or 1.0 depending on the addition order."""
    cols = ["sum_" + c for c in CAUSE_COLUMNS] + ["total_cause_minutes"]
    schema = "year int, month int, " + ", ".join(f"{c} double" for c in cols)
    rows = [(2024, 1, *[x] * len(cols)) for x in (1e16, 1.0, -1e16)]
    rows += [(2024, 2, *[x] * len(cols)) for x in (0.1, 0.2, 0.3)]
    layouts = ([rows[0], rows[1], rows[2]] + rows[3:],
               [rows[0], rows[2], rows[1]] + rows[5:2:-1])
    got = [dashboard_monthly_causes(spark.createDataFrame(
               spark.sparkContext.parallelize(r, n), schema)).collect()
           for r in layouts for n in (1, 3)]
    assert all(g == got[0] for g in got), got
    assert got[0][0]["sum_carrier_ct"] == 1.0
    assert got[0][1]["total_cause_minutes"] == 0.6
    assert [f.dataType.simpleString() for f in dashboard_monthly_causes(
        spark.createDataFrame(rows, schema)).schema.fields] == (
        ["int", "int"] + ["double"] * len(cols))


def _plan_nodes(plan, in_codegen=False):
    """(node name, inside a whole-stage-codegen stage, expression text)
    for every operator of an executed plan."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _plan_nodes(plan.executedPlan(), in_codegen)
        return
    if name.startswith("WholeStageCodegen") or name == "InputAdapter":
        yield from _plan_nodes(plan.child(), name != "InputAdapter")
        return
    exprs = plan.expressions()
    yield name, in_codegen, " ".join(exprs.apply(i).toString()
                                     for i in range(exprs.length()))
    kids = plan.children()
    for i in range(kids.length()):
        yield from _plan_nodes(kids.apply(i), in_codegen)


def test_silver_parses_each_body_once_outside_the_filter(spark):
    """from_json is a CodegenFallback: whatever operator holds it runs
    interpreted. Silver parses in a Generate, once per row, so the
    null-drop cannot be pushed below the parse (which would run a
    second, pruned from_json and a second repair in the Filter), and
    the repair, the Filter and the try-casts stay in codegen stages."""
    bronze = bronze_df(spark, encode_bodies(make_clean_rows(20))
                       + dirty_bodies())
    df = silver_transform(bronze, keep_cols=("offset",))
    df.collect()
    nodes = list(_plan_nodes(df._jdf.queryExecution().executedPlan()))
    assert sum(t.count("from_json(") for _, _, t in nodes) == 1, nodes
    assert not [n for n, _, t in nodes if n == "Filter" and "from_json(" in t]
    repair = [(n, cg) for n, cg, t in nodes if "reverse(" in t]
    assert repair and all(cg for _, cg in repair), repair
    assert {n for n, cg, _ in nodes if cg} >= {"Filter", "Project"}


def test_silver_keeps_a_partial_parse_with_year(spark):
    """A body whose JSON breaks after ``year`` parses to the fields
    before the break (from_json's partial results): the null-drop sees
    that ``year`` and keeps the row, the rest NULL. A year-only parse
    of the same body is NULL, so a Filter pushed below the full parse
    would drop it."""
    body = (b'{"year":"2021","month":"1","carrier":"AC",'
            b'"airport":{"AFX","arr_flights":"423.00"}')
    rows = silver_transform(bronze_df(spark, [body])).collect()
    assert [(r.year, r.month, r.carrier, r.airport, r.arr_flights)
            for r in rows] == [(2021, 1, "AC", None, None)]


def test_repartition_invariance(silver):
    """Property: gold totals invariant under repartitioning (§5.3)."""
    kpi = derive_kpis(silver)
    a = agg_monthly(kpi).agg(F.sum("total_arr_delay_minutes")).collect()[0][0]
    b = agg_monthly(kpi.repartition(17)).agg(
        F.sum("total_arr_delay_minutes")).collect()[0][0]
    assert abs(a - b) < 1e-5


def test_gold_write_partition_pruning(spark, silver, tmp_path):
    """The gold sink's partitionBy(carrier,year,month) must give the
    dashboard's per-carrier filter Hive partition pruning: the carrier
    predicate shows up as a PartitionFilter on the scan, not a data
    filter over all files."""
    from us_flight_delay_data_pipeline_spark.plans.gold import write_gold
    path = str(tmp_path / "gold_carrier")
    carrier_tbl = agg_carrier(derive_kpis(silver))
    write_gold(carrier_tbl, path)
    one = spark.read.parquet(path).filter(F.col("carrier") == "AA")
    plan = one._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "carrier" in pf
    assert one.count() == carrier_tbl.filter(F.col("carrier") == "AA").count()


def test_silver_observation_metrics(spark):
    """df.observe collects pipeline metrics in the SAME pass as the
    action — values must match explicit recomputation."""
    from tests.flight_fixtures import dirty_bodies, encode_bodies, make_clean_rows
    from us_flight_delay_data_pipeline_spark.plans.silver import (
        silver_transform, silver_transform_observed)
    from us_flight_delay_data_pipeline_spark.streaming.ingest import (
        ENVELOPE_SCHEMA)
    bodies = encode_bodies(make_clean_rows(40)) + dirty_bodies()
    rows = [(b, "0", i, None) for i, b in enumerate(bodies)]
    bronze = spark.createDataFrame(rows, ENVELOPE_SCHEMA)
    observed, obs = silver_transform_observed(bronze)
    n = observed.count()  # the action that feeds the observation
    metrics = obs.get
    assert metrics["rows_out"] == n
    assert metrics["null_year_rows"] == 0  # null-drop already applied
    expect = silver_transform(bronze)
    years = expect.agg(F.min("year"), F.max("year")).first()
    assert (metrics["min_year"], metrics["max_year"]) == tuple(years)
