"""The SQL-text formulas in functions/core.py that the medallion
builders run. ``safe_div`` and ``decode_and_repair_body`` exist twice,
as Column builders (the registered queries, ``decode_envelope``) and as
SQL text: each pair must give the same type, the same optimized
expression and the same values. ``year_month_sql`` and
``rowwise_total_sql`` exist only as SQL text and are pinned to explicit
types and values. The body repair's fast path is held byte-for-byte to
the rule it short-cuts, over fuzzed byte bodies."""

from __future__ import annotations

import math
import random
import re
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

from us_flight_delay_data_pipeline_spark.functions.core import (
    decode_and_repair_body, decode_and_repair_body_sql, rowwise_total_sql,
    safe_div, safe_div_sql, year_month_sql)

NAN = float("nan")
DIV_CASES = {
    "double": ("a double, b double",
               [(1.0, 2.0), (3.0, 0.0), (3.0, -0.0), (0.0, 0.0), (None, 1.0),
                (1.0, None), (None, None), (NAN, 1.0), (1.0, NAN),
                (-4.5, 2.0), (-1.0, -3.0)]),
    "int": ("a int, b int",
            [(7, 2), (1, 0), (0, 0), (None, 3), (3, None), (-9, 4),
             (2024, 12)]),
    "decimal": ("a decimal(10,2), b decimal(10,2)",
                [(Decimal("1.50"), Decimal("0.00")),
                 (Decimal("-7.25"), Decimal("2.50")),
                 (None, Decimal("1.00")), (Decimal("3.00"), None),
                 (Decimal("2024.00"), Decimal("3.00"))]),
}
# (a, b) -> year_month_sql("a", "b"), per input type
YEAR_MONTH = {
    "string": ("a string, b string",
               [("2024", "3", "2024-03"), ("2024", "12", "2024-12"),
                (None, "1", "null-01"), ("x", "1", "null-01"),
                ("-5", "7", "-005-07")]),
    "int": ("a int, b int", [(2024, 12, "2024-12"), (987, 1, "0987-01")]),
    "decimal": ("a decimal(10,2), b decimal(10,2)",
                [(Decimal("2024.00"), Decimal("3.00"), "2024-03")]),
    "double": ("a double, b double", [(2024.9, 7.0, "2024-07")]),
}
# (a, b) -> rowwise_total_sql(["a", "b"]): each NULL counts as 0
ROWWISE_TOTAL = {
    "double": ("a double, b double",
               [(1.0, 2.0, 3.0), (None, 2.0, 2.0), (None, None, 0.0),
                (NAN, 1.0, NAN), (-4.5, 2.0, -2.5), (0.0, -0.0, 0.0)]),
    "int": ("a int, b int", [(7, 2, 9.0), (None, -3, -3.0)]),
    "decimal": ("a decimal(10,2), b decimal(10,2)",
                [(Decimal("1.50"), Decimal("-7.25"), -5.75),
                 (Decimal("2.00"), None, 2.0)]),
    "string": ("a string, b string",
               [("1.5", "2", 3.5), ("x", "1", 1.0), (None, None, 0.0)]),
}
# body -> repaired text: kept through the last '}', unchanged without one
BODIES = [
    ('{"a":1}', '{"a":1}'),
    ('{"a":1}junk', '{"a":1}'),
    ('{"a":"}"}\n tail', '{"a":"}"}'),
    ('{"a":', '{"a":'),
    ("", ""),
    ('{"n":"Zürich ✈"}ü✈', '{"n":"Zürich ✈"}'),
    ("✈✈", "✈✈"),
    (None, None),
]
# binary bodies that are not valid UTF-8 -> the repaired bytes. Spark
# walks characters by their lead byte, so a lead byte can swallow the
# final '}' into its character: the cut then lands before it
# (b'}\xc3}' -> b'}'). The fast path must leave these as they were.
INVALID_UTF8_BODIES = [
    (b"}\xc3}", b"}"),
    (b"a\xe2\x80}\xe2}", b"a"),
    (b"\xe2}", b"\xe2}"),
    (b'{"a":1}\xff}', b'{"a":1}\xff}'),
]


def _same(x, y) -> bool:
    if isinstance(x, float) and isinstance(y, float) and math.isnan(x):
        return math.isnan(y)
    return x == y


def _expr_plan(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "#", plan)


def _assert_pair(by_sql, by_col, n_rows):
    assert by_sql.schema == by_col.schema
    assert _expr_plan(by_sql) == _expr_plan(by_col)
    got, want = by_sql.collect(), by_col.collect()
    assert len(got) == n_rows
    assert all(_same(g.r, w.r) for g, w in zip(got, want)), (got, want)


@pytest.mark.parametrize("case", sorted(DIV_CASES))
def test_safe_div_sql_matches_column(spark, case):
    schema, rows = DIV_CASES[case]
    df = spark.createDataFrame(rows, schema)
    _assert_pair(df.select(F.expr(safe_div_sql("a", "b")).alias("r")),
                 df.select(safe_div(F.col("a"), F.col("b")).alias("r")),
                 len(rows))


@pytest.mark.parametrize("as_binary", [False, True])
def test_decode_and_repair_body_sql_matches_column(spark, as_binary):
    cases = [tuple(None if t is None else t.encode() for t in case)
             for case in BODIES]
    if as_binary:  # a STRING column cannot hold invalid UTF-8
        cases += INVALID_UTF8_BODIES
    df = spark.createDataFrame([(b,) for b, _ in cases], "body binary")
    if not as_binary:
        df = df.select(F.col("body").cast("string").alias("body"))
    by_sql = df.select(F.expr(decode_and_repair_body_sql("body")).alias("r"))
    _assert_pair(by_sql,
                 df.select(decode_and_repair_body(F.col("body")).alias("r")),
                 len(cases))
    assert by_sql.schema["r"].dataType == StringType()
    got = [None if r.b is None else bytes(r.b) for r in by_sql.select(
        F.col("r").cast("binary").alias("b")).collect()]
    assert got == [want for _, want in cases]


def _reference_repair_sql(body: str) -> str:
    """The repair rule without the fast path, frozen as the reference
    the fast path must equal: keep through the last '}' by
    reverse/locate/substr."""
    s = f"CAST({body} AS STRING)"
    rev_pos = f"locate('\\u007D', reverse({s}))"
    return (f"CASE WHEN {rev_pos} > 0 "
            f"THEN substr({s}, 1, length({s}) - {rev_pos} + 1) ELSE {s} END")


# byte classes the fuzz draws from: braces, a quote, ASCII, UTF-8 lead
# bytes (2-, 3- and 4-byte), continuation bytes and 0xFF, which never
# occurs in UTF-8. '}' is drawn most often so many bodies end in it.
_FUZZ_BYTES = (b"}" * 4 + b'{"' + b"a1: " + b"\xc3\xe2\xf0"
               + b"\x80\xa9\xbf" + b"\xff")


def test_decode_and_repair_body_fast_path_is_exact(spark):
    rng = random.Random(20011)
    bodies = [bytes(rng.choice(_FUZZ_BYTES)
                    for _ in range(rng.randint(1, 10)))
              for _ in range(20_000)]
    bodies += [None, b"", b"}", b"\xc3}", b"}\xc3"]
    df = spark.createDataFrame([(b,) for b in bodies], "body binary")
    new = f"CAST({decode_and_repair_body_sql('body')} AS BINARY)"
    old = f"CAST({_reference_repair_sql('body')} AS BINARY)"
    diff = df.where(f"NOT ({new} <=> {old})").select(
        "body", F.expr(new).alias("new"), F.expr(old).alias("old"))
    assert diff.limit(5).collect() == []
    # the fuzz reaches both sides of the guard
    stats = df.selectExpr(
        "count_if(endswith(CAST(body AS STRING), '\\u007D') "
        "AND is_valid_utf8(CAST(body AS STRING))) AS fast",
        "count_if(endswith(CAST(body AS STRING), '\\u007D') "
        "AND NOT is_valid_utf8(CAST(body AS STRING))) AS guarded").first()
    assert stats.fast > 1000 and stats.guarded > 1000, stats


@pytest.mark.parametrize("case", sorted(YEAR_MONTH))
def test_year_month_sql_values(spark, case):
    schema, rows = YEAR_MONTH[case]
    df = spark.createDataFrame([(a, b) for a, b, _ in rows], schema)
    out = df.select(F.expr(year_month_sql("a", "b")).alias("r"))
    assert out.schema["r"].dataType == StringType()
    assert [r.r for r in out.collect()] == [want for _, _, want in rows]


@pytest.mark.parametrize("case", sorted(ROWWISE_TOTAL))
def test_rowwise_total_sql_values(spark, case):
    schema, rows = ROWWISE_TOTAL[case]
    df = spark.createDataFrame([(a, b) for a, b, _ in rows], schema)
    out = df.select(F.expr(rowwise_total_sql(["a", "b"])).alias("r"))
    assert out.schema["r"].dataType == DoubleType()
    got = [r.r for r in out.collect()]
    want = [w for _, _, w in rows]
    assert all(_same(g, w) for g, w in zip(got, want)), (got, want)
    assert len(got) == len(want)
