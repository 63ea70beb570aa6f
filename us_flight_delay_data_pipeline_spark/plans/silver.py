"""Silver transform: bronze envelope → flat typed table (SURVEY.md EP2).

One pure function so the exact same logical plan serves batch
(``spark.read``) and streaming (``foreachBatch``) — the reference ran
this as a Databricks notebook over captured Avro
(ETL/flight-silver-transformation (1).ipynb cells 0-10); here it is
one five-step SQL statement with **zero Python UDFs**, so the whole
path stays inside whole-stage codegen and the vectorized readers
(the reference's decode UDF forced a BatchEvalPython break — we
replace it with native expressions, SURVEY.md §2.8-F3).

Steps (each cites the reference cell it reproduces):
1. decode+repair   — ETL/…ipynb:1194-1206, 1219  (native, not UDF)
2. from_json parse — ETL/…ipynb:1226 (explicit 17-string schema :1172-1189)
3. flatten struct  — ETL/…ipynb:1226-1229 (`select("data.*")`)
4. null-drop       — ETL/…ipynb:1229 (`na.drop(subset=["year"])`, here
                     ``WHERE year IS NOT NULL``)
5. cast ×13        — ETL/…ipynb:1234-1246 (try-cast semantics)

Steps 2 and 3 are one Generate, ``inline(array(from_json(...)))``.
``from_json`` is a ``CodegenFallback``, so the operator that holds it
runs interpreted. Written as a Project, the optimizer would also push
the null-drop below the parse by substituting the alias, leaving an
interpreted Filter that runs a second ``from_json`` (pruned to
``year``) and a second repair on every row. A Generate's output stops
that pushdown: each body is repaired once in a codegen'd Project, parsed
once in the Generate, and the Filter and the casts above it are
codegen'd too (plans/silver_parse/).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.core import decode_and_repair_body_sql, find_column_ci
from .flight_schema import FLIGHT_PAYLOAD_SCHEMA, PAYLOAD_FIELDS, SILVER_CASTS

__all__ = ["silver_transform", "write_silver", "write_silver_versioned"]

# from_json's schema as DDL: the 17 nullable string payload fields.
_PAYLOAD_DDL = ", ".join(f"`{f.name}` {f.dataType.simpleString().upper()}"
                         for f in FLIGHT_PAYLOAD_SCHEMA.fields)
# Step 5: try-cast in place, payload order kept.
_CAST_LIST = ", ".join(
    f"TRY_CAST({f} AS {SILVER_CASTS[f].upper()}) AS {f}" if f in SILVER_CASTS
    else f for f in PAYLOAD_FIELDS)


def silver_transform(bronze: DataFrame,
                     keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Envelope frame (binary ``body`` + metadata) → typed silver table.

    Corrupt handling contract: truncated JSON is trimmed to its last
    ``'}'``; anything that still fails ``from_json`` parses to a NULL
    struct and dies at the null-drop on ``year`` — identical to the
    reference's failure path. A body whose JSON breaks after some
    fields parses to those fields (Spark's partial results), the rest
    NULL, and is kept when ``year`` is among them.

    ``keep_cols``: envelope columns to carry through the parse (the
    reference drops all broker metadata at ``select("data.*")``; the
    streaming layer needs ``enqueued_at`` for event-time windows).

    One ``spark.sql`` statement, one nested SELECT per step.
    """
    body = find_column_ci(bronze, "body")  # case-insensitive, raises if absent
    keep = "".join(f", `{c}`" for c in keep_cols)
    body_str = decode_and_repair_body_sql(f"`{body}`")  # step 1
    return bronze.sparkSession.sql(f"""
        SELECT {_CAST_LIST}{keep}
        FROM (SELECT inline(array(from_json(body_str, '{_PAYLOAD_DDL}'))){keep}
              FROM (SELECT *, {body_str} AS body_str FROM {{src}}))
        WHERE year IS NOT NULL""", src=bronze)


def write_silver(df: DataFrame, path: str) -> None:
    """Silver sink. Delta when delta-spark is on the classpath
    (reference: ETL/…ipynb:1299-1305, overwrite + overwriteSchema),
    parquet otherwise — same table contract either way."""
    try:
        (df.write.format("delta").mode("overwrite")
           .option("overwriteSchema", "true").save(path))
    except Exception:
        df.write.format("parquet").mode("overwrite").save(path)


def write_silver_versioned(df: DataFrame, path: str) -> int:
    """Silver sink with the full Delta table contract reproduced
    natively (operators/txlog.py): the overwrite is an atomic
    committed version — concurrent readers keep their snapshot,
    history stays time-travelable, and ``overwriteSchema`` semantics
    come free (each commit records its own schema). Returns the
    committed version. Use this instead of ``write_silver`` when the
    silver table needs audit/rollback (the reference's Delta sink,
    ETL/…ipynb:1299-1305)."""
    from ..operators.txlog import TxTable
    return TxTable(df.sparkSession, path).overwrite(df)


def silver_transform_observed(bronze: DataFrame,
                              keep_cols: tuple[str, ...] = ()):
    """``silver_transform`` instrumented with ``df.observe``: returns
    ``(silver_df, observation)`` where the Observation collects
    pipeline health metrics DURING the next action on the result —
    zero extra passes, unlike a diagnostic ``count()`` (the
    reference's notebooks re-count the frame at every stage,
    ETL/…ipynb:700, 1251; Observation is the Spark-native way to get
    those numbers for free).

    Metrics, all over the rows the silver frame emits:
    ``rows_out`` (rows that survived the null-drop on ``year``),
    ``null_year_rows`` (of those, rows whose ``year`` then failed the
    int try-cast and is NULL), ``min_year`` and ``max_year``. Read
    ``observation.get`` AFTER an action has run.
    """
    from pyspark.sql import Observation

    obs = Observation("silver_health")
    parsed = silver_transform(bronze, keep_cols=keep_cols)
    observed = parsed.observe(
        obs,
        F.count(F.lit(1)).alias("rows_out"),
        F.sum(F.when(F.col("year").isNotNull(), 0).otherwise(1))
         .alias("null_year_rows"),
        F.min("year").alias("min_year"),
        F.max("year").alias("max_year"),
    )
    return observed, obs
