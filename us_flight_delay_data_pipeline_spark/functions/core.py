"""Core scalar expressions for the medallion pipeline.

Each function mirrors a scalar-function row in SURVEY.md §2.8 and cites
the reference behavior it reproduces. All are native Column
expressions — they stay inside whole-stage codegen (the reference's one
Python UDF is deliberately replaced by native ops here, see
``decode_and_repair_body``).

The medallion builders (``plans/``) emit one ``spark.sql`` statement
per step instead of building Columns one py4j call at a time, so their
formulas come as SQL text (``*_sql``). ``year_month_sql`` and
``rowwise_total_sql`` have no Column form; ``safe_div`` and
``decode_and_repair_body`` keep theirs for the registered queries, and
tests/test_sql_helpers.py holds each pair equal.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "safe_div", "decode_and_repair_body", "normalize_columns_lower",
    "rebalance", "arr_str", "safe_div_sql", "year_month_sql",
    "rowwise_total_sql", "decode_and_repair_body_sql",
]


def arr_str(col: Column | str, sep: str = ",") -> Column:
    """Serialize an array column to a deterministic delimited string.

    The driver's correctness canonicalizer pandas-sorts result columns
    and cannot hash list-valued cells, so registered queries never
    emit array/map/struct output columns — any list-valued result is
    flattened through this helper, matched by DuckDB
    ``array_to_string(..., sep)`` in the oracle SQL. Element order must
    already be deterministic (sorted or positional) before serializing.
    """
    col = F.col(col) if isinstance(col, str) else col
    return F.array_join(F.transform(col, lambda x: x.cast("string")), sep)


def rebalance(df: DataFrame) -> DataFrame:
    """Round-robin repartition to cluster parallelism before a
    CPU-heavy projection.

    Text/JSON-per-row pipelines are often compute-bound on inputs that
    are small in *bytes* — the file scan's byte-based splitting (and
    AQE's byte-based coalescing) then runs the whole projection in one
    or two tasks. One cheap shuffle of raw rows buys full-width
    compute. At 100 TB the scan is already wide, so this degrades to a
    proportionally tiny rebalance; an explicit numPartitions keeps AQE
    from re-coalescing it."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def safe_div(num: Column, den: Column) -> Column:
    """Zero-guarded division: 0 when the denominator is 0 or NULL.

    Reproduces the reference KPI guard
    ``CASE WHEN SUM(f)=0 THEN 0 ELSE SUM(x)/NULLIF(SUM(f),0) END``
    (snowflake-wh/NB_AIRLINE_DELAY_GOLD (1).ipynb:442-445) — note the
    result is **0, not NULL**, for a zero denominator; oracle SQL must
    match exactly (SURVEY.md §7 risk register).
    """
    return F.when(den.isNull() | (den == 0), F.lit(0.0)).otherwise(num / den)


def safe_div_sql(num: str, den: str) -> str:
    """``safe_div`` over two SQL expressions, as SQL text."""
    return (f"CASE WHEN ({den}) IS NULL OR ({den}) = 0 THEN 0.0D "
            f"ELSE ({num}) / ({den}) END")


def year_month_sql(year: str, month: str) -> str:
    """``"YYYY-MM"`` string key, zero-padded, as SQL text over two SQL
    expressions.

    The GOLD_MONTHLY / GOLD_MASTER tables carry a ``year_month STRING``
    column (snowflake-wh/NB_AIRLINE_DELAY_GOLD (1).ipynb:224,368).
    """
    return (f"format_string('%04d-%02d', CAST({year} AS INT), "
            f"CAST({month} AS INT))")


def rowwise_total_sql(cols: Iterable[str]) -> str:
    """Null-safe row-wise sum (each NULL contributes 0), as SQL text
    over SQL expressions.

    Reproduces ``cause_total = carrier_ct + weather_ct + nas_ct +
    security_ct + late_aircraft_ct`` (README.md:182) where the
    reference's Snowflake side effectively zero-fills via TRY_CAST
    guards.
    """
    return "0.0D" + "".join(
        f" + coalesce(CAST({c} AS DOUBLE), 0.0D)" for c in cols)


def decode_and_repair_body(body: Column) -> Column:
    """binary → UTF-8 string, truncated-JSON repair: keep the prefix
    through the **last** ``'}'``; unchanged if no ``'}'`` at all.

    Replaces the reference's single Python UDF ``decode_and_trim_bytes``
    (ETL/flight-silver-transformation (1).ipynb:1194-1206) with native
    expressions so the silver path stays in whole-stage codegen — the
    UDF was the one place the reference broke vectorization
    (SURVEY.md §4 "vectorized execution").

    Semantics preserved exactly (SURVEY.md §7 risk register): a
    truncated flat JSON object with no closing brace yields an
    unparseable fragment → row dies downstream at the null-drop, same
    as the reference.

    Fast path: a text that ends with the byte ``'}'`` and is valid
    UTF-8 comes back unchanged, skipping the ``reverse``/``locate``/
    ``substr`` walk that every intact body would otherwise pay. This is
    exact: in valid UTF-8 the byte 0x7D only ever encodes ``'}'``, so
    the last character is that ``'}'`` and the general rule keeps the
    whole text too. Without the validity term it would not be: over
    invalid UTF-8 Spark's character walk can swallow the final ``'}'``
    into a lead byte's character (``b'}\xc3}'`` repairs to ``'}'``).
    """
    s = body.cast("string")
    # position of last '}' = length - locate('}', reverse) + 1; 0 if absent
    rev_pos = F.locate("}", F.reverse(s))
    last_brace = F.length(s) - rev_pos + 1
    # '}' present → keep prefix through it; absent → pass through
    # unchanged (the fragment then fails from_json → null-drop, exactly
    # the reference's failure path).
    return (F.when(s.endswith("}") & F.is_valid_utf8(s), s)
             .when(rev_pos > 0, s.substr(F.lit(1), last_brace))
             .otherwise(s))


def decode_and_repair_body_sql(body: str) -> str:
    """``decode_and_repair_body`` over a SQL expression, as SQL text,
    with the same exact fast path first (see there): a valid UTF-8
    text ending in ``'}'`` is returned as is.

    The ``'}'`` is spelled ``'\\u007D'``, so the text holds no brace and
    goes unescaped both into ``F.expr`` and into
    ``spark.sql(text, **kwargs)``, which formats its text by
    ``str.format`` rules.
    """
    s = f"CAST({body} AS STRING)"
    rev_pos = f"locate('\\u007D', reverse({s}))"
    return (f"CASE WHEN endswith({s}, '\\u007D') AND is_valid_utf8({s}) "
            f"THEN {s} WHEN {rev_pos} > 0 "
            f"THEN substr({s}, 1, length({s}) - {rev_pos} + 1) ELSE {s} END")


def normalize_columns_lower(df: DataFrame) -> DataFrame:
    """Lower-case all column names (case-insensitive by-name matching).

    Mirrors the reference's defensive case-insensitive ``body`` column
    detection (ETL/…ipynb:1212-1216) and Snowflake's
    ``MATCH_BY_COLUMN_NAME=CASE_INSENSITIVE`` (snowflake-wh/…:192).
    """
    return df.toDF(*[c.lower() for c in df.columns])


def find_column_ci(df: DataFrame, name: str) -> str:
    """Case-insensitive column lookup; raises if absent (the reference
    raises RuntimeError when no ``body`` column exists,
    ETL/…ipynb:1212-1216)."""
    for c in df.columns:
        if c.lower() == name.lower():
            return c
    raise RuntimeError(f"column {name!r} not found (case-insensitive) in {df.columns}")


_SCRATCH_REGISTERED: set[str] = set()


def cleanup_at_exit(path: str) -> None:
    """Mark a session-scoped scratch directory for removal at
    interpreter exit, so repeated driver/bench sessions do not
    accumulate dirs in /tmp. Callers key scratch paths by Spark
    applicationId, so no other live session can be using the path.
    Idempotent per path."""
    if path in _SCRATCH_REGISTERED:
        return
    _SCRATCH_REGISTERED.add(path)
    import atexit
    atexit.register(shutil.rmtree, path, True)


def session_scratch(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """The session-scoped scratch path
    ``{tmp}/{prefix}_{applicationId}_{md5(sf_dir)[:12]}``, registered
    with :func:`cleanup_at_exit`. Keyed by (sf_dir, applicationId):
    repeated runs in one session share it, and concurrent sessions
    against the same sf_dir get disjoint paths."""
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    app = spark.sparkContext.applicationId
    path = os.path.join(tempfile.gettempdir(), f"{prefix}_{app}_{tag}")
    cleanup_at_exit(path)
    return path


_LAYOUT_MARKER = "_SUCCESS_LAYOUT"


def publish_once(path: str, build: Callable[[str], object]) -> str:
    """Build the layout at ``path`` once, and publish it whole.

    ``build(staged)`` writes into a private ``{path}.staging.<uuid>``
    directory; the ``_SUCCESS_LAYOUT`` marker is written last and one
    ``os.rename`` publishes it, so no caller ever reads a half-built
    layout. A path whose marker exists is published and is not
    rebuilt. When another builder published first, the loser drops
    its staging directory and uses the winner's layout (the inputs
    are deterministic, so the two are the same). A ``build`` that
    raises leaves no staging directory behind, and the next call
    builds again. Both paths are removed at interpreter exit.

    Readers must skip ``_``-prefixed files (Spark and
    ``sources/pyds.py`` both do), since the marker sits beside the
    data. Returns ``path``."""
    marker = os.path.join(path, _LAYOUT_MARKER)
    if os.path.exists(marker):
        return path
    cleanup_at_exit(path)
    staged = f"{path}.staging.{uuid.uuid4().hex[:12]}"
    cleanup_at_exit(staged)
    try:
        build(staged)
        open(os.path.join(staged, _LAYOUT_MARKER), "w").close()
    except BaseException:
        shutil.rmtree(staged, ignore_errors=True)
        raise
    try:
        os.rename(staged, path)
    except OSError:
        shutil.rmtree(staged, ignore_errors=True)
        if not os.path.exists(marker):
            raise
    return path
