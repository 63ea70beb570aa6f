"""Scalar-function and silver-path coverage queries (SURVEY.md §2.8).

``envelope_silver_roundtrip`` is the important one: it runs the ENTIRE
silver contract (JSON-envelope encode → binary → decode+truncation
repair → from_json → null-drop → try-cast → aggregate) under the
driver's DuckDB oracle gate, including corrupt bodies — the oracle
mirrors the byte-level repair semantics (trim to last '}').

Numeric-function coverage sticks to operations with exactly-defined
IEEE semantics (abs/ceil/floor/round/sqrt/mod) — exp/ln/pow are
platform-library dependent in the last bit and would flake the
value-hash comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.core import arr_str
from ..sources.registry import load_table
from . import register
from .relational import DEC, dsum, _osum


@register(
    "envelope_silver_roundtrip",
    f"""
    WITH payload AS (
      SELECT to_json(struct_pack(
               orderkey := o_orderkey::VARCHAR,
               status := o_orderstatus,
               custkey := o_custkey::VARCHAR,
               totalprice := printf('%.2f', o_totalprice)))
             || CASE WHEN o_orderkey % 3 = 0 THEN 'TRAILING-GARBAGE' ELSE '' END
             AS s
      FROM orders
    ),
    repaired AS (
      SELECT CASE WHEN strpos(reverse(s), '}}') > 0
                  THEN s[1 : length(s) - strpos(reverse(s), '}}') + 1]
                  ELSE s END AS body_str
      FROM payload
    ),
    parsed AS (
      SELECT TRY_CAST(json_extract_string(body_str, '$.orderkey') AS BIGINT) AS orderkey,
             json_extract_string(body_str, '$.status') AS status,
             TRY_CAST(json_extract_string(body_str, '$.custkey') AS BIGINT) AS custkey,
             TRY_CAST(json_extract_string(body_str, '$.totalprice') AS DOUBLE) AS totalprice
      FROM repaired
    )
    SELECT status, COUNT(*) AS n_orders,
           {_osum('totalprice')} AS total_price,
           CAST(max(custkey) AS BIGINT) AS max_custkey
    FROM parsed WHERE orderkey IS NOT NULL
    GROUP BY status
    """,
    doc="The full silver contract (EP2) under the oracle gate: "
        "JSON-in-binary envelope with deliberate trailing corruption on "
        "1/3 of rows → native decode + trim-to-last-'}}' repair "
        "(ETL/…ipynb:1194-1206 semantics, zero Python UDFs) → "
        "from_json → null-drop → try-cast → aggregate.",
)
def envelope_silver_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import StringType, StructField, StructType
    from ..functions.core import decode_and_repair_body, rebalance
    # per-row JSON encode→decode→parse is compute-bound on small
    # bytes: spread it across the cluster first
    o = rebalance(load_table(spark, sf_dir, "orders"))
    payload = F.concat(
        F.to_json(F.struct(
            F.col("o_orderkey").cast("string").alias("orderkey"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_custkey").cast("string").alias("custkey"),
            F.format_string("%.2f", F.col("o_totalprice")).alias("totalprice"),
        )),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("TRAILING-GARBAGE"))
         .otherwise(F.lit("")),
    )
    bronze = o.select(F.encode(payload, "UTF-8").alias("body"))
    schema = StructType([StructField(f, StringType(), True)
                         for f in ("orderkey", "status", "custkey", "totalprice")])
    # parse in a Generate, inline(array(from_json(...))), as silver
    # does (plans/silver.py): the null-drop filter on a parsed field
    # cannot be pushed below a Generate's output, so it stays above
    # the rebalance exchange instead of dragging a second, pruned
    # encode->decode->from_json chain into the single-task scan stage
    parsed = (bronze
              .select(decode_and_repair_body(F.col("body")).alias("body_str"))
              .select(F.inline(F.array(F.from_json("body_str", schema)))))
    silver = (parsed
              .na.drop(subset=["orderkey"])
              .withColumns({"orderkey": F.col("orderkey").try_cast("bigint"),
                            "custkey": F.col("custkey").try_cast("bigint"),
                            "totalprice": F.col("totalprice").try_cast("double")}))
    return silver.groupBy("status").agg(
        F.count("*").alias("n_orders"),
        dsum("totalprice").alias("total_price"),
        F.max("custkey").alias("max_custkey"),
    )


@register(
    "avro_bronze_roundtrip",
    f"""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n_orders,
           {_osum("TRY_CAST(printf('%.2f', o_totalprice) AS DOUBLE)")}
             AS total_price,
           CAST(max(o_orderkey) AS BIGINT) AS max_orderkey
    FROM orders GROUP BY o_orderstatus
    """,
    doc="The reference's ACTUAL bronze wire format under the oracle "
        "gate: orders → JSON-in-binary envelope → written as Avro "
        "OBJECT CONTAINER FILES by Spark's JVM AvroFileFormat (named "
        "by the class pyspark ships in spark-sql core; deflate, 1 MiB "
        "blocks, one file per write task) → FileScan avro → decode + "
        "from_json + try_cast → aggregate. The roundtrip is an "
        "identity on the payload, so the oracle computes the same "
        "aggregate straight "
        "from orders — any codec or schema-mapping defect breaks the "
        "match (ETL/flight-silver-transformation ipynb:574-578 reads "
        "Event Hubs Capture avro).",
)
def avro_bronze_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import StringType, StructField, StructType

    from ..functions.core import (decode_and_repair_body, rebalance,
                                  session_scratch)
    from ..sources.envelope import (encode_envelope, read_envelope_bronze,
                                    write_envelope_bronze)
    o = rebalance(load_table(spark, sf_dir, "orders")).select(
        F.col("o_orderkey").cast("string").alias("orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.format_string("%.2f", F.col("o_totalprice")).alias("totalprice"))
    env = encode_envelope(o, produced_at=False)
    # per-session scratch; mode=overwrite per call, removed at exit
    path = session_scratch(spark, sf_dir, "avro_bronze")
    write_envelope_bronze(env, path, fmt="avro")
    bronze = read_envelope_bronze(spark, path, fmt="avro")
    schema = StructType([StructField(f, StringType(), True)
                         for f in ("orderkey", "status", "totalprice")])
    parsed = (bronze
              .withColumn("body_str",
                          decode_and_repair_body(F.col("body")))
              .select(F.from_json("body_str", schema).alias("d"))
              .select("d.*"))
    return parsed.groupBy("status").agg(
        F.count("*").alias("n_orders"),
        dsum(F.col("totalprice").try_cast("double")).alias("total_price"),
        F.max(F.col("orderkey").try_cast("bigint")).alias("max_orderkey"))


@register(
    "string_funcs",
    """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           substr(c_name, 1, 8) AS name_prefix,
           CAST(length(c_name) AS INTEGER) AS name_len,
           replace(c_mktsegment, 'URE', '*') AS seg_replaced,
           lpad(c_custkey::VARCHAR, 8, '0') AS key_padded,
           concat(c_mktsegment, '#', c_custkey::VARCHAR) AS seg_key,
           (c_name LIKE '%er%') AS has_er,
           trim('  ' || c_mktsegment || ' ') AS seg_trimmed
    FROM customer
    """,
    doc="String-function surface: upper/substr/length/replace/lpad/"
        "concat/LIKE/trim — all whole-stage-codegen expressions.",
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.replace(F.col("c_mktsegment"), F.lit("URE"), F.lit("*")).alias("seg_replaced"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
        F.concat("c_mktsegment", F.lit("#"),
                 F.col("c_custkey").cast("string")).alias("seg_key"),
        F.col("c_name").like("%er%").alias("has_er"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" ")))
         .alias("seg_trimmed"),
    )


@register(
    "date_funcs",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS y,
           CAST(quarter(o_orderdate) AS INTEGER) AS q,
           CAST(month(o_orderdate) AS INTEGER) AS m,
           CAST(dayofmonth(o_orderdate) AS INTEGER) AS dom,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
           (o_orderdate + INTERVAL 30 DAY)::DATE AS due_date,
           CAST(datediff('day', o_orderdate, TIMESTAMP '2002-01-01') AS INTEGER)
             AS days_to_2002,
           last_day(o_orderdate::DATE) AS month_end
    FROM orders
    """,
    doc="Date/time surface: year/quarter/month/day parts, day-of-week "
        "(Spark 1=Sunday convention; oracle shifted to match), interval "
        "arithmetic, datediff, last_day.",
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.quarter("o_orderdate").alias("q"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.datediff(F.lit("2002-01-01").cast("date"),
                   F.col("o_orderdate").cast("date")).alias("days_to_2002"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
    )


@register(
    "math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           abs(l_extendedprice - 30000.0) AS abs_dev,
           CAST(ceil(l_quantity / 7.0) AS BIGINT) AS qty_bucket,
           CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS price_k,
           floor(l_discount * l_extendedprice * 100.0 + 0.5) / 100.0 AS discount_amt,
           sqrt(l_quantity) AS qty_sqrt,
           CAST(l_orderkey % 97 AS BIGINT) AS key_mod,
           CAST(sign(l_extendedprice - 30000.0) AS DOUBLE) AS dev_sign,
           greatest(l_tax, l_discount) AS max_rate,
           least(l_tax, l_discount) AS min_rate
    FROM lineitem
    """,
    doc="Math surface restricted to exactly-defined IEEE ops "
        "(abs/ceil/floor/round/sqrt/mod/sign/greatest/least) — "
        "transcendentals are platform-dependent in the last bit and "
        "would flake cross-engine value hashes; 2-dp rounding is spelled "
        "as floor(x*100+0.5)/100 because both round() and double->decimal "
        "casts resolve representation-boundary ties differently across "
        "engines.",
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.abs(F.col("l_extendedprice") - 30000.0).alias("abs_dev"),
        F.ceil(F.col("l_quantity") / 7.0).alias("qty_bucket"),
        F.floor(F.col("l_extendedprice") / 1000.0).alias("price_k"),
        (F.floor(F.col("l_discount") * F.col("l_extendedprice") * 100.0
                 + 0.5) / 100.0).alias("discount_amt"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_orderkey") % 97).alias("key_mod"),
        F.signum(F.col("l_extendedprice") - 30000.0).alias("dev_sign"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
    )


@register(
    "conditional_funcs",
    """
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(nullif(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT), 0))
             AS n_nonzero_k,
           CAST(SUM(coalesce(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT),
                             -1)) AS BIGINT) AS sum_k_or_neg1,
           CAST(SUM(CASE WHEN value > 50 THEN 1 WHEN value > 10 THEN 2 ELSE 3 END)
             AS BIGINT) AS case_weighted
    FROM events GROUP BY event_type
    """,
    doc="Conditional surface: coalesce / nullif / multi-arm CASE over "
        "permissively-parsed JSON (null-on-malformed).",
)
def conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("bigint")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count(F.nullif(k, F.lit(0))).alias("n_nonzero_k"),
        F.sum(F.coalesce(k, F.lit(-1))).alias("sum_k_or_neg1"),
        F.sum(F.when(F.col("value") > 50, 1)
               .when(F.col("value") > 10, 2)
               .otherwise(3)).alias("case_weighted"),
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "pivot_event_counts",
    f"""
    SELECT user_id % 10 AS user_bucket,
           {', '.join(f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}"
                      for t in _EVENT_TYPES)}
    FROM events GROUP BY user_id % 10
    """,
    doc="Pivot (wide aggregation): event counts per user bucket × "
        "type. Fixed pivot values → single-pass hash-agg, no second "
        "distinct scan.",
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    p = (e.withColumn("user_bucket", F.col("user_id") % 10)
          .groupBy("user_bucket")
          .pivot("event_type", list(_EVENT_TYPES))
          .count())
    # pivot yields NULL for empty cells; the oracle's COUNT(CASE) yields 0
    return p.select("user_bucket",
                    *[F.coalesce(F.col(t), F.lit(0)).alias(t)
                      for t in _EVENT_TYPES])


@register(
    "scalar_subquery_filter",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice >= 0.9 * (SELECT max(o_totalprice) FROM orders)
    """,
    doc="Scalar subquery in a predicate (Catalyst plans the subquery "
        "as a one-row broadcast; the outer scan stays a single pass).",
)
def scalar_subquery_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_ssq_orders")
    return spark.sql("""
        SELECT o_orderkey, o_totalprice
        FROM _ssq_orders
        WHERE o_totalprice >= 0.9 * (SELECT max(o_totalprice) FROM _ssq_orders)
    """)


@register(
    "array_funcs",
    """
    WITH t AS (
      SELECT p_partkey,
             range(1, (p_size % 5) + 3) AS arr,
             [p_size, p_size * 2, p_size % 7] AS arr2
      FROM part
    )
    SELECT p_partkey,
           len(arr)::INT AS arr_len,
           list_contains(arr, 3) AS has_three,
           array_to_string(list_sort(list_distinct(arr2)), ',') AS arr2_set,
           array_to_string(list_sort(list_distinct(list_concat(arr, arr2))), ',')
             AS union_set,
           array_to_string(arr[2:3], ',') AS middle,
           array_to_string(list_reverse(arr), ',') AS rev,
           list_sum(arr)::BIGINT AS total,
           COALESCE(list_position(arr2, 14), 0)::BIGINT AS pos14,
           list_max(arr2) AS biggest,
           array_to_string(list_transform(arr, x -> x * x), ',') AS squares,
           array_to_string(list_filter(arr, x -> x % 2 = 0), ',') AS evens,
           len(list_filter(arr, x -> x > 3)) > 0 AS any_gt3,
           len(list_filter(arr, x -> NOT (x < 10))) = 0 AS all_lt10,
           array_to_string(list_transform(list_zip(arr, list_reverse(arr)),
                          p -> p[1] + p[2]), ',') AS palindrome_sums
    FROM t
    """,
    doc="Array + higher-order-function surface: size/contains/"
        "distinct/union/slice/reverse/sum/position/max plus "
        "transform/filter/exists/forall/zip_with — every lambda runs "
        "JVM-side inside codegen (no Python). Set-like results are "
        "sorted (array_union/distinct ordering is engine-defined); "
        "arrays are integer-valued so no float drift. DuckDB "
        "1-indexes list slices like Spark's slice(start, length).",
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    t = p.select(
        "p_partkey",
        F.sequence(F.lit(1), (F.col("p_size") % 5) + 2).alias("arr"),
        F.array(F.col("p_size"), F.col("p_size") * 2,
                F.col("p_size") % 7).alias("arr2"))
    return t.select(
        "p_partkey",
        F.size("arr").alias("arr_len"),
        F.array_contains("arr", 3).alias("has_three"),
        arr_str(F.array_sort(F.array_distinct("arr2"))).alias("arr2_set"),
        arr_str(F.array_sort(F.array_distinct(F.concat("arr", "arr2"))))
         .alias("union_set"),
        arr_str(F.slice("arr", 2, 2)).alias("middle"),
        arr_str(F.reverse("arr")).alias("rev"),
        F.aggregate("arr", F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x).alias("total"),
        F.array_position("arr2", 14).alias("pos14"),
        F.array_max("arr2").alias("biggest"),
        arr_str(F.transform("arr", lambda x: x * x)).alias("squares"),
        arr_str(F.filter("arr", lambda x: x % 2 == 0)).alias("evens"),
        F.exists("arr", lambda x: x > 3).alias("any_gt3"),
        F.forall("arr", lambda x: x < 10).alias("all_lt10"),
        arr_str(F.zip_with("arr", F.reverse("arr"),
                           lambda a, b: a + b)).alias("palindrome_sums"),
    )


@register(
    "props_variant_extract",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           SUM(json_extract(props, '$.k')::INT)::BIGINT AS sum_k,
           CAST(max(json_extract(props, '$.k')::INT) AS INTEGER) AS max_k,
           COUNT(CASE WHEN json_extract(props, '$.missing') IS NULL
                      THEN NULL ELSE 1 END) AS n_with_missing_key
    FROM events GROUP BY event_type
    """,
    doc="Semi-structured VARIANT path (Spark >= 4.0): parse_json once "
        "into a VARIANT, extract typed values with variant_get paths "
        "— the Spark-native answer to the Snowflake VARIANT column "
        "the reference's warehouse uses. Unlike get_json_object "
        "(string re-parse per access), the variant binary encoding "
        "parses once and serves every path extraction; absent paths "
        "yield NULL (counted here to pin that contract). Integer "
        "aggregates keep it engine-portable.",
)
def props_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    missing = F.try_variant_get(v, "$.missing", "int")
    return (e.groupBy("event_type")
             .agg(F.count("*").alias("n_events"),
                  F.sum(k).cast("bigint").alias("sum_k"),
                  F.max(k).alias("max_k"),
                  F.count(missing).alias("n_with_missing_key")))


_HOT_N = 10


@register(
    "map_funcs",
    f"""
    WITH per AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           COUNT(*) AS n_types,
           array_to_string(list(event_type ORDER BY event_type), ',')
             AS type_keys,
           max(CASE WHEN event_type = 'click' THEN n END) AS n_clicks,
           COUNT(*) FILTER (WHERE n >= {_HOT_N}) AS n_hot_types,
           CAST(SUM(n) AS BIGINT) AS total_events,
           CAST(SUM(least(n, {_HOT_N})) AS BIGINT) AS capped_events
    FROM per GROUP BY user_id
    """,
    doc="Map-type function surface (the battery the array/string/"
        "date sets do not cover): per user, event counts are rolled "
        "into a MAP<string,bigint> via map_from_entries, then every "
        "downstream statistic is a map operation — size, sorted "
        "map_keys, element_at (NULL on absent key), map_filter "
        "(hot types), aggregate over map_values, and "
        "transform_values (capped counts). All lambdas run JVM-side "
        "inside codegen; the oracle computes the same statistics "
        "relationally, which IS the semantic spec for the map ops. "
        "The map stays one row per user — at 100 TB this is the "
        "profile-table pattern (wide per-entity state in one map "
        "column instead of a second fact-grain table).",
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    m = (per.groupBy("user_id")
            .agg(F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("event_type", "n"))))
                .alias("m")))
    total = F.aggregate(F.map_values("m"), F.lit(0).cast("bigint"),
                        lambda acc, v: acc + v)
    capped = F.aggregate(
        F.map_values(F.transform_values(
            "m", lambda k, v: F.least(v, F.lit(_HOT_N).cast("bigint")))),
        F.lit(0).cast("bigint"), lambda acc, v: acc + v)
    return m.select(
        "user_id",
        F.size("m").cast("bigint").alias("n_types"),
        arr_str(F.array_sort(F.map_keys("m"))).alias("type_keys"),
        F.element_at("m", "click").alias("n_clicks"),
        F.size(F.map_filter("m", lambda k, v: v >= _HOT_N)).cast("bigint")
         .alias("n_hot_types"),
        total.alias("total_events"),
        capped.alias("capped_events"))


def _morton16_sql(x: str, y: str) -> str:
    """Bit-interleave two 16-bit ints (x even bits, y odd) — plain
    shift/and/or arithmetic, identical in any engine."""
    terms = []
    for b in range(16):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return "(" + " | ".join(terms) + ")"


@register(
    "bitwise_funcs",
    f"""
    WITH keyed AS (
      SELECT o_custkey % 65536 AS x,
             (epoch_us(o_orderdate) // 86400000000) % 65536 AS y,
             o_orderkey
      FROM orders
    ),
    z AS (
      SELECT o_orderkey, x, y, {_morton16_sql('x', 'y')} AS zval
      FROM keyed
    )
    SELECT x % 8 AS x_bucket,
           COUNT(*) AS n,
           bit_and(zval) AS z_and,
           bit_or(zval) AS z_or,
           bit_xor(zval) AS z_xor,
           CAST(SUM(bit_count(zval)) AS BIGINT) AS total_bits,
           CAST(min(zval) AS BIGINT) AS z_min,
           CAST(max(zval) AS BIGINT) AS z_max
    FROM z GROUP BY 1
    """,
    doc="Bitwise surface + Z-order key: each order's (custkey mod "
        "2^16, order-day mod 2^16) pair is Morton-interleaved into a "
        "32-bit z-value with pure shift/and/or expressions — the "
        "multi-dimensional clustering key a lakehouse sorts by so "
        "range scans on EITHER dimension prune files (the Delta "
        "Z-ORDER idea, expressible natively). Aggregates exercise "
        "bit_and/bit_or/bit_xor and bit_count. Everything is exact "
        "integer arithmetic inside codegen; at 100 TB the z-value "
        "feeds repartitionByRange + sortWithinPartitions (see "
        "operators/maintenance.py for the clustered-layout writer).",
)
def bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 65536).cast("bigint")
    # floor, not truncate-toward-zero: DuckDB '//' floors, so negative
    # (pre-1970) epochs would diverge under a plain bigint cast
    day = F.floor(F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                  / F.lit(86400000000)).cast("bigint")
    y = (day % 65536).cast("bigint")
    zval = F.lit(0).cast("bigint")
    for b in range(16):  # Column | is logical OR; bitwise needs bitwiseOR
        zval = zval.bitwiseOR(
            F.shiftleft(F.shiftright(F.col("x"), b) % 2, 2 * b)).bitwiseOR(
            F.shiftleft(F.shiftright(F.col("y"), b) % 2, 2 * b + 1))
    z = (o.select(x.alias("x"), y.alias("y"))
          .withColumn("zval", zval))
    return (z.groupBy((F.col("x") % 8).alias("x_bucket"))
             .agg(F.count("*").alias("n"),
                  F.bit_and("zval").alias("z_and"),
                  F.bit_or("zval").alias("z_or"),
                  F.bit_xor("zval").alias("z_xor"),
                  F.sum(F.bit_count("zval")).alias("total_bits"),
                  F.min("zval").alias("z_min"),
                  F.max("zval").alias("z_max")))


@register(
    "regex_funcs",
    r"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN regexp_matches(text, '\b(spark|table)\b')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mentioning,
           CAST(SUM(len(regexp_extract_all(text, '\bd[a-z]+')))
                AS BIGINT) AS n_d_words,
           CAST(SUM(length(regexp_replace(text, '[aeiou]', '', 'g')))
                AS BIGINT) AS devoweled_len,
           CAST(SUM(CASE WHEN regexp_extract(text, '^(\w+)', 1) = 'the'
                         THEN 1 ELSE 0 END) AS BIGINT) AS starts_with_the
    FROM documents
    WHERE length(trim(text)) > 0
    GROUP BY lang
    """,
    doc="Regex surface over the RE2-compatible subset (word "
        "boundaries, classes, anchors — semantics identical between "
        "Java regex and RE2, unlike lookarounds/backrefs which are "
        "deliberately excluded): rlike, regexp_extract(_all), global "
        "regexp_replace, anchored capture. All evaluated inside "
        "codegen; per-language rollup keeps the output small.",
)
def regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents") \
        .filter(F.length(F.trim("text")) > 0)
    return (d.groupBy("lang")
             .agg(F.count("*").alias("n_docs"),
                  F.sum(F.when(F.col("text").rlike(r"\b(spark|table)\b"), 1)
                         .otherwise(0)).alias("n_mentioning"),
                  F.sum(F.size(F.regexp_extract_all(
                      "text", F.lit(r"\bd[a-z]+"), 0))).alias("n_d_words"),
                  F.sum(F.length(F.regexp_replace(
                      "text", "[aeiou]", ""))).alias("devoweled_len"),
                  F.sum(F.when(F.regexp_extract("text", r"^(\w+)", 1)
                               == "the", 1).otherwise(0))
                   .alias("starts_with_the")))


@register(
    "listagg_funcs",
    """
    SELECT n.n_name,
           string_agg(s.s_name, ',' ORDER BY s.s_name) AS suppliers_csv,
           COUNT(*) AS n_suppliers
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    doc="Ordered string aggregation (SQL:2023 LISTAGG, new in Spark "
        "4.0): supplier names concatenated per nation WITHIN GROUP "
        "(ORDER BY name) — the deterministic form; unordered listagg "
        "is partitioning-dependent and would never pass a value-hash "
        "gate. One hash aggregate; the dimension join broadcasts.",
)
def listagg_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
             .groupBy("n_name")
             .agg(F.expr("listagg(s_name, ',') WITHIN GROUP (ORDER BY s_name)")
                   .alias("suppliers_csv"),
                  F.count("*").alias("n_suppliers")))


@register(
    "sql_udf_rates",
    """
    WITH sums AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6)))
                  * 1000000 AS BIGINT) AS price_micros,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6)))
                  * 1000000 AS BIGINT) AS qty_micros
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n_items,
           CASE WHEN qty_micros = 0 THEN 0
                ELSE CAST(price_micros AS DOUBLE)
                     / CAST(qty_micros AS DOUBLE)
           END AS price_per_unit
    FROM sums
    """,
    doc="Declarative SQL UDF surface (CREATE TEMPORARY FUNCTION ... "
        "RETURN expr, Spark 4's SQL-defined functions): the engine's "
        "safe-divide contract (F6 — CASE WHEN denominator = 0 THEN 0, "
        "SURVEY.md §2.8) declared ONCE as a catalog function and "
        "applied in a grouped rate query. Unlike Python UDFs, a SQL "
        "UDF inlines into the plan at analysis time — the physical "
        "plan is identical codegen'd expressions, zero extension-"
        "surface cost (audited: no Python evaluators) — making it "
        "the right home for org-wide expression contracts (KPI "
        "definitions, safe-divide policies) that must not fork per "
        "notebook. Temp functions/views are SESSION-scoped, so a "
        "fixed name with CREATE OR REPLACE is concurrency-safe across "
        "harness processes and leaves exactly one catalog entry per "
        "session no matter how often the query reruns (a uuid-per-"
        "call name accumulated entries over a long-lived session).",
)
def sql_udf_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    fn = "sg_safe_div"
    view = "_sqludf_li"
    spark.sql(f"""
        CREATE OR REPLACE TEMPORARY FUNCTION {fn}(num DOUBLE, den DOUBLE)
        RETURNS DOUBLE
        RETURN CASE WHEN den = 0 THEN 0 ELSE num / den END""")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(view)
    try:
        # The rate routes through exact BIGINT micros (the scale-6
        # factors cancel in the ratio): int64->double is a single
        # correctly-rounded hardware conversion on every engine,
        # unlike decimal->double whose rounding is build-dependent.
        return spark.sql(f"""
            WITH sums AS (
              SELECT l_returnflag,
                     CAST(COUNT(*) AS BIGINT) AS n_items,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6)))
                          * 1000000 AS BIGINT) AS price_micros,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(38,6)))
                          * 1000000 AS BIGINT) AS qty_micros
              FROM {view} GROUP BY l_returnflag
            )
            SELECT l_returnflag, n_items,
                   {fn}(CAST(price_micros AS DOUBLE),
                        CAST(qty_micros AS DOUBLE)) AS price_per_unit
            FROM sums""")
    finally:
        spark.catalog.dropTempView(view)
        # a SQL UDF inlines into the plan at ANALYSIS time (which ran
        # inside spark.sql above), so dropping it here cannot break
        # the returned lazy DataFrame — and the session catalog is
        # left exactly as found
        spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {fn}")
