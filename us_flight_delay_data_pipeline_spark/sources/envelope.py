"""JSON-in-binary-envelope ingestion ring (SURVEY.md §3 EP1/EP2).

The reference's bronze layer is Event Hubs Capture Avro files whose
``body`` column holds UTF-8 JSON bytes plus broker metadata
(README.md:114-131; ETL/flight-silver-transformation (1).ipynb:574-578).
Our engine reproduces the *data contract* — a DataFrame with a binary
``body`` plus envelope metadata — storage-agnostically:

- ``encode_envelope``: typed rows → ``to_json(struct(*))`` →  binary
  body + partition/offset/enqueued_at metadata (what the producers +
  broker did, kafka-eh/produce_to_eventhub.py:73-86).
- ``write_envelope_bronze`` / ``read_envelope_bronze``: land/scan the
  envelope frame. An explicit ``fmt="avro"`` writes and reads Avro
  object container files through Spark's own JVM ``AvroFileFormat``:
  by its ``avro`` short name when the spark-avro artifact registers
  it, else by its class name, which pip pyspark ships in spark-sql
  core without the registration. Either way it is the same class, a
  codegen'd ``FileScan avro`` with no Python process. ``fmt=None``
  picks ``avro`` when the short name is registered, else parquet
  (same columns; the silver transform is identical).
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "encode_envelope", "decode_envelope", "csv_to_envelope_batch",
    "write_envelope_bronze", "read_envelope_bronze", "avro_available",
]

ENVELOPE_COLUMNS = ("body", "partition", "offset", "enqueued_at")
AVRO_FILE_FORMAT = "org.apache.spark.sql.avro.AvroFileFormat"
# Bytes of records per Avro block. Each deflate block starts a fresh
# dictionary, and Avro's default 64,000-byte interval makes bronze ~7%
# larger than 1 MiB blocks do.
_AVRO_SYNC_INTERVAL = 1 << 20
# pyspark converts the JVM errors it knows (a missing short name is an
# AnalysisException) and re-raises the rest as Py4JJavaError
_LOOKUP_ERRORS = (Py4JJavaError, PySparkException)


def avro_available(spark: SparkSession) -> bool:
    """True if the ``avro`` short name is registered. That takes the
    separate spark-avro artifact, which pip pyspark does not bundle;
    Spark 4 keeps ``AvroFileFormat`` itself in spark-sql core without
    the ``DataSourceRegister`` entry, and ``fmt="avro"`` names that
    class in full when this is False."""
    try:
        _lookup_data_source(spark, "avro")
        return True
    except _LOOKUP_ERRORS:
        return False


def _lookup_data_source(spark: SparkSession, name: str):
    jvm = spark._jvm  # noqa: SLF001 — datasource-registry probe only
    jvm.org.apache.spark.sql.execution.datasources.DataSource \
        .lookupDataSource(name, spark._jsparkSession.sessionState().conf())


def _avro_format(spark: SparkSession) -> str:
    """The JVM Avro source: its short name when registered, else its
    class name (the same class)."""
    if avro_available(spark):
        return "avro"
    try:
        _lookup_data_source(spark, AVRO_FILE_FORMAT)
    except _LOOKUP_ERRORS as e:
        raise RuntimeError(
            f"Avro bronze needs the JVM class {AVRO_FILE_FORMAT}, which "
            "this Spark cannot load") from e
    return AVRO_FILE_FORMAT


def encode_envelope(df: DataFrame, produced_at: bool = True) -> DataFrame:
    """Typed rows → broker envelope.

    Mirrors the producer: each row JSON-serialized
    (kafka-eh/produce_to_eventhub.py:73 ``json.dumps(row)``), stamped
    with ``produced_at`` epoch seconds
    (kafka-eh/produce_send_rows.py:76), delivered with broker metadata.
    Partition/offset are synthesized deterministically (hash / row
    order) since there is no real broker locally.
    """
    payload = df
    if produced_at:
        payload = payload.withColumn(
            "produced_at", F.unix_timestamp(F.current_timestamp()))
    return payload.select(
        F.encode(F.to_json(F.struct(*payload.columns)), "UTF-8").alias("body"),
        (F.abs(F.hash(*df.columns)) % 32).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("enqueued_at"),
    )


def decode_envelope(df: DataFrame) -> DataFrame:
    """Envelope → raw JSON string column ``body_str`` (repair applied
    downstream in the silver transform)."""
    from ..functions.core import decode_and_repair_body, find_column_ci
    body_col = find_column_ci(df, "body")
    return df.withColumn("body_str", decode_and_repair_body(F.col(body_col)))


def csv_to_envelope_batch(spark: SparkSession, csv_path: str,
                          delimiter: str = ",") -> DataFrame:
    """CSV → envelope frame: the whole producer path (EP1) as one
    declarative plan. All columns kept as strings — the reference
    parses everything as string first and casts later (SURVEY.md §1
    'semantic quirk')."""
    raw = (spark.read.option("header", True).option("delimiter", delimiter)
           .option("inferSchema", False).csv(csv_path))
    return encode_envelope(raw)


def write_envelope_bronze(df: DataFrame, path: str,
                          fmt: str | None = None) -> None:
    spark = df.sparkSession
    fmt = fmt or ("avro" if avro_available(spark) else "parquet")
    writer = df.write.mode("overwrite")
    if fmt == "avro":
        fmt = _avro_format(spark)
        writer = (writer.option("compression", "deflate")
                  .option("avro.mapred.sync.interval", _AVRO_SYNC_INTERVAL))
    writer.format(fmt).save(path)


def read_envelope_bronze(spark: SparkSession, path: str,
                         fmt: str | None = None) -> DataFrame:
    fmt = fmt or ("avro" if avro_available(spark) else "parquet")
    if fmt == "avro":
        fmt = _avro_format(spark)
    return spark.read.format(fmt).load(path)
