"""JSON-in-binary-envelope ingestion ring (SURVEY.md §3 EP1/EP2).

The reference's bronze layer is Event Hubs Capture Avro files whose
``body`` column holds UTF-8 JSON bytes plus broker metadata
(README.md:114-131; ETL/flight-silver-transformation (1).ipynb:574-578).
Our engine reproduces the *data contract* — a DataFrame with a binary
``body`` plus envelope metadata — storage-agnostically:

- ``encode_envelope``: typed rows → ``to_json(struct(*))`` →  binary
  body + partition/offset/enqueued_at metadata (what the producers +
  broker did, kafka-eh/produce_to_eventhub.py:73-86), as one
  ``spark.sql`` statement.
- ``write_envelope_bronze`` / ``read_envelope_bronze``: land/scan the
  envelope frame. The default ``fmt="avro"`` writes and reads Avro
  object container files through Spark's own JVM ``AvroFileFormat``,
  named by its class: Spark 4 ships the class in spark-sql core, but
  pip pyspark lacks the spark-avro artifact that registers the
  ``avro`` short name. The scan is a codegen'd ``FileScan avro`` with
  no Python process. Any other ``fmt`` (e.g. ``"parquet"``) is passed
  to Spark as is; the columns and the silver transform are the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "encode_envelope", "decode_envelope", "csv_to_envelope_batch",
    "write_envelope_bronze", "read_envelope_bronze",
]

ENVELOPE_COLUMNS = ("body", "partition", "offset", "enqueued_at")
AVRO_FILE_FORMAT = "org.apache.spark.sql.avro.AvroFileFormat"
# Bytes of records per Avro block. Each deflate block starts a fresh
# dictionary, and Avro's default 64,000-byte interval makes bronze ~7%
# larger than 1 MiB blocks do.
_AVRO_SYNC_INTERVAL = 1 << 20


def encode_envelope(df: DataFrame, produced_at: bool = True) -> DataFrame:
    """Typed rows → broker envelope.

    Mirrors the producer: each row JSON-serialized
    (kafka-eh/produce_to_eventhub.py:73 ``json.dumps(row)``), stamped
    with ``produced_at`` epoch seconds
    (kafka-eh/produce_send_rows.py:76), delivered with broker metadata.
    Partition/offset are synthesized deterministically (hash / row
    order) since there is no real broker locally.
    """
    produced = (", unix_timestamp(current_timestamp()) AS produced_at"
                if produced_at else "")
    return df.sparkSession.sql(f"""
        SELECT encode(to_json(struct(*{produced})), 'UTF-8') AS body,
               abs(hash(*)) % 32 AS partition,
               monotonically_increasing_id() AS offset,
               current_timestamp() AS enqueued_at
        FROM {{src}}""", src=df)


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
                          fmt: str = "avro") -> None:
    writer = df.write.mode("overwrite")
    if fmt == "avro":
        fmt = AVRO_FILE_FORMAT
        writer = (writer.option("compression", "deflate")
                  .option("avro.mapred.sync.interval", _AVRO_SYNC_INTERVAL))
    writer.format(fmt).save(path)


def read_envelope_bronze(spark: SparkSession, path: str,
                         fmt: str = "avro") -> DataFrame:
    if fmt == "avro":
        fmt = AVRO_FILE_FORMAT
    return spark.read.format(fmt).load(path)
