"""Avro bronze (SURVEY.md §3 EP2; the reference reads Event Hubs
Capture Avro in ETL/flight-silver-transformation (1).ipynb:574-578).

``fmt="avro"`` writes and reads through Spark's JVM ``AvroFileFormat``
in every container, so the roundtrip below never skips. The bytes it
writes are checked against ``sources/avro_ocf.py``, an independent
pure-Python codec: it decodes the JVM's files, and the JVM reads files
it wrote. That codec is itself pinned with GOLDEN BYTES computed by
hand from the Avro 1.11 spec (zigzag varints, length-prefixed strings,
OCF magic/metadata/sync layout), so reader/writer symmetry cannot hide
a spec deviation.
"""

from __future__ import annotations

import datetime
import glob
import io
import json
import zlib

import pytest
from py4j.protocol import Py4JJavaError

from us_flight_delay_data_pipeline_spark.plans.silver import silver_transform
from us_flight_delay_data_pipeline_spark.sources import envelope
from us_flight_delay_data_pipeline_spark.sources.avro_ocf import (
    _encoder, _read_header, _Reader, avro_schema_for, ddl_for_avro_schema,
    read_ocf_file, write_ocf_file)
from us_flight_delay_data_pipeline_spark.sources.envelope import (
    decode_envelope,
    encode_envelope,
    read_envelope_bronze,
    write_envelope_bronze,
)

ENVELOPE_DDL = "body binary, partition int, offset bigint, enqueued_at timestamp"
ENVELOPE_STRUCT = ("struct<body:binary,partition:int,offset:bigint,"
                   "enqueued_at:timestamp>")


def _utc(dt):
    """A naive datetime from pyspark (process-local time) as naive UTC,
    the convention ``avro_ocf`` decodes timestamp-micros into."""
    return None if dt is None else (
        dt.astimezone(datetime.timezone.utc).replace(tzinfo=None))


def _envelope_rows():
    ts = datetime.datetime(2024, 3, 9, 17, 45, 1, 234567)
    return [
        (b'{"year":"2024","carrier":"AA"}', 7, 100, ts),
        (None, 31, 101, ts + datetime.timedelta(microseconds=1)),
        (b'{"year":"20', 0, 102, None),
        (b"\xff\x00\xfe", -2, 2**40, ts),
    ]


def _blocks(path) -> list[int]:
    """Record count of each block in one container file."""
    with open(path, "rb") as fh:
        _, _, sync, r = _read_header(fh)
    counts = []
    while r.pos < len(r.buf):
        counts.append(r.read_long())
        r.read_fixed(r.read_long())
        assert r.read_fixed(16) == sync
    return counts


def test_avro_roundtrip_always_runs(spark, tmp_path):
    """The reference's bronze wire format, written and read through
    the envelope API with fmt='avro' on the JVM. No skip in any
    container (VERDICT r8 #4)."""
    src = spark.createDataFrame(
        [(1, "AA", 12.5), (2, "DL", None), (3, "UA", -3.0)],
        "flight_id int, carrier string, delay double")
    env = encode_envelope(src, produced_at=False)
    path = str(tmp_path / "bronze_avro")
    before = datetime.datetime.now()
    write_envelope_bronze(env, path, fmt="avro")
    after = datetime.datetime.now()
    back = read_envelope_bronze(spark, path, fmt="avro")
    assert back.schema.simpleString() == ENVELOPE_STRUCT
    got = back.collect()
    want = env.collect()
    key = ("body", "partition", "offset")
    assert sorted(tuple(r[k] for k in key) for r in got) == sorted(
        tuple(r[k] for k in key) for r in want)
    assert sorted(r["body_str"] for r in decode_envelope(back).collect()) == [
        '{"flight_id":1,"carrier":"AA","delay":12.5}',
        '{"flight_id":2,"carrier":"DL"}',
        '{"flight_id":3,"carrier":"UA","delay":-3.0}']
    # one current_timestamp() per write query, stamped while it ran
    stamps = {r["enqueued_at"] for r in got}
    assert len(stamps) == 1
    assert before <= stamps.pop() <= after


def test_default_format_matches_probe(spark, tmp_path):
    """The default format is Avro through the JVM class: only ``.avro``
    part files land, and the default read returns the body written."""
    src = spark.createDataFrame([(1, "x")], "id int, v string")
    env = encode_envelope(src, produced_at=False)
    path = str(tmp_path / "bronze_default")
    write_envelope_bronze(env, path)
    back = read_envelope_bronze(spark, path)
    assert [r["body"] for r in back.collect()] == [b'{"id":1,"v":"x"}']
    parts = glob.glob(path + "/part-*")
    assert parts and all(f.endswith(".avro") for f in parts), parts


def test_ocf_golden_bytes_match_spec():
    """Hand-computed Avro binary encoding (spec 'Binary Encoding'):
    long zigzag varints, length-prefixed UTF-8, null-union indexes.
    Pins the writer to the SPEC, not merely to its own reader."""
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"},
        {"name": "s", "type": "string"},
        {"name": "n", "type": ["null", "long"]},
    ]}
    enc = _encoder(schema)
    out = io.BytesIO()
    enc(out, (1, "AA", None))
    # long 1 -> zigzag 2 -> b'\x02'; "AA" -> len 2 (zigzag 4) + bytes;
    # null union -> branch index 0 -> b'\x00'
    assert out.getvalue() == b"\x02\x04AA\x00"
    out = io.BytesIO()
    enc(out, (-64, "", 3))
    # -64 -> zigzag 127 -> b'\x7f'; "" -> b'\x00'; union branch 1
    # (b'\x02') then long 3 -> zigzag 6 -> b'\x06'
    assert out.getvalue() == b"\x7f\x00\x02\x06"
    out = io.BytesIO()
    enc(out, (192, "é", 0))
    # 192 -> zigzag 384 = 0b11_0000000 -> varint b'\x80\x03';
    # "é" is 2 UTF-8 bytes; union branch 1 then zigzag(0)=0
    assert out.getvalue() == b"\x80\x03\x04\xc3\xa9\x02\x00"


def test_ocf_container_layout(tmp_path):
    """File layout per spec: magic Obj\\x01, metadata map with
    avro.schema + avro.codec, 16-byte sync repeated after each
    block; deflate blocks are raw RFC-1951 (no zlib header)."""
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "x", "type": "long"}]}
    path = str(tmp_path / "g.avro")
    n = write_ocf_file(path, schema, [(i,) for i in range(10)],
                       codec="deflate", rows_per_block=4)
    assert n == 10
    raw = open(path, "rb").read()
    assert raw[:4] == b"Obj\x01"
    r = _Reader(raw[4:])
    meta = {}
    while True:
        cnt = r.read_long()
        if cnt == 0:
            break
        for _ in range(abs(cnt)):
            k = r.read_bytes().decode()
            meta[k] = r.read_bytes()
    assert json.loads(meta["avro.schema"]) == schema
    assert meta["avro.codec"] == b"deflate"
    sync = r.read_fixed(16)
    # first block: 4 rows, raw-deflate payload decodes to 4 zigzag longs
    cnt, size = r.read_long(), r.read_long()
    assert cnt == 4
    body = zlib.decompress(r.read_fixed(size), wbits=-15)
    assert body == b"\x00\x02\x04\x06"  # zigzag(0..3)
    assert r.read_fixed(16) == sync
    # and the reader agrees end-to-end
    assert [t[0] for t in read_ocf_file(path)] == list(range(10))


def test_ocf_schema_mapping_roundtrip(spark):
    """StructType -> avro schema -> DDL closes the loop for every
    supported envelope type."""
    df = spark.createDataFrame(
        [], "b binary, p int, o bigint, t timestamp, s string, "
            "d double, f float, bo boolean")
    avro = avro_schema_for(df.schema)
    assert ddl_for_avro_schema(avro) == (
        "b binary, p int, o bigint, t timestamp, s string, "
        "d double, f float, bo boolean")


def test_avro_write_file_per_task(spark, tmp_path):
    """Each write task lands one container file, and the scan back
    returns every row exactly once."""
    from pyspark.sql import functions as F
    path = str(tmp_path / "many")
    df = spark.range(1000).repartition(8).select(
        "id", F.concat_ws("-", F.lit("v"), F.col("id")).alias("v"))
    write_envelope_bronze(df, path, fmt="avro")
    assert len(glob.glob(path + "/part-*.avro")) == 8
    back = read_envelope_bronze(spark, path, fmt="avro")
    got = sorted(r["id"] for r in back.collect())
    assert got == list(range(1000))


def test_jvm_bronze_decodes_with_python_codec(spark, tmp_path):
    """The JVM writer's bytes, decoded by the independent codec, are
    exactly the source rows: NULL body, non-UTF-8 bytes, int
    partition, bigint offset, microsecond timestamps and a NULL one."""
    rows = _envelope_rows()
    path = str(tmp_path / "jvm_written")
    write_envelope_bronze(
        spark.createDataFrame(rows, ENVELOPE_DDL).coalesce(1), path,
        fmt="avro")
    (f,) = glob.glob(path + "/*.avro")
    with open(f, "rb") as fh:
        schema, codec, _, _ = _read_header(fh)
    assert codec == "deflate"
    assert ddl_for_avro_schema(schema) == ENVELOPE_DDL
    assert _blocks(f) == [len(rows)]
    want = [(b, p, o, _utc(t)) for b, p, o, t in rows]
    assert sorted(read_ocf_file(f), key=lambda t: t[2]) == want


def test_jvm_bronze_blocks_are_one_mib(spark, tmp_path):
    """~300 KB of records is one deflate block: the writer's 1 MiB
    sync interval, where Avro's default 64,000 bytes would cut several."""
    from pyspark.sql import functions as F
    path = str(tmp_path / "one_block")
    env = spark.range(3000).coalesce(1).select(
        F.encode(F.format_string("%0100d", "id"), "UTF-8").alias("body"))
    write_envelope_bronze(env, path, fmt="avro")
    (f,) = glob.glob(path + "/*.avro")
    assert _blocks(f) == [3000]
    assert [r[0] for r in read_ocf_file(f)] == [
        b"%0100d" % i for i in range(3000)]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_jvm_reads_python_written_files(spark, tmp_path, codec):
    """Files written by the independent codec (several blocks, its
    own ["null", T] union order and record name) read back on the JVM
    as exactly the rows they hold."""
    rows = _envelope_rows() * 3
    rows = [(b, p, o + i, t) for i, (b, p, o, t) in enumerate(rows)]
    schema = avro_schema_for(spark.createDataFrame([], ENVELOPE_DDL).schema)
    path = tmp_path / "py_written"
    path.mkdir()
    for i in range(2):
        n = write_ocf_file(str(path / f"capture-{i}.avro"), schema,
                           rows[i::2], codec=codec, rows_per_block=4)
        assert n == len(rows[i::2])
    assert _blocks(str(path / "capture-0.avro")) == [4, 2]
    back = read_envelope_bronze(spark, str(path), fmt="avro")
    assert back.schema.simpleString() == ENVELOPE_STRUCT
    # write_ocf_file reads naive datetimes as UTC; Spark hands back
    # process-local ones
    got = [(r.body, r.partition, r.offset, _utc(r.enqueued_at))
           for r in back.collect()]
    key = lambda t: t[2]  # noqa: E731
    assert sorted(got, key=key) == sorted(rows, key=key)


def test_silver_scans_avro_on_the_jvm(spark, tmp_path):
    """Pins the fast path: silver over Avro bronze runs as a JVM
    FileScan avro, with no Python evaluation or Python DataSource scan
    anywhere in the executed plan."""
    src = spark.createDataFrame([("2024", "AA")], "year string, carrier string")
    path = str(tmp_path / "bronze_plan")
    write_envelope_bronze(encode_envelope(src), path, fmt="avro")
    silver = silver_transform(read_envelope_bronze(spark, path, fmt="avro"))
    assert [(r["year"], r["carrier"]) for r in silver.collect()] == [(2024, "AA")]
    plan = silver._jdf.queryExecution().executedPlan().toString()
    assert "FileScan avro" in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                 "BatchScan", "(Python)"):
        assert node not in plan, plan


def test_unresolvable_avro_class_is_named(spark, tmp_path, monkeypatch):
    """A missing Avro class fails loudly with Spark's own
    DATA_SOURCE_NOT_FOUND error naming the class, not a silent
    fallback to another format."""
    missing = "org.apache.spark.sql.avro.NoSuchFileFormat"
    monkeypatch.setattr(envelope, "AVRO_FILE_FORMAT", missing)
    with pytest.raises(Py4JJavaError) as ei:
        read_envelope_bronze(spark, str(tmp_path), fmt="avro")
    msg = str(ei.value)
    assert "DATA_SOURCE_NOT_FOUND" in msg and missing in msg, msg
