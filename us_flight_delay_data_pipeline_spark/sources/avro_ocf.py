"""Pure-Python Avro Object Container File codec.

The reference's bronze layer is Avro — Event Hubs Capture files
(README.md:114-131; ETL/flight-silver-transformation (1).ipynb:574-578
reads them with ``format("avro")``). The engine writes and reads them
through Spark's JVM ``AvroFileFormat`` (``sources/envelope.py``); this
module is an independent implementation of the same small public spec
(https://avro.apache.org/docs/1.11.1/specification/ — magic
``Obj\\x01``, metadata map carrying the writer schema JSON + codec,
16-byte sync-marker-delimited blocks of binary-encoded records), so
the tests can decode the bytes the JVM writes, and hand the JVM reader
files it did not write, without trusting Spark to check itself.

Codec subset (everything the envelope schema and Event Hubs Capture
emit): ``null boolean int long float double bytes string``, records,
2-branch ``["null", T]`` unions, and the ``timestamp-micros`` logical
type; codecs ``null`` and ``deflate`` (raw RFC-1951, the two the spec
requires). Arrays/maps/enums/fixed are rejected loudly rather than
half-supported.
"""

from __future__ import annotations

import io
import json
import struct
import uuid
import zlib

__all__ = [
    "read_ocf_file", "write_ocf_file", "avro_schema_for",
    "ddl_for_avro_schema",
]

_MAGIC = b"Obj\x01"
_EPOCH = None  # lazy: set on the first timestamp


# ------------------------------------------------------------------ #
# binary primitives                                                  #
# ------------------------------------------------------------------ #

def _write_long(out: io.BytesIO, n: int) -> None:
    """Zigzag + unsigned LEB128 varint (spec 'Primitive Types')."""
    u = ((n << 1) ^ (n >> 63)) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.write(bytes((b | 0x80,)))
        else:
            out.write(bytes((b,)))
            return


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read_long(self) -> int:
        u = shift = 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            u |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (u >> 1) ^ -(u & 1)

    def read_bytes(self) -> bytes:
        n = self.read_long()
        out = self.buf[self.pos:self.pos + n]
        self.pos += n
        return bytes(out)

    def read_fixed(self, n: int) -> bytes:
        out = self.buf[self.pos:self.pos + n]
        self.pos += n
        return bytes(out)


# ------------------------------------------------------------------ #
# schema-driven encode/decode                                        #
# ------------------------------------------------------------------ #

def _enc_timestamp(out, v):
    global _EPOCH
    if _EPOCH is None:
        import datetime
        _EPOCH = datetime.datetime(1970, 1, 1)
    if isinstance(v, int):  # already epoch micros
        us = v
    elif v.tzinfo is not None:
        us = int(round(v.timestamp() * 1_000_000))
    else:  # naive == session-UTC (session.py pins spark.sql.session.timeZone)
        delta = v - _EPOCH
        us = (delta.days * 86_400 + delta.seconds) * 1_000_000 \
            + delta.microseconds
    _write_long(out, us)


def _dec_timestamp(r):
    global _EPOCH
    if _EPOCH is None:
        import datetime
        _EPOCH = datetime.datetime(1970, 1, 1)
    import datetime
    return _EPOCH + datetime.timedelta(microseconds=r.read_long())


def _encoder(schema):
    """schema node -> fn(BytesIO, value). Raises on unsupported."""
    if isinstance(schema, list):  # union — spec: long index, then value
        if len(schema) != 2 or "null" not in schema:
            raise ValueError(f"only 2-branch null unions: {schema}")
        other_idx = 1 if schema[0] == "null" else 0
        enc_other = _encoder(schema[other_idx])

        def enc_union(out, v):
            if v is None:
                _write_long(out, 1 - other_idx)
            else:
                _write_long(out, other_idx)
                enc_other(out, v)
        return enc_union
    if isinstance(schema, dict):
        t = schema["type"]
        if schema.get("logicalType") == "timestamp-micros":
            return _enc_timestamp
        if t == "record":
            encs = [_encoder(f["type"]) for f in schema["fields"]]

            def enc_record(out, row):
                for e, v in zip(encs, row):
                    e(out, v)
            return enc_record
        return _encoder(t)
    if schema in ("long", "int"):
        return _write_long
    if schema == "string":
        def enc_str(out, v):
            b = v.encode("utf-8")
            _write_long(out, len(b))
            out.write(b)
        return enc_str
    if schema == "bytes":
        def enc_bytes(out, v):
            b = bytes(v)
            _write_long(out, len(b))
            out.write(b)
        return enc_bytes
    if schema == "double":
        return lambda out, v: out.write(struct.pack("<d", v))
    if schema == "float":
        return lambda out, v: out.write(struct.pack("<f", v))
    if schema == "boolean":
        return lambda out, v: out.write(b"\x01" if v else b"\x00")
    if schema == "null":
        return lambda out, v: None
    raise ValueError(f"unsupported avro type: {schema!r}")


def _decoder(schema):
    """schema node -> fn(_Reader) -> value."""
    if isinstance(schema, list):
        decs = [_decoder(s) for s in schema]

        def dec_union(r):
            return decs[r.read_long()](r)
        return dec_union
    if isinstance(schema, dict):
        t = schema["type"]
        if schema.get("logicalType") == "timestamp-micros":
            return _dec_timestamp
        if t == "record":
            decs = [_decoder(f["type"]) for f in schema["fields"]]

            def dec_record(r):
                return tuple(d(r) for d in decs)
            return dec_record
        return _decoder(t)
    if schema in ("long", "int"):
        return _Reader.read_long
    if schema == "string":
        return lambda r: r.read_bytes().decode("utf-8")
    if schema == "bytes":
        return _Reader.read_bytes
    if schema == "double":
        return lambda r: struct.unpack("<d", r.read_fixed(8))[0]
    if schema == "float":
        return lambda r: struct.unpack("<f", r.read_fixed(4))[0]
    if schema == "boolean":
        return lambda r: r.read_fixed(1) == b"\x01"
    if schema == "null":
        return lambda r: None
    raise ValueError(f"unsupported avro type: {schema!r}")


# ------------------------------------------------------------------ #
# container file                                                     #
# ------------------------------------------------------------------ #

def write_ocf_file(path: str, schema: dict, rows, codec: str = "deflate",
                   rows_per_block: int = 4096) -> int:
    """Encode ``rows`` (tuples in field order) into one OCF at
    ``path``; returns the row count. Blocks of ``rows_per_block``
    records, each independently compressed — the unit a splitting
    reader (or this one, per-file) consumes."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec: {codec}")
    enc = _encoder(schema)
    sync = uuid.uuid5(uuid.NAMESPACE_OID, path).bytes  # deterministic
    n_rows = 0
    with open(path, "wb") as fh:
        fh.write(_MAGIC)
        meta = {"avro.schema": json.dumps(schema).encode(),
                "avro.codec": codec.encode()}
        head = io.BytesIO()
        _write_long(head, len(meta))
        for k, v in meta.items():
            kb = k.encode()
            _write_long(head, len(kb))
            head.write(kb)
            _write_long(head, len(v))
            head.write(v)
        _write_long(head, 0)  # end of metadata map
        fh.write(head.getvalue())
        fh.write(sync)
        block: list = []

        def flush():
            nonlocal n_rows
            if not block:
                return
            body = io.BytesIO()
            for row in block:
                enc(body, row)
            data = body.getvalue()
            if codec == "deflate":  # raw RFC-1951, no zlib wrapper
                c = zlib.compressobj(wbits=-15)
                data = c.compress(data) + c.flush()
            blk = io.BytesIO()
            _write_long(blk, len(block))
            _write_long(blk, len(data))
            fh.write(blk.getvalue())
            fh.write(data)
            fh.write(sync)
            n_rows += len(block)
            block.clear()

        for row in rows:
            block.append(row)
            if len(block) >= rows_per_block:
                flush()
        flush()
    return n_rows


def _read_header(fh):
    if fh.read(4) != _MAGIC:
        raise ValueError("not an Avro object container file")
    meta: dict[str, bytes] = {}
    r = _Reader(fh.read())  # header + blocks; we track pos manually
    while True:
        n = r.read_long()
        if n == 0:
            break
        if n < 0:  # negative block count is followed by a byte size
            r.read_long()
            n = -n
        for _ in range(n):
            k = r.read_bytes().decode()
            meta[k] = r.read_bytes()
    sync = r.read_fixed(16)
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    return schema, codec, sync, r


def read_ocf_file(path: str):
    """Yield decoded record tuples from one container file."""
    with open(path, "rb") as fh:
        schema, codec, sync, r = _read_header(fh)
    dec = _decoder(schema)
    while r.pos < len(r.buf):
        count = r.read_long()
        size = r.read_long()
        data = r.read_fixed(size)
        if codec == "deflate":
            data = zlib.decompress(data, wbits=-15)
        elif codec != "null":
            raise ValueError(f"unsupported codec: {codec}")
        if r.read_fixed(16) != sync:
            raise ValueError(f"sync marker mismatch in {path}")
        br = _Reader(data)
        for _ in range(count):
            yield dec(br)


# ------------------------------------------------------------------ #
# Spark type mapping                                                 #
# ------------------------------------------------------------------ #

_SPARK_TO_AVRO = {
    "long": "long", "integer": "int", "string": "string",
    "binary": "bytes", "double": "double", "float": "float",
    "boolean": "boolean",
}
_AVRO_TO_DDL = {
    "long": "bigint", "int": "int", "string": "string",
    "bytes": "binary", "double": "double", "float": "float",
    "boolean": "boolean",
}


def avro_schema_for(spark_schema) -> dict:
    """StructType -> Avro record schema (nullable union per field)."""
    fields = []
    for f in spark_schema.fields:
        tn = f.dataType.typeName()
        if tn == "timestamp":
            at: object = {"type": "long",
                          "logicalType": "timestamp-micros"}
        elif tn in _SPARK_TO_AVRO:
            at = _SPARK_TO_AVRO[tn]
        else:
            raise ValueError(f"avro_ocf cannot write {tn} column "
                             f"{f.name!r}")
        fields.append({"name": f.name,
                       "type": ["null", at] if f.nullable else at})
    return {"type": "record", "name": "envelope", "fields": fields}


def _avro_field_ddl(t) -> str:
    if isinstance(t, list):
        others = [x for x in t if x != "null"]
        if len(others) != 1:
            raise ValueError(f"unsupported union: {t}")
        return _avro_field_ddl(others[0])
    if isinstance(t, dict):
        if t.get("logicalType") == "timestamp-micros":
            return "timestamp"
        return _avro_field_ddl(t["type"])
    if t in _AVRO_TO_DDL:
        return _AVRO_TO_DDL[t]
    raise ValueError(f"avro_ocf cannot read avro type {t!r}")


def ddl_for_avro_schema(schema: dict) -> str:
    return ", ".join(f"{f['name']} {_avro_field_ddl(f['type'])}"
                     for f in schema["fields"])
