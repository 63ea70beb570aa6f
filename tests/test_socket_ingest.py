"""Network-transport ingest: JSON messages over a real TCP socket →
envelope → silver, equivalence-tested against the batch path (the
local analog of the reference's Kafka-protocol Event Hubs producer,
kafka-eh/produce_to_eventhub.py:55-107 — no broker in this container,
but the wire path message framing → envelope → silver is real)."""

from __future__ import annotations

import json
import socket
import threading
import time

import pytest

from us_flight_delay_data_pipeline_spark.plans.silver import silver_transform
from us_flight_delay_data_pipeline_spark.streaming.ingest import (
    stream_socket_json_source,
)

from flight_fixtures import make_clean_rows

# The test bounds its own wait: pytest-timeout is not a dependency.
DEADLINE_S = 120


def _serve(rows: list[dict], sock: socket.socket, done: threading.Event):
    conn, _ = sock.accept()
    try:
        payload = "".join(json.dumps(r) + "\n" for r in rows).encode()
        conn.sendall(payload)
        done.wait(timeout=90)  # hold the connection until test asserts
    finally:
        conn.close()
        sock.close()


def test_socket_json_to_silver_matches_batch(spark, tmp_path):
    rows = make_clean_rows(n=60, seed=11)
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)
    done = threading.Event()
    t = threading.Thread(target=_serve, args=(rows, srv, done), daemon=True)
    t.start()

    env = stream_socket_json_source(spark, "127.0.0.1", port)
    silver = silver_transform(env)
    name = "socket_silver_sink"
    q = (silver.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        deadline = time.time() + DEADLINE_S
        delivered = 0
        while time.time() < deadline:
            delivered = spark.table(name).count()
            if delivered >= len(rows):
                break
            time.sleep(1)
        else:
            pytest.fail(f"socket stream delivered {delivered} of {len(rows)} "
                        f"rows in {DEADLINE_S} s")
        got = spark.table(name)
        assert got.count() == len(rows)
        # equivalence with the batch silver over the same messages
        import pyspark.sql.functions as F
        batch_env = spark.createDataFrame(
            [(json.dumps(r).encode(),) for r in rows], "body binary")
        expect = silver_transform(batch_env)
        key = ["year", "month", "carrier", "airport"]
        g = sorted(tuple(r) for r in got.select(*key, "arr_flights").collect())
        e = sorted(tuple(r) for r in expect.select(*key, "arr_flights").collect())
        assert g == e
    finally:
        done.set()
        q.stop()
