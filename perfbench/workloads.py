"""The benchmark's workloads. Each one prepares its inputs from the
seed, runs closed-loop passes (the next pass starts only after the
previous one finished) and checks every pass's outputs.

A workload object offers:

- ``prepare(spark, work, size)``: generate inputs and hand them to the
  program; returns the input record;
- ``run_pass(spark, tracer, out_dir)``: one pass, writing only under
  ``out_dir``; returns what ``check`` needs;
- ``check(spark, result)``: ``(ops, ok_ops, detail)`` for the pass,
  outside the timer;
- ``layer_values(result)``: per-layer counters of one checked pass.
"""

from __future__ import annotations

import os
import statistics

import gen

VIEWS = ("v_overall_kpis", "v_monthly_trend", "v_top_carriers",
         "v_causes_pct", "v_master_clean")
DASHBOARDS = ("dashboard_top_carriers", "dashboard_monthly_causes")
GRAINS = ("carrier", "monthly", "causes", "master")


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, checksum files included."""
    files = nbytes = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes


def txlog_values(t) -> dict[str, float]:
    """Commit-log shape of a ``TxTable`` after a pass."""
    history = t.history()
    return {"operators.txlog.commits": len(history),
            "operators.txlog.versions": history[-1]["version"] + 1,
            "operators.txlog.log_files": dir_stats(t.log_dir)[0]}


def _close(a: float, b: float, rel: float = 1e-9) -> bool:
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


class MedallionBatch:
    """One pass = the paper's flow once: envelope encode -> Avro bronze
    -> silver parse/repair/cast into a txlog table -> four gold grains
    in partitioned Parquet -> warehouse views and dashboards."""

    name = "medallion_batch"
    ops_per_pass = 1
    min_batches = 0
    SIZES = {
        "full": dict(rows=9600, carriers=8, airports=300, months=6,
                     dirty_share=0.01, pareto_alpha=1.16),
        "toy": dict(rows=240, carriers=3, airports=60, months=2,
                    dirty_share=0.05, pareto_alpha=1.16),
    }
    # the warm-up runs the full shape, so the timed passes start with
    # the full-size code paths already compiled
    SIZES["warmup"] = SIZES["full"]

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self, spark, work: str, size: str) -> dict:
        from pyspark.sql.types import (BinaryType, IntegerType, LongType,
                                       StringType, StructField, StructType,
                                       TimestampType)
        self.feed = gen.flight_feed(self.seed, **self.SIZES[size])
        schema = StructType([StructField(f, StringType(), True)
                             for f in gen.PAYLOAD_FIELDS])
        self.feed_df = spark.createDataFrame(
            [tuple(self.feed.rows[i][f] for f in gen.PAYLOAD_FIELDS)
             for i in self.feed.clean_idx], schema)
        env_schema = StructType([
            StructField("body", BinaryType(), True),
            StructField("partition", IntegerType(), True),
            StructField("offset", LongType(), True),
            StructField("enqueued_at", TimestampType(), True),
        ])
        dirty_rows = [(self.feed.bodies[i], i % 32, (1 << 40) + i,
                       gen.ENVELOPE_EPOCH)
                      for i in sorted(self.feed.dirty)]
        self.dirty_df = spark.createDataFrame(dirty_rows, env_schema)
        kept = self.feed.kept_rows()
        self.expect_total = gen.expected_sums(kept)
        self.expect_monthly = {}
        for r in kept:
            self.expect_monthly.setdefault(
                (int(r["year"]), int(r["month"])), []).append(r)
        self.expect_monthly = {k: gen.expected_sums(v)
                               for k, v in self.expect_monthly.items()}
        return {**self.feed.params, "input_bytes": self.feed.input_bytes}

    @property
    def rows(self) -> int:
        return len(self.feed.rows)

    @property
    def input_bytes(self) -> int:
        return self.feed.input_bytes

    def run_pass(self, spark, tr, out: str) -> dict:
        from us_flight_delay_data_pipeline_spark.operators.txlog import (
            TxTable)
        from us_flight_delay_data_pipeline_spark.plans import gold, views
        from us_flight_delay_data_pipeline_spark.plans.silver import (
            silver_transform_observed, write_silver_versioned)
        from us_flight_delay_data_pipeline_spark.sources.envelope import (
            encode_envelope, read_envelope_bronze, write_envelope_bronze)
        bronze = os.path.join(out, "bronze")
        silver_dir = os.path.join(out, "silver")
        gold_dir = os.path.join(out, "gold")
        with tr.span("sources.bronze_write"):
            env = encode_envelope(self.feed_df, produced_at=False)
            write_envelope_bronze(env.unionByName(self.dirty_df), bronze,
                                  fmt="avro")
        with tr.span("plans.silver"):
            silver, obs = silver_transform_observed(
                read_envelope_bronze(spark, bronze, fmt="avro"))
            write_silver_versioned(silver, silver_dir)
            health = obs.get
        kpi = gold.derive_kpis(TxTable(spark, silver_dir).snapshot())
        grain_fn = {"carrier": gold.agg_carrier, "monthly": gold.agg_monthly,
                    "causes": gold.agg_causes, "master": gold.gold_master}
        for g in GRAINS:
            with tr.span(f"plans.gold.{g}"):
                df = grain_fn[g](kpi)
                path = os.path.join(gold_dir, g)
                if g == "monthly":  # no carrier column to partition by
                    df.write.mode("overwrite").parquet(path)
                else:
                    gold.write_gold(df, path)
        got = {}
        with tr.span("plans.views"):
            tables = {g: spark.read.parquet(os.path.join(gold_dir, g))
                      for g in GRAINS}
            views.register_gold_views(tables["monthly"], tables["carrier"],
                                      tables["causes"], tables["master"])
            for v in VIEWS:
                with tr.span(f"plans.views.{v}"):
                    got[v] = spark.table(v).collect()
            with tr.span("plans.views.dashboard_top_carriers"):
                got["dashboard_top_carriers"] = views.dashboard_top_carriers(
                    tables["carrier"]).collect()
            with tr.span("plans.views.dashboard_monthly_causes"):
                got["dashboard_monthly_causes"] = (
                    views.dashboard_monthly_causes(tables["causes"])
                    .collect())
        return {"out": out, "health": health, "got": got,
                "txlog": TxTable(spark, silver_dir)}

    def check(self, spark, res: dict) -> tuple[int, int, dict]:
        from us_flight_delay_data_pipeline_spark.sources.envelope import (
            read_envelope_bronze)
        f, h, got = self.feed, res["health"], res["got"]
        got["gold_monthly"] = spark.read.parquet(
            os.path.join(res["out"], "gold", "monthly")).collect()
        bronze_rows = read_envelope_bronze(
            spark, os.path.join(res["out"], "bronze"), fmt="avro").count()
        dropped = res["dropped"] = bronze_rows - h["rows_out"]
        ok = {
            "rows_reconcile": h["rows_out"] + dropped == self.rows
            and h["rows_out"] == len(f.kept_rows()),
            "dropped_eq_planted": dropped == f.n_dropped,
            "gold_monthly": self._monthly_ok(got["gold_monthly"]),
            "v_overall_kpis": self._overall_ok(got["v_overall_kpis"]),
            "v_monthly_trend": len(got["v_monthly_trend"])
            == len(self.expect_monthly),
            "v_master_clean": len(got["v_master_clean"]) == h["rows_out"],
            "txlog_one_version": res["txlog"].latest_version() == 0,
        }
        return 1, int(all(ok.values())), ok

    def _monthly_ok(self, rows) -> bool:
        if len(rows) != len(self.expect_monthly):
            return False
        for r in rows:
            exp = self.expect_monthly.get((r["year"], r["month"]))
            if exp is None or not self._sums_ok(r, exp):
                return False
        return True

    @staticmethod
    def _sums_ok(r, exp: dict) -> bool:
        exact = {"total_arr_flights": "arr_flights",
                 "total_arr_del15": "arr_del15",
                 "total_arr_delay_minutes": "arr_delay",
                 "total_arr_cancelled": "arr_cancelled",
                 "total_arr_diverted": "arr_diverted"}
        if any(r[k] != exp[v] for k, v in exact.items()):
            return False
        return all(_close(r[f"sum_{c}"], exp[c]) for c in gen.CAUSE_FIELDS)

    def _overall_ok(self, rows) -> bool:
        if len(rows) != 1:
            return False
        r, e = rows[0], self.expect_total
        return (r["total_arrivals"] == e["arr_flights"]
                and r["total_del15"] == e["arr_del15"]
                and r["total_delay_minutes"] == e["arr_delay"]
                and r["total_cancelled"] == e["arr_cancelled"]
                and r["total_diverted"] == e["arr_diverted"])

    def layer_values(self, res: dict) -> dict[str, float]:
        bronze = dir_stats(os.path.join(res["out"], "bronze"))
        gold_files = dir_stats(os.path.join(res["out"], "gold"))
        return {
            "sources.bronze_files": bronze[0],
            "sources.bronze_bytes": bronze[1],
            "plans.silver.rows_out": res["health"]["rows_out"],
            "plans.silver.rows_dropped": res["dropped"],
            "plans.gold.files": gold_files[0],
            "plans.gold.bytes": gold_files[1],
            **txlog_values(res["txlog"]),
        }


class StreamDrain:
    """One pass = drain a landed backlog through the file-source stream
    (one file per micro-batch) -> silver -> the exactly-once txlog
    sink, from a fresh checkpoint and a fresh table."""

    name = "stream_drain"
    # p80 of a run's micro-batch times keeps >= 10 samples above it
    min_batches = 50
    SIZES = {
        "full": dict(files=25, rows_per_file=2000),
        "toy": dict(files=4, rows_per_file=60),
        "warmup": dict(files=8, rows_per_file=2000),
    }

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self, spark, work: str, size: str) -> dict:
        sz = self.SIZES[size]
        rows = sz["files"] * sz["rows_per_file"]
        # months=10 keeps rows a multiple of months for every size
        self.feed = gen.flight_feed(
            self.seed, rows=rows, carriers=4,
            airports=max(10, rows // 20), months=10, dirty_share=0.01,
            pareto_alpha=1.16)
        self.drop = os.path.join(work, "drop")
        landed = gen.land_backlog(self.feed, self.drop, sz["files"])
        self.files = sz["files"]
        self.reference = None
        return {**self.feed.params, **landed,
                "input_bytes": self.feed.input_bytes}

    def _reference(self, spark) -> dict:
        """The batch transform over the same drop dir (computed once, at
        the first check), and whether it agrees with the generator."""
        if self.reference is None:
            from pyspark.sql import functions as F
            from us_flight_delay_data_pipeline_spark.plans.silver import (
                silver_transform)
            from us_flight_delay_data_pipeline_spark.streaming.ingest import (
                ENVELOPE_SCHEMA)
            batch = silver_transform(
                spark.read.schema(ENVELOPE_SCHEMA).parquet(self.drop))
            row = batch.agg(F.count("*").alias("n"),
                            F.sum("arr_flights").alias("f")).collect()[0]
            kept = self.feed.kept_rows()
            self.reference = {
                "n": row["n"], "f": row["f"],
                "ok": row["n"] == len(kept)
                and row["f"] == gen.expected_sums(kept)["arr_flights"]}
        return self.reference

    @property
    def rows(self) -> int:
        return len(self.feed.rows)

    @property
    def input_bytes(self) -> int:
        return self.feed.input_bytes

    @property
    def ops_per_pass(self) -> int:
        return self.files

    def run_pass(self, spark, tr, out: str) -> dict:
        from us_flight_delay_data_pipeline_spark.plans.silver import (
            silver_transform)
        from us_flight_delay_data_pipeline_spark.streaming.ingest import (
            stream_envelope_source, stream_txlog_sink)
        table = os.path.join(out, "table")
        with tr.span("streaming.drain"):
            src = stream_envelope_source(spark, self.drop,
                                         max_files_per_trigger=1)
            q = stream_txlog_sink(silver_transform(src), table,
                                  os.path.join(out, "checkpoint"),
                                  query_id="drain", available_now=True)
            q.awaitTermination()
        batches = [p for p in q.recentProgress
                   if "addBatch" in p["durationMs"]]
        return {"out": out, "table": table, "batches": [
            {"trigger_s": p["durationMs"]["triggerExecution"] / 1000.0,
             "add_s": p["durationMs"]["addBatch"] / 1000.0,
             "rows": p["numInputRows"]} for p in batches]}

    def check(self, spark, res: dict) -> tuple[int, int, dict]:
        from pyspark.sql import functions as F
        from us_flight_delay_data_pipeline_spark.operators.txlog import (
            TxTable)
        t = TxTable(spark, res["table"])
        snap = t.snapshot().agg(F.count("*").alias("n"),
                                F.sum("arr_flights").alias("f")).collect()[0]
        ref = self._reference(spark)
        n = len(res["batches"])
        ok = {
            "reference": ref["ok"],
            "snapshot_rows": snap["n"] == ref["n"],
            "snapshot_flights": snap["f"] == ref["f"],
            "batches_eq_files": n == self.files,
            "versions_eq_batches": t.latest_version() == n - 1,
            "batch_input_rows": sum(b["rows"] for b in res["batches"])
            == self.rows,
        }
        res["txlog"] = t
        return n, n if all(ok.values()) else 0, ok

    def layer_values(self, res: dict) -> dict[str, float]:
        batches = res["batches"]
        return {
            "streaming.batches": len(batches),
            "streaming.batch_exec_p50_s": statistics.median(
                b["add_s"] for b in batches),
            "streaming.batch_overhead_p50_s": statistics.median(
                b["trigger_s"] - b["add_s"] for b in batches),
            **txlog_values(res["txlog"]),
        }


WORKLOADS = {w.name: w for w in (MedallionBatch, StreamDrain)}
