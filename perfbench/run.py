#!/usr/bin/env python3
"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload medallion_batch --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The run starts a ``local[<cores>]``
session, sets up (inputs from ``--seed``, then a warm-up pass) three
times, runs closed-loop passes for ``--seconds``, checks every pass's
outputs, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run times
half of its passes untraced, restarts the session with an uncompressed
event log, times the other half with spans around every layer call,
and reports the per-layer metrics. The line before the result records
the run's inputs. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import spans as tracing  # noqa: E402
from workloads import GRAINS, VIEWS, DASHBOARDS, WORKLOADS, dir_stats  # noqa: E402

HEAP = "1g"  # driver JVM heap

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "rows_per_s": "rows/s",
    "batch_p50_s": "s", "batch_p80_s": "s", "peak_rss_mb": "MiB",
    "write_amp": "ratio", "ok_frac": "frac",
}
EVENT_LAYERS = ("sources", "plans.silver", "plans.gold", "plans.views",
                "streaming")


def per_layer_units() -> dict[str, str]:
    units = {"session.start_s": "s", "session.warmup_s": "s",
             "sources.bronze_write_s": "s", "sources.bronze_files": "count",
             "sources.bronze_bytes": "bytes", "plans.silver_s": "s",
             "plans.silver.rows_out": "rows",
             "plans.silver.rows_dropped": "rows"}
    units.update({f"plans.gold.{g}_s": "s" for g in GRAINS})
    units.update({"plans.gold.files": "count", "plans.gold.bytes": "bytes",
                  "plans.views_s": "s"})
    units.update({f"plans.views.{v}_s": "s" for v in VIEWS + DASHBOARDS})
    units.update({"streaming.drain_s": "s", "streaming.batches": "count",
                  "streaming.batch_exec_p50_s": "s",
                  "streaming.batch_overhead_p50_s": "s",
                  "operators.txlog.commits": "count",
                  "operators.txlog.versions": "count",
                  "operators.txlog.log_files": "count"})
    for layer in EVENT_LAYERS:
        units.update({f"{layer}.jobs": "count", f"{layer}.tasks": "count",
                      f"{layer}.task_s": "s",
                      f"{layer}.shuffle_write_bytes": "bytes",
                      f"{layer}.spill_bytes": "bytes"})
    for w in WORKLOADS:
        units.update({f"{w}.unattributed_s": "s",
                      f"{w}.trace_overhead_s": "s"})
    return units


# Spans that partition a pass (their sum is the attributed time).
TOP_SPANS = ("sources.bronze_write", "plans.silver",
             *(f"plans.gold.{g}" for g in GRAINS), "plans.views",
             "streaming.drain")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def configure_env(work: str) -> None:
    """Keep every file the run makes inside ``work`` and pin the session
    shape before the JVM starts (it inherits this environment)."""
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the launcher too) would write a perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)


def start_session(work: str, name: str, event_log: bool):
    from us_flight_delay_data_pipeline_spark.session import get_spark
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap (-Xms = spark.driver.memory) keeps the JVM's
        # resident size from following GC heap-resizing decisions
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms{HEAP}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if event_log:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": os.path.join(work, "events")})
    spark = get_spark(app_name=f"perfbench-{name}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    from pyspark import SparkContext
    return getattr(SparkContext._gateway, "proc", None)


def peak_rss_mib() -> tuple[float, float]:
    """Peak resident memory (MiB) of this driver process and of the
    JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm = 0
    proc = jvm_process()
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1])
    return py / 1024.0, jvm / 1024.0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def shutdown() -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of them has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    proc = jvm_process()
    family = _descendants(proc.pid) if proc is not None else []
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    for pid in family:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q`` quantile (0..1) of ``values``."""
    s = sorted(values)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload](args.seed)
        self.warm = WORKLOADS[args.workload](args.seed + 1)
        self.spark = None
        self.n_pass = 0

    def fresh_dir(self) -> str:
        self.n_pass += 1
        path = os.path.join(self.work, "out", f"pass-{self.n_pass:04d}")
        os.makedirs(path)
        return path

    def setup(self, event_log: bool, restart: bool = False) -> dict:
        """(Re)start the session, prepare the inputs, then warm up with
        one pass over a second seeded input of the warm-up size."""
        t0 = time.perf_counter() if restart else T_PROCESS
        if restart:
            self.spark.stop()
        self.spark = start_session(self.work, self.args.workload, event_log)
        t_session = time.perf_counter()
        # inputs are regenerated after a restart: DataFrames die with
        # their session (same seed, so the same inputs)
        shutil.rmtree(os.path.join(self.work, "in"), ignore_errors=True)
        inputs = self.wl.prepare(self.spark,
                                 os.path.join(self.work, "in", "run"),
                                 self.args.size)
        self.warm.prepare(self.spark, os.path.join(self.work, "in", "warm"),
                          "warmup" if self.args.size == "full" else "toy")
        t_warm = time.perf_counter()
        out = self.fresh_dir()
        self.warm.run_pass(self.spark, tracing.Tracer(self.spark, False), out)
        shutil.rmtree(out)
        t1 = time.perf_counter()
        return {"setup_s": t1 - t0, "start_s": t_session - t0,
                "warmup_s": t1 - t_warm, "inputs": inputs}

    def timed_passes(self, seconds: float, tracer,
                     min_batches: int = 0) -> dict:
        """Closed loop: passes back to back until ``seconds`` have
        passed and at least ``min_batches`` micro-batches ran. Output
        dirs are made and removed outside the timer."""
        rec = {"pass_s": [], "batch_s": [], "layers": [], "ops": 0,
               "ok": 0, "bytes_out": [], "checks": [], "t0": time.time()}
        begin = time.perf_counter()
        while True:
            out = self.fresh_dir()
            t0, elapsed = time.perf_counter(), None
            try:
                res = self.wl.run_pass(self.spark, tracer, out)
                elapsed = time.perf_counter() - t0
                ops, ok, detail = self.wl.check(self.spark, res)
                rec["layers"].append(self.wl.layer_values(res))
            except Exception as exc:  # a failed pass fails its ops
                log(f"pass failed: {exc!r}")
                ops, ok, detail, res = (self.wl.ops_per_pass, 0,
                                        {"error": repr(exc)[:300]}, {})
            rec["pass_s"].append(time.perf_counter() - t0 if elapsed is None
                                 else elapsed)
            rec["ops"] += ops
            rec["ok"] += ok
            rec["checks"].append(detail)
            rec["batch_s"] += [b["trigger_s"] for b in res.get("batches", [])]
            rec["bytes_out"].append(dir_stats(out)[1])
            shutil.rmtree(out)
            done = time.perf_counter() - begin >= seconds
            if done and len(rec["batch_s"]) >= min_batches:
                return rec

    def end_to_end(self) -> tuple[dict, dict]:
        setup = self.setup(event_log=False)
        rec = self.timed_passes(self.args.seconds,
                                tracing.Tracer(self.spark, False),
                                self.wl.min_batches
                                if self.args.size == "full" else 0)
        pass_s = statistics.median(rec["pass_s"])
        rss = peak_rss_mib()
        # a batch is one committed ingest: a micro-batch when the
        # workload streams, else the whole pass (one silver commit)
        batches = rec["batch_s"] or rec["pass_s"]
        metrics = {
            "setup_s": setup["setup_s"],
            "pass_s": pass_s,
            "rows_per_s": self.wl.rows / pass_s,
            "batch_p50_s": percentile(batches, 0.5),
            "batch_p80_s": percentile(batches, 0.8),
            "peak_rss_mb": sum(rss),
            "write_amp": statistics.median(rec["bytes_out"])
            / self.wl.input_bytes,
            "ok_frac": rec["ok"] / rec["ops"],
        }
        detail = {"inputs": setup["inputs"],
                  "setup": {k: v for k, v in setup.items() if k != "inputs"},
                  "pass_s": rec["pass_s"], "peak_rss_mb": rss,
                  "batches": len(batches), "checks": rec["checks"][-1]}
        return self._result(rec, metrics, END_TO_END), detail

    def traced(self) -> tuple[dict, dict]:
        first = self.setup(event_log=False)
        plain = self.timed_passes(self.args.seconds / 2,
                                  tracing.Tracer(self.spark, False))
        self.setup(event_log=True, restart=True)
        tracer = tracing.Tracer(self.spark, True)
        rec = self.timed_passes(self.args.seconds / 2, tracer)
        pass_s = statistics.median(rec["pass_s"])
        spans = [s for s in tracer.spans if s[1] >= rec["t0"]]
        durs = tracer.durations(rec["t0"])

        def span_med(name: str) -> float:
            per_pass = durs.get(name, [])
            return statistics.median(per_pass) if per_pass else 0.0

        units = per_layer_units()
        m = dict.fromkeys(units, 0.0)
        m["session.start_s"] = first["start_s"]
        m["session.warmup_s"] = first["warmup_s"]
        for key in ("sources.bronze_write", "plans.silver", "plans.views",
                    "streaming.drain", *(f"plans.gold.{g}" for g in GRAINS),
                    *(f"plans.views.{v}" for v in VIEWS + DASHBOARDS)):
            m[f"{key}_s"] = span_med(key)
        for lv in rec["layers"]:
            for k in lv:
                m[k] = m.get(k, 0.0) + lv[k] / len(rec["layers"])
        attributed = sum(span_med(s) for s in TOP_SPANS)
        w = self.args.workload
        m[f"{w}.unattributed_s"] = pass_s - attributed
        m[f"{w}.trace_overhead_s"] = pass_s - statistics.median(
            plain["pass_s"])
        # per-layer Spark counters, per pass, from the event log
        n = len(rec["pass_s"])
        log_dir = os.path.join(self.work, "events")
        self.spark.stop()  # flushes and closes the event log
        stats = tracing.span_event_stats(tracing.read_event_log(log_dir),
                                         spans)
        for layer in EVENT_LAYERS:
            for name, s in stats.items():
                if name == layer or name.startswith(layer + "."):
                    for k, v in s.items():
                        m[f"{layer}.{k}"] += v / n
        detail = {"inputs": first["inputs"],
                  "untraced_pass_s": plain["pass_s"],
                  "traced_pass_s": rec["pass_s"]}
        return self._result(rec, m, units), detail

    @staticmethod
    def _result(rec: dict, metrics: dict, units: dict) -> dict:
        return {"correct": rec["ok"] == rec["ops"], "attempted": rec["ops"],
                "failed": rec["ops"] - rec["ok"],
                "metrics": {k: {"value": metrics[k], "unit": units[k]}
                            for k in units}}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "toy"), default="full",
                   help="input size; toy is for the benchmark's own test")
    args = p.parse_args()

    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    try:
        import us_flight_delay_data_pipeline_spark  # noqa: F401
    except ImportError as exc:
        log(f"the program is not importable from {ROOT}: {exc}")
        shutil.rmtree(work, ignore_errors=True)
        return 2
    run = Run(args, work)
    try:
        result, detail = run.traced() if args.trace else run.end_to_end()
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
