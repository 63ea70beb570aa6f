#!/usr/bin/env python3
"""Standalone A/B measurement of named queries.

Runs the target queries interleaved with BOTH frozen control profiles
in one fresh-JVM session, cold runs (release_tracked + clearCache
between every run — the bench.py methodology), and prints one JSON
line with raw runs, medians, session control factors and
box-normalized seconds.

An A/B is several interleaved runs of this script in two checkouts
(before / after a change), alternating which checkout runs first, and
compares the per-run medians of the two sides. The box factor does not
cancel host load: the normalized medians of one run per side cannot
resolve differences under ~30%. Each target also reports
``<query>.jobs``, the median number of Spark jobs per timed run,
counted by a job group set around each run: far steadier than time
where a change alters how many jobs a query starts, though some
queries still differ by one job between sessions.

For each target it also writes ``explain("formatted")`` of its
first-round frame to ``plans/ab/<query>_<rev>.txt``, where ``<rev>``
is ``git describe --always --dirty`` of this checkout, so the
before / after plans of an A/B land side by side. The plan is written
outside the timed region. After the timed rounds it builds each target
once more and reports the py4j commands that build sent to the JVM as
``<query>.py4j_calls`` (driver-side cost; builders that run actions
count theirs too).

Usage: SPARK_GRAFT_SF_DIR=... python scripts/perf_ab.py q1 [q2 ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) data directory;
     SPARK_GRAFT_AB_ROUNDS (default 3) measurement rounds.
"""
import contextlib
import io
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from us_flight_delay_data_pipeline_spark.operators.cache import (  # noqa: E402
    release_tracked)
from us_flight_delay_data_pipeline_spark.queries import load_registry  # noqa: E402
from us_flight_delay_data_pipeline_spark.session import (  # noqa: E402
    count_py4j_calls, get_spark)

import bench  # noqa: E402

CONTROLS = ["region_revenue", "text_stats", "segment_sales",
            "topk_orders", "sessionize_events", "customer_running_total"]


def _revision() -> str:
    out = subprocess.run(["git", "describe", "--always", "--dirty"],
                         cwd=REPO, capture_output=True, text=True)
    return out.stdout.strip() or "norev"


def _write_plan(df, path: str) -> None:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    with open(path, "w") as fh:
        fh.write(buf.getvalue())
    print(f"wrote {path}", file=sys.stderr)


def main() -> None:
    targets = sys.argv[1:]
    if not targets:
        sys.exit(__doc__)
    rounds = int(os.environ.get("SPARK_GRAFT_AB_ROUNDS", "3"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plan_dir = os.path.join(REPO, "plans", "ab")
    os.makedirs(plan_dir, exist_ok=True)
    rev = _revision()
    spark = get_spark(app_name="perf_ab")
    reg = load_registry()
    bench.materialize(reg["monthly_trend"].fn(spark, sf_dir))  # JVM warmup

    names = targets + CONTROLS
    times = {n: [] for n in names}
    jobs = {n: [] for n in targets}
    sc = spark.sparkContext
    for rnd in range(rounds):
        for n in names:
            group = f"ab:{n}:r{rnd}"
            sc.setJobGroup(group, group)
            t0 = time.time()
            df = reg[n].fn(spark, sf_dir)
            bench.materialize(df)
            times[n].append(round(time.time() - t0, 3))
            if n in targets:
                jobs[n].append(
                    len(sc.statusTracker().getJobIdsForGroup(group)))
            if rnd == 0 and n in targets:
                _write_plan(df, os.path.join(plan_dir, f"{n}_{rev}.txt"))
            release_tracked()
            spark.catalog.clearCache()
    calls = {}
    for t in targets:
        with count_py4j_calls() as n_calls:
            reg[t].fn(spark, sf_dir)
        calls[t] = n_calls[0]
        release_tracked()
        spark.catalog.clearCache()
    med = {n: round(statistics.median(v), 3) for n, v in times.items()}
    ref = bench.control_reference()
    sref = bench.shuffle_control_reference()
    box = statistics.median(med[n] / ref[n] for n in ref)
    sbox = statistics.median(med[n] / sref[n] for n in sref)
    out = {"box_factor": round(box, 3), "box_factor_shuffle": round(sbox, 3),
           "controls": {n: med[n] for n in CONTROLS}}
    for t in targets:
        out[t] = {"runs": times[t], "median_sec": med[t],
                  "box_normalized_sec": round(med[t] / box, 3)}
        out[f"{t}.py4j_calls"] = calls[t]
        out[f"{t}.jobs"] = statistics.median(jobs[t])
    print(json.dumps(out))


if __name__ == "__main__":
    main()
