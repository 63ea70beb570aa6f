"""The fork-free local filesystem that ``get_spark`` installs for
``local[...]`` masters (us_flight_delay_data_pipeline_spark/jvm/).

Without libhadoop, Hadoop's RawLocalFileSystem forks ``chmod`` for
every file and directory it creates, and FileContext forks ``readlink``
before every rename of a streaming checkpoint file. The shim sets
permissions in-process, and ``get_spark`` moves the checkpoint logs onto
the FileSystem API. These tests pin that the committed jar is built
from the committed source, that a session really stops shelling out,
that what it writes on disk is the same as with Hadoop's own
filesystem, and when ``get_spark`` installs the shim.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import stat
import subprocess
import sys
import textwrap
from types import SimpleNamespace

import pyspark
import pytest
from pyspark import SparkContext

from us_flight_delay_data_pipeline_spark import session
from us_flight_delay_data_pipeline_spark.jvm import build

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHELL_CMDS = ("chmod", "readlink", "ls", "stat")

# One session per side writes a partitioned Parquet table, overwrites a
# TxTable and drains two files through the exactly-once txlog sink,
# then prints the mode of everything it wrote. "stock" is a plain
# builder session (Hadoop's own local filesystem); get_spark must refuse
# its JVM, both while that session is active, which must be left as it
# was, and after it has stopped, leaving no session behind. "shim" is a
# get_spark session with a caller classpath entry that must survive next
# to the jar. "submit" is the same get_spark call in a driver that
# spark-submit started after its own JVM: it must run on Hadoop's own
# filesystem instead of failing.
PROBE = textwrap.dedent("""
    import json, os, sys
    os.umask(0o022)
    side, out, extra_cp = sys.argv[1:4]
    from pyspark.sql import SparkSession, functions as F
    from tests.flight_fixtures import encode_bodies, make_clean_rows
    from us_flight_delay_data_pipeline_spark import session
    from us_flight_delay_data_pipeline_spark.operators.txlog import TxTable
    from us_flight_delay_data_pipeline_spark.plans.silver import (
        silver_transform)
    from us_flight_delay_data_pipeline_spark.streaming.ingest import (
        ENVELOPE_SCHEMA, stream_envelope_source, stream_txlog_sink)

    conf = {"spark.driver.memory": "512m", "spark.ui.enabled": "false",
            "spark.sql.shuffle.partitions": "2"}
    if side == "stock":
        builder = SparkSession.builder.master("local[2]")
        for k, v in conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
    else:
        conf["spark.driver.extraClassPath"] = extra_cp
        spark = session.get_spark("localfs-probe", "local[2]", conf)
    spark.sparkContext.setLogLevel("ERROR")
    res = {"extra_cp": extra_cp}
    if side == "stock":
        try:
            session.get_spark("localfs-probe", "local[2]", conf)
        except RuntimeError as exc:
            res["refused_active"] = str(exc)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    res["fs_impl"] = spark.conf.get("spark.hadoop.fs.file.impl",
                                    hconf.get("fs.file.impl"))
    res["class_path"] = spark.conf.get("spark.driver.extraClassPath", "")

    df = spark.range(100).select((F.col("id") % 4).alias("p"), "id")
    df.write.partitionBy("p").parquet(os.path.join(out, "parted"))
    TxTable(spark, os.path.join(out, "tx")).overwrite(df)
    drop = os.path.join(out, "drop")
    rows = [(b, str(i % 2), i, None)
            for i, b in enumerate(encode_bodies(make_clean_rows(40)))]
    (spark.createDataFrame(rows, ENVELOPE_SCHEMA)
     .withColumn("enqueued_at", F.current_timestamp())
     .repartition(2).write.parquet(drop))
    q = stream_txlog_sink(
        silver_transform(stream_envelope_source(spark, drop,
                                                max_files_per_trigger=1)),
        os.path.join(out, "table"), os.path.join(out, "ckpt"),
        query_id="probe")
    q.awaitTermination(120)
    res["batches"] = sum(1 for p in q.recentProgress
                         if "addBatch" in p["durationMs"])
    res["modes"] = {}
    for d, dirs, files in os.walk(out):
        for n in dirs + files:
            p = os.path.join(d, n)
            res["modes"][os.path.relpath(p, out)] = os.stat(p).st_mode
    if side == "stock":
        spark.stop()
        try:
            session.get_spark("localfs-probe", "local[2]", conf)
        except RuntimeError as exc:
            res["refused_stopped"] = str(exc)
        res["left_active"] = SparkSession.getActiveSession() is not None
    print("PROBE " + json.dumps(res))
""")


def _wrapper_dir(path) -> str:
    """``chmod``/``readlink``/``ls``/``stat`` that log their arguments to
    $SHELLOUT_LOG, then run the real command."""
    os.makedirs(path)
    for cmd in SHELL_CMDS:
        real = shutil.which(cmd)
        with open(os.path.join(path, cmd), "w") as fh:
            fh.write(f'#!/bin/sh\necho "{cmd} $*" >> "$SHELLOUT_LOG"\n'
                     f'exec {real} "$@"\n')
        os.chmod(os.path.join(path, cmd), 0o755)
    return str(path)


def _normalize(rel: str) -> str:
    """Path with the per-run parts (uuids, part numbers, txlog data-dir
    names) replaced, so both sides' trees line up."""
    rel = re.sub(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "U", rel)
    rel = re.sub(r"(part-)\d+", r"\1N", rel)
    return re.sub(r"((^|/)data/)[^/]+", r"\1D", rel)


@pytest.fixture(scope="module")
def probes(tmp_path_factory):
    """Run the three sides concurrently under logging wrappers; return
    {side: (result, out_dir, logged lines)}."""
    base = tmp_path_factory.mktemp("localfs")
    wrappers = _wrapper_dir(base / "bin")
    probe = base / "probe.py"
    probe.write_text(PROBE)
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin",
                          "spark-submit")
    launch = {"stock": [sys.executable], "shim": [sys.executable],
              "submit": [submit, "--master", "local[2]",
                         "--driver-memory", "512m"]}
    procs = {}
    for side, cmd in launch.items():
        out = base / side
        out.mkdir()
        env = dict(os.environ,
                   PATH=wrappers + os.pathsep + os.environ["PATH"],
                   SHELLOUT_LOG=str(base / f"{side}.log"),
                   PYTHONPATH=ROOT, PYSPARK_PYTHON=sys.executable)
        procs[side] = (str(out), subprocess.Popen(
            [*cmd, str(probe), side, str(out), str(base / "cp")],
            cwd=ROOT, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.PIPE, text=True))
    results = {}
    for side, (out, proc) in procs.items():
        stdout, stderr = proc.communicate(timeout=600)
        assert proc.returncode == 0, stderr[-3000:]
        line = [ln for ln in stdout.splitlines() if ln.startswith("PROBE ")]
        assert line, stdout[-2000:]
        log = base / f"{side}.log"
        logged = log.read_text().splitlines() if log.exists() else []
        results[side] = (json.loads(line[-1][6:]), out, logged)
    return results


def test_jar_rebuilds_byte_identical(tmp_path):
    if shutil.which("javac") is None:
        pytest.skip("no javac on PATH")
    local, built_with = build.javac_version(), build.jar_javac_version()
    if local != built_with:
        pytest.skip(f"jar built with {built_with}, local compiler is "
                    f"{local}: class bytes may differ between JDK builds")
    assert build.compile_classes(str(tmp_path)) == build.jar_classes()


def test_localfs_conf_keeps_caller_classpath():
    conf = session.localfs_conf("/libs/a.jar:/libs/b.jar")
    assert conf["spark.driver.extraClassPath"] == os.pathsep.join(
        [session.LOCALFS_JAR, "/libs/a.jar:/libs/b.jar"])
    assert session.localfs_conf()["spark.driver.extraClassPath"] \
        == session.LOCALFS_JAR
    for k, v in session.LOCALFS_CONF.items():
        assert conf[k] == v


def test_no_shell_outs_under_written_paths(probes):
    """A partitioned write, a TxTable overwrite and a 2-batch txlog-sink
    drain fork no chmod/readlink/ls/stat naming a path they wrote; the
    same work on Hadoop's own filesystem does (which also shows the
    wrappers intercept the JVM's shell-outs)."""
    res, out, logged = probes["shim"]
    assert res["fs_impl"] == session.LOCALFS_CONF["spark.hadoop.fs.file.impl"]
    assert res["batches"] == 2
    assert [ln for ln in logged if out in ln] == []
    _, stock_out, stock_logged = probes["stock"]
    stock_cmds = {ln.split()[0] for ln in stock_logged if stock_out in ln}
    assert {"chmod", "readlink"} <= stock_cmds


def test_modes_match_stock_filesystem(probes):
    norm = {side: {} for side in probes}
    for side, (res, _, _) in probes.items():
        for rel, mode in res["modes"].items():
            norm[side].setdefault(_normalize(rel), set()).add(mode)
    assert norm["shim"] == norm["stock"]
    kinds = " ".join(norm["shim"])
    for kind in (".parquet", ".crc", "_SUCCESS", "p=0", "ckpt/offsets/0",
                 "ckpt/commits/1"):
        assert kind in kinds


def test_caller_classpath_survives_in_session(probes):
    res, _, _ = probes["shim"]
    assert res["class_path"] == os.pathsep.join([session.LOCALFS_JAR,
                                                 res["extra_cp"]])


def test_get_spark_refuses_jvm_without_shim(probes):
    """Refused before getOrCreate: the caller's active session keeps
    Hadoop's filesystem (the stock side's writes ran after the refusal),
    and a refusal after it stopped leaves no session behind."""
    res, _, _ = probes["stock"]
    for key in ("refused_active", "refused_stopped"):
        assert "cannot load the local filesystem shim" in res.get(key, "")
    assert res["fs_impl"] is None
    assert res["batches"] == 2
    assert not res["left_active"]


def test_launcher_jvm_keeps_stock_filesystem(probes):
    """Under spark-submit the JVM is up before get_spark runs; get_spark
    leaves its filesystem alone instead of refusing it."""
    res, _, _ = probes["submit"]
    assert res["fs_impl"] is None
    assert session.LOCALFS_JAR not in res["class_path"]
    assert res["batches"] == 2


def test_installs_localfs_decision(spark, monkeypatch):
    """Installed for local masters on a JVM this process starts or
    started with the jar; skipped for cluster masters and for a JVM a
    launcher started, before or after Python connected to it."""
    assert session._installs_localfs("local[2]")
    assert session._installs_localfs("local")
    assert not session._installs_localfs("yarn")
    assert not session._installs_localfs("spark://host:7077")
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert session._installs_localfs("local[2]")
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert not session._installs_localfs("local[2]")
    monkeypatch.setattr(SparkContext, "_gateway", SimpleNamespace(proc=None))
    assert not session._installs_localfs("local[2]")


def test_session_uses_shim(spark, tmp_path):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
    assert fs.getClass().getName() == "sparkgraft.fs.ForkFreeLocalFileSystem"
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
            spark._jsparkSession.sessionState().newHadoopConf())
    assert manager.getClass().getName() == session.LOCALFS_CONF[
        "spark.sql.streaming.checkpointFileManagerClass"]


def test_set_permission_bits(spark, tmp_path):
    """The nine rwx bits are set in-process; a sticky mode, which
    java.nio cannot express, takes Hadoop's own path and keeps its
    sticky bit."""
    jvm = spark.sparkContext._jvm
    shim = jvm.sparkgraft.fs.ForkFreeLocalFileSystem().getRawFileSystem()
    shim.initialize(jvm.java.net.URI("file:///"),
                    spark.sparkContext._jsc.hadoopConfiguration())
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    f, d = tmp_path / "f", tmp_path / "d"
    f.write_text("x")
    d.mkdir()
    for mode in (0o640, 0o751, 0o000, 0o777):
        shim.setPermission(jvm.org.apache.hadoop.fs.Path(str(f)),
                           perm.createImmutable(mode))
        assert stat.S_IMODE(os.stat(f).st_mode) == mode
    shim.setPermission(jvm.org.apache.hadoop.fs.Path(str(d)),
                       perm.createImmutable(0o1777))
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o1777
    with pytest.raises(Exception, match="FileNotFoundException"):
        shim.setPermission(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "gone")),
                           perm.createImmutable(0o644))
