"""SparkSession factory tuned for both local testing and cluster scale.

The reference ran on Databricks with default configs (see SURVEY.md §4:
it encodes no optimizer settings of its own). Here we set the knobs
that matter at 100 TB explicitly:

- AQE on (runtime partition coalescing + skew-join splitting),
- shuffle partitions sized to cores locally (a cluster deployment
  overrides via ``spark-submit --conf``; AQE coalesces down anyway),
- Arrow enabled for the few pandas_udf paths,
- broadcast threshold left at default 10 MB — dimension tables
  (region/nation/supplier/part at any SF, carrier lookups) stay under
  it; AQE also converts to broadcast at runtime when a side turns out
  small.

Local filesystem. pyspark ships Hadoop without its native library
(``libhadoop``), so Hadoop's ``RawLocalFileSystem`` starts a ``chmod``
process for every file and directory it creates, and Spark's default
FileContext-based streaming checkpoint manager starts ``readlink``
processes before every rename: ~2,000 forks per 25-batch stream drain
and ~1,400 per medallion pass (perfbench, 4-core VM). For ``local[...]``
masters ``get_spark`` therefore puts ``jvm/localfs.jar`` on the driver
classpath and registers its ``LocalFileSystem`` subclass as
``fs.file.impl``, which sets permissions in-process with ``java.nio``
(``.crc`` checksum files are kept), and selects Spark's FileSystem-based
checkpoint manager, whose renames are plain ``rename(2)`` calls. Only
local masters get this, because only there is the driver JVM, whose
classpath this sets, also the executor; HDFS, S3 and cluster masters
keep Hadoop's own filesystems. Only a JVM this process starts gets it
too: under spark-submit the JVM is running before ``get_spark`` is
called, and its classpath is fixed.
"""

from __future__ import annotations

import os
import re

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]

LOCALFS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "jvm", "localfs.jar")
LOCALFS_CONF = {
    "spark.hadoop.fs.file.impl": "sparkgraft.fs.ForkFreeLocalFileSystem",
    # Checkpoint logs through FileSystem, not FileContext, whose renames
    # first run readlink. On a local disk both managers check that the
    # target is absent and then rename(2).
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
}
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def _default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8


def get_spark(app_name: str = "us-flight-delay-pipeline-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or all cores);
    a cluster run passes its master explicitly. Under a launcher that
    starts the JVM before Python (spark-submit, which sets
    ``PYSPARK_GATEWAY_PORT``) the session attaches to that JVM, and the
    fork-free local filesystem is not installed, since a running JVM's
    classpath cannot take the jar. Raises ``RuntimeError``, before any
    session is created or changed, when a local master would run on a
    JVM this process started earlier without the jar.
    """
    cores = _default_parallelism()
    if master is None:
        master = f"local[{cores}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing, skew-join mitigation, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Local-mode shuffle sizing: one partition per core. At
        # cluster scale this is overridden (or AQE coalesces).
        .config("spark.sql.shuffle.partitions", str(cores))
        # Arrow transfers for pandas_udf / toPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ANSI off: the reference relies on null-on-failed-cast
        # semantics (string→numeric TRY_CAST behavior, SURVEY.md §1).
        .config("spark.sql.ansi.enabled", "false")
        # Keep timestamps session-timezone-stable for oracle parity.
        .config("spark.sql.session.timeZone", "UTC")
        # The testdata events table stores TIMESTAMP(NANOS) parquet,
        # which Spark has no native type for — read as long nanos and
        # convert at the source layer (registry.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    conf = dict(extra_conf or {})
    if _installs_localfs(master):
        conf.update(localfs_conf(conf.get("spark.driver.extraClassPath")))
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def localfs_conf(class_path: str | None = None) -> dict[str, str]:
    """The conf that installs the fork-free local filesystem, keeping
    the caller's driver classpath after the jar."""
    return {"spark.driver.extraClassPath": os.pathsep.join(
                p for p in (LOCALFS_JAR, class_path) if p),
            **LOCALFS_CONF}


def _installs_localfs(master: str) -> bool:
    """Whether ``get_spark`` installs the fork-free local filesystem:
    for a local master whose JVM this process starts, or started
    earlier with the jar. A JVM started by a launcher (spark-submit sets
    ``PYSPARK_GATEWAY_PORT``) keeps Hadoop's own filesystem."""
    if _LOCAL_MASTER.fullmatch(master) is None:
        return False
    gateway = SparkContext._gateway
    if gateway is None:  # getOrCreate connects to a launcher's JVM or starts one
        return "PYSPARK_GATEWAY_PORT" not in os.environ
    if getattr(gateway, "proc", None) is None:  # connected, not started here
        return False
    # This process started the JVM already (a session built before, maybe
    # since stopped). Without the jar on its classpath the first write
    # would die with a ClassNotFoundException.
    try:
        gateway.jvm.org.apache.hadoop.conf.Configuration(False) \
            .getClassByName(LOCALFS_CONF["spark.hadoop.fs.file.impl"])
    except Py4JJavaError as exc:
        raise RuntimeError(
            f"this JVM cannot load the local filesystem shim: it was "
            f"started without {LOCALFS_JAR} on its classpath (a "
            "SparkSession built earlier in this process, not by "
            "get_spark); call get_spark before any other session "
            "starts the JVM") from exc
    return True


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
