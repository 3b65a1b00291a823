"""SparkSession factory.

Replaces the reference's hard-coded ``SparkConf().setMaster('local')``
single-process session (``batch_pipeline/write_session_batch.py:136-139``)
with a cluster-agnostic builder: AQE on (runtime partition coalescing +
skew-join handling), Arrow on (vectorized pandas interchange), session
timezone pinned to UTC so event-time functions agree with any external
oracle, and shuffle parallelism sized to the machine instead of the
200-partition default.

At 100 TB the same builder works unchanged on a real cluster: nothing
here assumes local mode except the default master, which callers
override via ``spark.master`` in their submit conf.
"""

from __future__ import annotations

import os
from functools import reduce

from py4j.java_gateway import JavaClass
from pyspark import SparkContext
from pyspark.sql import SparkSession

from google_cloud_ecommerce_spark import jvm

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_EXTRA_CP = "spark.driver.extraClassPath"


def _export_package_root() -> None:
    """Put the package root on PYTHONPATH so the Python workers the JVM
    forks import the package whatever the process cwd (only the driver's
    ``sys.path`` knows where it is otherwise). Takes effect for a JVM
    launched after this call."""
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if PACKAGE_ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([PACKAGE_ROOT, *paths])


def _local_fs_conf(extra_conf: dict[str, str], master: str | None) -> dict[str, str]:
    """``extra_conf`` plus the fork-free ``file:`` filesystem (jvm/).

    Without libhadoop, which PySpark's pip distribution lacks, Hadoop's
    local filesystem runs ``chmod`` for every permission it sets and
    ``readlink`` for every FileContext rename: hundreds of processes per
    streaming call, for checkpoints, state deltas and sink files. The
    plug-in answers both with java.nio and keeps the ``.crc`` checksums.

    The jar must be on the launch classpath of every JVM that touches
    ``file:`` paths, so it is wired only into a local-mode JVM this
    process is about to launch; a JVM that already runs keeps the
    filesystem it was started with."""
    if SparkContext._gateway is not None:
        usable = isinstance(reduce(getattr, jvm.FS_IMPL.split("."), SparkContext._jvm), JavaClass)
    else:
        usable = "PYSPARK_GATEWAY_PORT" not in os.environ and (master or "").startswith("local")
    if not usable:
        return dict(extra_conf)
    conf = {
        "spark.hadoop.fs.file.impl": jvm.FS_IMPL,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": jvm.ABSTRACT_FS_IMPL,
        **extra_conf,
    }
    conf[_EXTRA_CP] = os.pathsep.join(filter(None, [extra_conf.get(_EXTRA_CP), jvm.JAR]))
    return conf


def get_spark(
    app_name: str = "google_cloud_ecommerce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for analytic workloads.

    Key choices (each matters at scale):
      - AQE enabled: post-shuffle partition coalescing, dynamic skew-join
        splitting, runtime broadcast conversion. At 100 TB skewed keys are
        a given; AQE is the first line of defense.
      - ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
        cluster AQE's coalescing makes the initial number less critical.
      - Arrow execution for any pandas interchange (extension operators).
      - UTC session timezone: event-time queries (day/hour/weekday) must
        be timezone-stable across engines and clusters.
      - A ``file:`` filesystem that spawns no processes (see
        ``_local_fs_conf``), and the package root on PYTHONPATH for the
        Python workers.
    """
    _export_package_root()
    cpus = shuffle_partitions or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        # local mode: executors live in the driver JVM, so the default 1g
        # driver heap is the whole cluster's memory — size it like the
        # executor fleet it stands in for (no-op if the JVM already runs).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
    )
    if not master and not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        master = f"local[{DEFAULT_CPUS}]"
    if master:
        builder = builder.master(master)
    extra_conf = extra_conf or {}
    for k, v in _local_fs_conf(extra_conf, extra_conf.get("spark.master", master)).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
