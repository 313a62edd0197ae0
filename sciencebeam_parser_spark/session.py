"""SparkSession factory.

Local test mode runs local[N] in one JVM; the same configuration names hold
on a real cluster (spark.sql.* configs are cluster-side). Defaults follow the
scale guidance: AQE on (runtime join-strategy + skew handling), Arrow on
(pandas-UDF batches), shuffle partitions sized to cores locally — on a large
cluster this would be set to ~2-3x total executor cores or left to AQE
coalescing.

Session-scoped resources — the reference's one-temp-dir-per-session idea
(``ScienceBeamParserSession``, app/parser.py) — go through three helpers:
``session_memo`` (driver-side objects built once per session),
``scratch_dir`` (files under Spark's own driver temp dir, which Spark
deletes on ``SparkContext.stop()`` and at JVM exit) and ``unique_name``
(memory-sink / streaming query names).
"""
from __future__ import annotations

import itertools
import os
from typing import Callable, TypeVar

from pyspark import SparkFiles
from pyspark.sql import SparkSession

T = TypeVar("T")


def get_spark(
    app_name: str = "sciencebeam_parser_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's session: ``master`` defaults to
    ``local[$SPARK_GRAFT_CPUS]``, ``extra_conf`` is applied last.

    Python workers fork from ``sciencebeam_parser_spark.worker_daemon``,
    which spares every Python task a re-read of Spark's zip archives. The
    daemon process imports it from its working directory or an install,
    like any package kernel. A session built without this function (e.g.
    by a caller of ``__spark_entry__``) runs pyspark's own daemon: same
    results, more CPU per Python task.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing floors partitions at 1 MB by default — but this
        # engine's hot stages are CPU-dense and byte-light (a few MB of
        # token rows drive ~30 window/regex expressions each), so the
        # 1 MB floor serialized them onto a handful of cores (measured:
        # cascade 11.1s -> 6.7s, segmentation features 8.8s -> 3.4s with
        # the lower floor). parallelismFirst still targets
        # bytes/defaultParallelism, so byte-heavy stages at cluster scale
        # coalesce exactly as before.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # long query suites compile thousands of whole-stage-codegen
        # classes; the JVM default code cache (~240 MB) fills after ~100
        # queries and the JIT silently degrades to interpreter for every
        # later plan (measured: the same query 6.6s standalone vs 22s late
        # in the bench suite). More cache + flushing keeps the JIT alive.
        .config(
            "spark.driver.extraJavaOptions",
            # append to (not clobber) any user/env-supplied options; note
            # this is a no-op when getOrCreate reuses a running JVM
            (
                os.environ.get("SPARK_DRIVER_EXTRA_JAVA_OPTIONS", "")
                + " -XX:ReservedCodeCacheSize=1g"
            ).strip(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # every Python task calls importlib.invalidate_caches(), and each
        # zipimporter answers by re-reading its whole archive: ~128 ms CPU
        # a task over pyspark.zip, py4j and the spark-core jar (measured on
        # a warm worker). This daemon re-reads only a changed archive.
        .config(
            "spark.python.daemon.module", "sciencebeam_parser_spark.worker_daemon"
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# (applicationId, key) -> value. Only the current session's entries are
# kept: a long-lived process that cycles sessions never holds plans or
# checkpoint handles of a stopped one.
_MEMO: dict = {}


def session_memo(spark: SparkSession, key, factory: Callable[[], T]) -> T:
    """``factory()`` run once per (session, key); later calls return the
    same object. A new session recomputes (new JVM, possibly regenerated
    data) and drops the entries of every other session. A factory that
    raises memoizes nothing."""
    app_id = spark.sparkContext.applicationId
    full_key = (app_id, key)
    if full_key in _MEMO:
        return _MEMO[full_key]
    for stale in [k for k in _MEMO if k[0] != app_id]:
        del _MEMO[stale]
    value = factory()
    _MEMO[full_key] = value
    return value


def scratch_dir(spark: SparkSession, tag: str, sf_dir: str = "") -> str:
    """``<SparkFiles root>/sbp/<tag>[_<basename(sf_dir)>]``, created.

    The root is the driver temp dir of the active SparkContext, so the
    path is private to the session and Spark removes it on stop — no
    cleanup code. Same arguments give the same path within
    a session. Executors that write here need it on shared storage on a
    real cluster (local[] shares it trivially).
    """
    name = tag
    if sf_dir:
        name += "_" + os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(SparkFiles.getRootDirectory(), "sbp", name)
    os.makedirs(path, exist_ok=True)
    return path


_NAMES = itertools.count(1)


def unique_name(prefix: str) -> str:
    """``<prefix>_<n>``, unique in this process: a finished memory sink
    can be re-registered, but an active query with the same name cannot."""
    return f"{prefix}_{next(_NAMES)}"
