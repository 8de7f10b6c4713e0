"""SparkSession factory tuned for this engine.

Local mode here; on a real cluster the same builder is used by
``spark-submit --py-files`` (see scripts/submit_crawl.py). AQE is on so skewed
host buckets get runtime skew-join splitting on top of our explicit salting.

Local sessions run their Python workers from ``workerd``, which removes a
~0.2 s per-task archive re-read of Python < 3.13, and put this package on
the workers' ``PYTHONPATH`` so tasks can import it from any working
directory. spark-submit sessions keep Spark's stock worker daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _add_package_to_worker_path() -> None:
    """Prepend the package's parent directory to ``PYTHONPATH``, which the
    JVM hands on to its Python workers; must run before the JVM starts."""
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in (os.path.abspath(p) for p in paths):
        os.environ["PYTHONPATH"] = os.pathsep.join([_PACKAGE_PARENT] + paths)


def default_cpus() -> int:
    """Cores for local sessions: ``SPARK_GRAFT_CPUS`` if set, else the cores
    this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "web_crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism in local mode; a real cluster would size this to
        # executors × cores (or rely on AQE coalescing from a higher number)
        shuffle_partitions = cpus if master.startswith("local") else 200
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # cap fused codegen methods at HotSpot's 8000-byte JIT ceiling —
        # between 8000 and Spark's 65535 default a fused method runs as
        # interpreted bytecode forever (measured 100x on the 64-term
        # embedding dots; see analytics/common.ensure_jitable_codegen)
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
    )
    if master.startswith("local"):
        _add_package_to_worker_path()
        b = b.config("spark.python.daemon.module", "web_crawler_spark.workerd")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
