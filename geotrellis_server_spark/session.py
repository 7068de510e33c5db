"""SparkSession factory with scale-appropriate defaults.

Mirrors the execution-model decisions in SURVEY.md §4: AQE on (skew-join
splitting = reference O11), UTC timestamps (oracle comparison), Arrow for
all pandas UDF exchange, shuffle partitions sized to cores for local runs
(on a real cluster this is set per-job from input stats).
"""

from __future__ import annotations

import os

import pyspark
from pyspark.sql import SparkSession

from ._pydaemon import _spark_archive


def get_spark(
    app_name: str = "geotrellis-server-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else os.cpu_count() or 8
        shuffle_partitions = int(n)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # JIT code cache: whole-stage codegen emits one large class per
        # query plan; a long session (a bench suite, a notebook) fills
        # the default 240MB ReservedCodeCacheSize and late queries with
        # BIG generated methods (array-HOF tile assembly) drop to
        # the interpreter — measured ~5x on q14 when it runs late in a
        # full suite vs ~1s fresh/isolated. In local mode the driver JVM
        # hosts the executors, so the driver option covers both.
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=768m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Default 128MB splits pack local-scale inputs into fewer tasks
        # than cores (measured: a 1.1GB table → 18 splits → a 16-core scan
        # can't balance). 16MB keeps >= 4 waves per core at bench scale; on
        # a real cluster with TB inputs the default is fine and this is
        # overridden per-job.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # Python workers import pyspark and py4j from site-packages, not
        # from Spark's zips and jar (_pydaemon.py): each task's
        # importlib.invalidate_caches() no longer re-reads the archives,
        # measured 140-250 ms -> 0.1 ms per task on a 4-core host
        .config("spark.python.daemon.module", "geotrellis_server_spark._pydaemon")
    )
    # RAM-backed shuffle spill when a tmpfs is available: shuffle-heavy
    # stages scale with cores instead of bottlenecking on one disk. On a
    # real cluster this is the NVMe-local-disk equivalent.
    shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    if shm and os.path.isdir(os.path.dirname(shm) or "/"):
        os.makedirs(shm, exist_ok=True)
        b = b.config("spark.local.dir", shm)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # the workers import the pyspark found once Spark's archives are gone:
    # a driver that runs a Spark archive's own pyspark (spark-submit, or
    # PYTHONPATH set to the distribution) or another release would only
    # fail inside a task
    home = os.path.realpath(os.environ.get("SPARK_HOME", ""))
    if spark.version != pyspark.__version__ or _spark_archive(pyspark.__file__, home):
        raise RuntimeError(
            f"Spark {spark.version} runs with pyspark {pyspark.__version__} "
            f"({os.path.dirname(pyspark.__file__)}); the Python workers import "
            "pyspark from site-packages, not from Spark's zip (_pydaemon.py), "
            "so the driver must run the site-packages pyspark of Spark's release")
    return spark
