"""SparkSession factory with the engine's tuned defaults.

Local mode stands in for the multi-executor cluster: ``local[N]`` = one JVM, N
executor threads.  The same configs apply cluster-side via spark-submit --conf.

Python workers fork from :mod:`rlv._spark_daemon`, which stops every task from
re-reading Spark's own archives (~0.2 s of a core per task on a 4-core host).
Sessions built elsewhere run the stock daemon and give the same results.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _host_driver_mem() -> str:
    """A quarter of host memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return f"{max(1, min(4, kb // (4 << 20)))}g"


def make_session(
    cpus: int,
    app: str = "rlv",
    shuffle_partitions: int | None = None,
    driver_mem: str | None = None,
) -> SparkSession:
    # the daemon runs as ``python -m rlv._spark_daemon`` from the JVM's cwd:
    # the checkout must be on the PYTHONPATH the JVM inherits at launch
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        dict.fromkeys(p for p in [_ROOT, *paths] if p))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # long token arrays: keep Arrow batches big enough to amortize the
        # Python-side per-batch fixed costs, small enough to fit worker memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory", driver_mem or _host_driver_mem())
        .config("spark.python.daemon.module", "rlv._spark_daemon")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
