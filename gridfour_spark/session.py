"""SparkSession factory tuned for the tiling engine.

Local testing runs on local[N]; the same config block is what we would ship
to a 1000-executor cluster via spark-submit --py-files: AQE on (runtime
skew-join splitting + coalescing), Arrow transfer on (every Python kernel is
Arrow-batched), shuffle partitions sized to cores locally / to 2-3x total
cores on a cluster. Python workers fork from gridfour_spark.pydaemon: on
Python 3.11 PySpark has each task re-read every zip on the worker path
(pyspark.zip, the spark-core jar), about 0.2 s of CPU; the daemon skips the
unchanged ones.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gridfour_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    # unset SPARK_GRAFT_CPUS means the cores this process may run on
    cores = str(len(os.sched_getaffinity(0)))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", cores)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else cores
        shuffle_partitions = max(int(n), 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of small shuffle partitions + skew-join
        # splitting (the north_rule skew mandate, alongside explicit salting
        # in pipeline.py).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow everywhere: pandas UDFs / applyInPandas / mapInArrow move
        # whole columnar batches; tile kernels want one tile per batch row.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 100k-row Arrow batches: 10k-row batches caused python-worker churn
        # (GC/socket storms, occasional worker crashes under CPU pinning) and
        # ~2x slower scalar-UDF stages; 100k amortizes the per-batch overhead
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.python.worker.faulthandler.enabled", "true")
        # no per-task re-read of unchanged zips on the worker path (module doc)
        .config("spark.python.daemon.module", "gridfour_spark.pydaemon")
        # Deterministic arithmetic discipline: ANSI off so integer hashing
        # (doc geometry derivation) uses well-defined wraparound-free pmod
        # chains without runtime overflow checks in the hot path; every
        # expression we emit stays within int64 by construction anyway.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
