"""SparkSession factory tuned for the tiling engine.

Local testing runs on local[N]; the same config block is what we would ship
to a 1000-executor cluster via spark-submit --py-files: AQE on (runtime
skew-join splitting + coalescing), Arrow transfer on (every Python kernel is
Arrow-batched), shuffle partitions sized to cores locally / to 2-3x total
cores on a cluster. Python workers fork from gridfour_spark.pydaemon: on
Python 3.11 PySpark has each task re-read every zip on the worker path
(pyspark.zip, the spark-core jar), about 0.2 s of CPU; the daemon skips the
unchanged ones. Spark's codegen cache is sized to hold every class a pass
of the engine compiles; at Spark's default of 100 entries each pass evicted
the previous pass's classes and compiled them again. Spark reads that size
once per JVM, when the first session builds the cache, so it holds only
when get_spark creates the JVM's first session. PySpark's DataFrame
debugging is off: it made every Column call capture its Python call site
(a stack walk and four py4j round trips), about 60 % of the round trips
of building a docs call. Errors keep their error class and lose only the
Python file:line. PySpark reads the setting once per process, at the
first Column call that sees an active session, so it holds when that is
get_spark's session. Driver memory defaults to half of physical memory,
at most 8 GB.
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
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    driver_mem = os.environ.get("SPARK_DRIVER_MEM", f"{min(8192, phys_mb // 2)}m")
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
        # >= 2x the 1172 distinct classes all 50 entry queries compile (CHANGES.md)
        .config("spark.sql.codegen.cache.maxEntries", "2500")
        # no Python call-site capture per Column call (module doc)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Deterministic arithmetic discipline: ANSI off so integer hashing
        # (doc geometry derivation) uses well-defined wraparound-free pmod
        # chains without runtime overflow checks in the hot path; every
        # expression we emit stays within int64 by construction anyway.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
