"""The session factory's settings, checked by their effect on the running JVM."""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHURN_CLASSES = 150  # more than Spark's default codegen cache holds (100)


def _compiled(spark) -> int:
    """Janino compiles so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_keeps_a_pass_worth_of_classes(spark):
    """A plan compiled before 150 other classes is still cached after them.
    Reads the compile count, not the conf: a cache built earlier in the JVM
    keeps its old size whatever the conf string says."""
    def reference():
        return (spark.range(0, 100, 1, 2)
                .selectExpr("id % 7 AS k", "id * 13 AS v")
                .groupBy("k").agg(F.sum("v").alias("s"))
                .orderBy("k").collect())

    want = reference()
    c0 = _compiled(spark)
    assert reference() == want
    assert _compiled(spark) == c0, "a repeat of a plan compiled again with nothing in between"

    # int literals are inlined into the generated code, so every branch of
    # the union compiles its own classes
    c1 = _compiled(spark)
    for i in range(0, 2 * CHURN_CLASSES, 10):
        if _compiled(spark) - c1 >= CHURN_CLASSES:
            break
        branches = [spark.range(0, 1, 1, 1).selectExpr(f"id * {i + j} + {1000 + i + j} AS v")
                    for j in range(10)]
        reduce(DataFrame.union, branches).collect()
    c2 = _compiled(spark)
    assert c2 - c1 >= CHURN_CLASSES, f"the branches compiled only {c2 - c1} classes"

    assert reference() == want
    assert _compiled(spark) == c2, (
        f"the reference plan compiled {_compiled(spark) - c2} classes again "
        f"after {c2 - c1} others")


def test_driver_memory_follows_physical_memory(spark):
    conf = spark.sparkContext._jsc.sc().conf()
    if "SPARK_DRIVER_MEM" in os.environ:  # an explicit setting wins
        assert conf.get("spark.driver.memory") == os.environ["SPARK_DRIVER_MEM"]
        return
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert conf.getSizeAsBytes("spark.driver.memory") <= min(phys // 2, 8 * 2**30)
