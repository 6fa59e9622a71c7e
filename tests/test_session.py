"""The session factory's settings, checked by their effect on the running JVM."""

from __future__ import annotations

import os
from functools import reduce

import pytest
from py4j.java_gateway import JavaMember
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gridfour_spark import spatial, tiling
from gridfour_spark.spec import GLOBAL_GRID

CHURN_CLASSES = 150  # more than Spark's default codegen cache holds (100)
# py4j round trips to build each lazy frame below on a 10-point frame:
# 38 and 606 measured, against 118 and 1474 with Python call-site capture
# on and one withColumn per column
ROUND_TRIP_BUDGET = {"with_tile_assignment": 50, "knn_join": 750}


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


def _points(spark):
    return spark.createDataFrame(
        [(i, -80.0 + i * 16.0, -170.0 + i * 34.0) for i in range(10)],
        "pt_id int, lat double, lon double")


def test_building_a_plan_stays_within_its_round_trip_budget(spark, monkeypatch):
    """Every py4j call is a round trip to the JVM. With PySpark's DataFrame
    debugging on, each Column call adds four to capture its Python call
    site, which roughly triples what building a plan costs."""
    pts = _points(spark)
    anchors = spark.createDataFrame(
        [(i, 60.0 - i * 12.0, 150.0 - i * 30.0) for i in range(10)],
        "anchor_id int, alat double, alon double")
    grid = tiling.with_geo_to_grid(pts, GLOBAL_GRID)
    builds = {
        "with_tile_assignment": lambda: tiling.with_tile_assignment(grid, GLOBAL_GRID),
        # res and ring given: building the frame runs no job
        "knn_join": lambda: spatial.knn_join(pts, anchors, k=3, res=3, ring=1),
    }
    calls = [0]
    call = JavaMember.__call__

    def counted(self, *args):
        calls[0] += 1
        return call(self, *args)

    monkeypatch.setattr(JavaMember, "__call__", counted)
    for name, build in builds.items():
        c0 = calls[0]
        build()
        assert calls[0] - c0 <= ROUND_TRIP_BUDGET[name], (name, calls[0] - c0)


def test_failures_stay_loud_without_python_call_sites(spark):
    """A plan error still raises with its error class; only the Python
    file:line of the Column call is gone from its context."""
    with pytest.raises(AnalysisException) as err:
        tiling.with_grid_to_model(_points(spark).withColumnRenamed("lat", "col"), GLOBAL_GRID)
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")
    assert not [c for c in err.value.getQueryContext() if ".py:" in c.summary()]
