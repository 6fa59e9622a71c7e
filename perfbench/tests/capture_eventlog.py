"""Regenerate data/eventlog.jsonl, the small Spark event log the parser
tests read: two job groups, an Arrow Python stage, a shuffle and a persisted
DataFrame. Only the event types the parser reads are kept.

    python3 perfbench/tests/capture_eventlog.py
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = {"SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskStart",
        "SparkListenerTaskEnd", "SparkListenerBlockUpdated", "SparkListenerUnpersistRDD"}


def double(batches):
    for pdf in batches:
        pdf["id"] = pdf["id"] * 2
        yield pdf


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp()
    try:
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", "file://" + tmp)
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false")
                 .config("spark.eventLog.logBlockUpdates.enabled", "true")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.sql.adaptive.enabled", "false")
                 .getOrCreate())
        sc = spark.sparkContext
        sc.setJobGroup("demo.square#0", "demo.square")
        out = spark.range(1000, numPartitions=2).mapInPandas(double, "id long").persist()
        out.groupBy((F.col("id") % 3).alias("m")).count().collect()
        sc.setJobGroup("demo.other#1", "demo.other")
        out.count()
        out.unpersist(blocking=True)
        spark.stop()
        (path,) = glob.glob(os.path.join(tmp, "*"))
        with open(path) as src, open(os.path.join(HERE, "data", "eventlog.jsonl"), "w") as dst:
            for line in src:
                if json.loads(line)["Event"] in KEEP:
                    dst.write(line)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
