"""Incremental hypertable refresh (round-5 verdict next-round #5):
refresh(new_events) must equal a full recompute — including late data into
already-materialized buckets — and the refresh must scan only the delta's
partitions of the stored materialization."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from gridfour_spark.hypertable import RollupStore, minute_aggregate, rollup_level

SF = "/root/testdata/sf0.001"


def _events(spark):
    return spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "ts", "event_type", "value"
    )


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_incremental_refresh_equals_full_recompute(spark, tmp_path):
    ev = _events(spark)
    cut = ev.agg(F.percentile_approx(F.unix_micros(F.col("ts").cast("timestamp")),
                                     0.8, 10000)).collect()[0][0]
    old = ev.filter(F.unix_micros(F.col("ts").cast("timestamp")) <= cut)
    new = ev.filter(F.unix_micros(F.col("ts").cast("timestamp")) > cut)
    assert new.count() > 0 and old.count() > 0
    # the split day itself is shared: new data IS late data for that day's
    # already-materialized buckets — the merge algebra case that matters
    inc = RollupStore(spark, str(tmp_path / "inc"))
    inc.full_refresh(old)
    stats = inc.refresh(new)
    assert stats["days_refreshed"] >= 1

    full = RollupStore(spark, str(tmp_path / "full"))
    full.full_refresh(ev)

    for res in ("minute", "hour", "day"):
        a = _sorted_rows(inc.rollup(res))
        b = _sorted_rows(full.rollup(res))
        assert a == b, res
    # and the materialized minute level equals a direct aggregate of raw
    direct = _sorted_rows(minute_aggregate(ev).drop("d"))
    assert _sorted_rows(inc.rollup("minute")) == direct


def test_refresh_scans_only_delta_partitions(spark, tmp_path):
    ev = _events(spark)
    store = RollupStore(spark, str(tmp_path / "s"))
    store.full_refresh(ev)
    n_days_total = len(
        [p for p in glob.glob(os.path.join(str(tmp_path / "s"), "d=*")) if os.path.isdir(p)]
    )
    assert n_days_total > 3

    # delta touching exactly ONE day: the pruned stored read must list only
    # that partition's files
    d0 = ev.agg(F.min(F.to_date("ts"))).collect()[0][0]
    one_day = ev.filter(F.to_date("ts") == F.lit(d0)).limit(50)
    days = [r["d"] for r in minute_aggregate(one_day).select("d").distinct().collect()]
    assert len(days) == 1
    pruned = store.minute().filter(F.col("d").isin(days))
    files = pruned.select(F.input_file_name()).distinct().collect()
    touched_dirs = {os.path.basename(os.path.dirname(r[0])) for r in files}
    assert touched_dirs == {f"d={days[0]}"}  # one partition dir, not the table
    # the physical plan prunes at the partition level, pre-scan
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    stats = store.refresh(one_day)
    assert stats["days_refreshed"] == 1
    # refresh rewrote ONLY that day's partition; others' files untouched
    full2 = RollupStore(spark, str(tmp_path / "f2"))
    full2.full_refresh(ev.unionByName(one_day))
    assert _sorted_rows(store.rollup("day")) == _sorted_rows(full2.rollup("day"))


def test_refresh_empty_delta_is_noop(spark, tmp_path):
    ev = _events(spark)
    store = RollupStore(spark, str(tmp_path / "s"))
    store.full_refresh(ev)
    before = _sorted_rows(store.rollup("minute"))
    stats = store.refresh(ev.filter(F.lit(False)))
    assert stats["days_refreshed"] == 0
    assert _sorted_rows(store.rollup("minute")) == before


def test_rollup_levels_read_the_aggregate(spark, tmp_path):
    """hour is derived from the minute MATERIALIZATION (a parquet scan of
    the store path), never from raw events — scan source asserted from the
    physical plan."""
    ev = _events(spark)
    store = RollupStore(spark, str(tmp_path / "s"))
    store.full_refresh(ev)
    plan = store.rollup("hour")._jdf.queryExecution().executedPlan().toString()
    assert "events.parquet" not in plan
    assert os.path.basename(store.path) in plan
    hour = rollup_level(store.minute(), "hour")
    assert _sorted_rows(hour) == _sorted_rows(store.rollup("hour"))


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_refresh_failure_releases_delta_cache(spark, tmp_path):
    """refresh on a store whose path was never written fails reading the
    stored minute level, after the delta aggregate is cached; the cache
    must be released on that exception path too."""
    store = RollupStore(spark, str(tmp_path / "never_written"))
    before = _persistent_rdd_ids(spark)
    with pytest.raises(AnalysisException):
        store.refresh(_events(spark))
    assert _persistent_rdd_ids(spark) == before
