"""Single evaluation: a call that forces its output once reads its input once.

The input is wrapped in an identity `mapInArrow` that adds every row it
passes to an accumulator. A plan that re-runs its upstream through lineage
(a lazy branch next to a persisted one, a count() before a collect()) reads
the input twice and shows up here, whatever its output.
"""

from __future__ import annotations

import pytest

from gridfour_spark import spatial, textops

from test_bpe import CORPUS, scalar_bpe
from test_spatial_knn import _anchors, _points, _polar_anchors


def _counted(df):
    """(identity view of df, accumulator of the rows read through it)."""
    acc = df.sparkSession.sparkContext.accumulator(0)

    def count_batches(batches):
        for b in batches:
            acc.add(b.num_rows)
            yield b

    return df.mapInArrow(count_batches, df.schema), acc


def _cached_rdds(spark) -> int:
    rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
    return sum(1 for r in rdds if not r.rdd().isLocallyCheckpointed())


@pytest.mark.parametrize(
    "anchors,kw",
    [
        (_anchors(32), {}),                         # whole-globe disk, one pass
        (_polar_anchors(), {"res": 5, "ring": 1}),  # escalation + fallback
    ],
    ids=["default_res", "escalation"],
)
def test_knn_join_reads_points_once(spark, anchors, kw):
    pts = spark.createDataFrame(_points(200), "pt_id int, lat double, lon double")
    adf = spark.createDataFrame(anchors, "anchor_id int, alat double, alon double")
    counted, acc = _counted(pts)
    stats: dict = {}
    got = spatial.knn_join(counted, adf, k=3, stats_out=stats, **kw).collect()
    assert len(got) == 3 * pts.count()
    assert acc.value == pts.count()
    if kw:
        # the path under test really escalates and falls back
        assert stats["escalated"].count() > 0
        assert stats["fallback"].count() > 0


@pytest.mark.parametrize("cap", [None, 0], ids=["driver", "distributed"])
def test_bpe_train_reads_docs_once(spark, monkeypatch, cap):
    if cap is not None:
        monkeypatch.setattr(textops, "_BPE_DRIVER_MAX_TYPES", cap)
    docs = spark.createDataFrame(list(enumerate(CORPUS)), "doc_id long, text string")
    counted, acc = _counted(docs)
    cached_before = _cached_rdds(spark)
    merges, _ = textops.bpe_train(counted, n_merges=8)
    assert merges == scalar_bpe(CORPUS, 8)[0]
    assert acc.value == len(CORPUS)
    # the type-table cache is released (the distributed path's returned
    # state lives in local checkpoints, which are not caches)
    assert _cached_rdds(spark) == cached_before
