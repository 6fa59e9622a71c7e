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

NEAR_DUPS = CORPUS + [
    "the quick brown fox jumps over the lazy dog again and again",
    "the quick brown fox jumps over the lazy dog again and once more",
    "a quick brown fox jumps over the lazy dog again and again",
]


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


def _near_dup_call(spark):
    docs = spark.createDataFrame(list(enumerate(NEAR_DUPS)), "doc_id long, text string")
    return docs, lambda d: textops.near_dup_pairs(d, 0.5)


def _knn_escalation_call(spark):
    pts = spark.createDataFrame(_points(200), "pt_id int, lat double, lon double")
    adf = spark.createDataFrame(_polar_anchors(), "anchor_id int, alat double, alon double")
    return pts, lambda p: spatial.knn_join(p, adf, k=3, res=5, ring=1)


@pytest.mark.parametrize(
    "case", [_near_dup_call, _knn_escalation_call], ids=["near_dup_pairs", "knn_join"]
)
def test_repeat_calls_reuse_the_session_cache(spark, case):
    """A frame persisted inside a lazy result is cached for the session,
    keyed by plan: every repeat call on one input finds the first call's
    frames cached, so it reads none of the input, and the set of persisted
    RDDs stays the one the first call left."""
    df, call = case(spark)
    counted, acc = _counted(df)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    reads, added, outs = [], [], []
    for _ in range(5):
        n0 = acc.value
        outs.append(sorted(call(counted).collect()))
        reads.append(acc.value - n0)
        added.append(set(jsc.getPersistentRDDs().keys()) - before)
    assert outs[0] and all(o == outs[0] for o in outs)
    assert reads[0] > 0 and reads[1:] == [0] * 4, reads
    assert added[0] and all(a == added[0] for a in added), added
