"""Connected components: textops.dedup_clusters and the graph kernel.

Round-7 finding: min-label propagation + pointer doubling WITHOUT
shortcut-edge augmentation stalls on local-minimum plateaus when node ids
are randomly ordered along a long path — 27 leftover components on a
2000-node permuted path after 25 rounds, while monotone-id paths (the
only long shapes previously tested) converge trivially. These tests pin
the fixed algorithm on adversarial orderings against scalar union-find,
and pin the loud-failure contract (RuntimeError, never silent
under-merge) when rounds are insufficient. The numpy kernel that labels
every graph below the one CC cap (graph.cc_kernel) is pinned against a
scalar union-find on the same orderings.
"""

from __future__ import annotations

import random
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gridfour_spark import graph
from gridfour_spark.textops import dedup_clusters

from test_single_evaluation import _counted


@pytest.fixture()
def force_distributed(monkeypatch):
    """Pin the pointer-doubling path: below graph._CC_LOCAL_MAX_EDGES one
    numpy task labels the graph, which these adversarial-ordering tests
    must bypass to keep the doubling algorithm itself under test."""
    monkeypatch.setattr(graph, "_CC_LOCAL_MAX_EDGES", 0)


def _h(i: int) -> int:
    return (i * 2654435761 + 12345) % (2**31)


def _uf_min_labels(edges) -> dict:
    """Scalar union-find: node -> the smallest node of its component."""
    parent: dict = {}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {k: find(k) for k in parent}


def test_numpy_kernel_matches_union_find():
    """graph.cc_kernel labels every node with its component's smallest node,
    as a scalar union-find does, on permuted paths and cycles (the
    orderings that stall naive label propagation), a random graph with
    many components, and string ids."""
    rng = random.Random(11)
    graphs = [
        [(_h(i), _h(i + 1)) for i in range(5000)],
        [(_h(i), _h((i + 1) % 3000)) for i in range(3000)],
        [(rng.randrange(3000), rng.randrange(3000)) for _ in range(2500)],
        [(f"v{_h(i):012d}", f"v{_h(i + 1):012d}") for i in range(1500)]
        + [(f"w{_h(i):012d}", f"w{_h((i + 1) % 700):012d}") for i in range(700)],
    ]
    for edges in graphs:
        pdf = pd.DataFrame({"_va": [a for a, _ in edges], "_vb": [b for _, b in edges]})
        out = graph.cc_kernel(None, pdf)
        assert dict(zip(out["node"], out["rep"])) == _uf_min_labels(edges)


@pytest.mark.parametrize("n", [500, 2000, 8000])
def test_permuted_path_converges(spark, force_distributed, n):
    edges = [(_h(i), _h(i + 1)) for i in range(n)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    k = dedup_clusters(pairs).select("cluster_id").distinct().count()
    assert k == 1


def test_permuted_cycle_converges(spark, force_distributed):
    n = 4000
    edges = [(_h(i), _h((i + 1) % n)) for i in range(n)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    k = dedup_clusters(pairs).select("cluster_id").distinct().count()
    assert k == 1


def test_random_graph_matches_union_find(spark, force_distributed):
    rng = random.Random(7)
    edges = [(rng.randrange(3000), rng.randrange(3000)) for _ in range(2500)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = dedup_clusters(pairs).select("doc_id", "cluster_id").collect()
    # each doc's cluster_id is the smallest member of its component
    assert dict(map(tuple, out)) == _uf_min_labels(edges)


def test_insufficient_rounds_raises_not_underreports(spark, force_distributed):
    """The failure mode must be LOUD: with too few rounds the call raises
    instead of returning under-merged labels."""
    edges = [(_h(i), _h(i + 1)) for i in range(2000)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        dedup_clusters(pairs, max_iters=3)


def test_string_ids_converge(spark, force_distributed):
    """The contour wide path feeds string vertex ids through the same CC."""
    n = 1500
    edges = [(f"v{_h(i):012d}", f"v{_h(i + 1):012d}") for i in range(n)]
    pairs = spark.createDataFrame(edges, "doc_a string, doc_b string")
    k = dedup_clusters(pairs).select("cluster_id").distinct().count()
    assert k == 1


def test_local_fast_path_matches_distributed(spark, monkeypatch):
    """Below graph._CC_LOCAL_MAX_EDGES one executor task (graph.cc_kernel)
    resolves the graph directly. Its (doc_id, cluster_id, cluster_size)
    rows must equal the pointer-doubling path's exactly."""
    rng = random.Random(13)
    edges = [(rng.randrange(4000), rng.randrange(4000)) for _ in range(3000)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    local = sorted(map(tuple, dedup_clusters(pairs).collect()))
    monkeypatch.setattr(graph, "_CC_LOCAL_MAX_EDGES", 0)
    dist = sorted(map(tuple, dedup_clusters(pairs).collect()))
    assert local == dist


def test_local_path_failure_releases_caches(spark, monkeypatch):
    """When the one-task CC fails, dedup_clusters must release the edge
    cache and the label cache it took: no persisted RDD outlives the
    raise."""
    def failing_kernel(key, pdf):
        raise ValueError("cc kernel failed")

    monkeypatch.setattr(graph, "cc_kernel", failing_kernel)
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long")
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    with pytest.raises(Exception, match="cc kernel failed"):
        dedup_clusters(pairs)
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) == before


@pytest.mark.parametrize("cap", [None, 0], ids=["one_task", "distributed"])
def test_pairs_are_read_once(spark, monkeypatch, cap):
    """The cached projection of the pairs is their one evaluation: the
    count that picks the path, the labels and the sizes all read it."""
    if cap is not None:
        monkeypatch.setattr(graph, "_CC_LOCAL_MAX_EDGES", cap)
    edges = [(_h(i), _h(i + 1)) for i in range(40)] + [(7, 8), (8, 7), (7, 8)]
    counted, acc = _counted(spark.createDataFrame(edges, "doc_a long, doc_b long"))
    rows = dedup_clusters(counted).collect()
    labels = _uf_min_labels(edges)
    sizes = Counter(labels.values())
    assert sorted(map(tuple, rows)) == sorted((d, r, sizes[r]) for d, r in labels.items())
    assert acc.value == len(edges)


def test_one_task_path_runs_few_jobs(spark):
    """Below the cap a call and a digest of its output run at most 6 jobs:
    one caches and counts the pairs, the kernel's task caches the labels,
    and the digest reads them. Symmetrizing, de-duplicating and a
    groupBy of the sizes took 10."""
    sc = spark.sparkContext
    edges = [(_h(i) + 10**9, _h(i + 1) + 10**9) for i in range(50)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    sc.setJobGroup("dedup_clusters_jobs", "dedup_clusters jobs")
    try:
        out = dedup_clusters(pairs)
        out.agg(F.count(F.lit(1)), F.sum(F.xxhash64(*out.columns))).collect()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert len(sc.statusTracker().getJobIdsForGroup("dedup_clusters_jobs")) <= 6


def test_checkpoint_failure_releases_its_rdd(spark):
    """A local checkpoint whose job raises (a raising UDF) leaves no RDD
    persisted: Spark registers the RDD before the job runs, and no handle
    to it reaches the caller."""
    from gridfour_spark.textops import _checkpoint

    @F.udf("long")
    def boom(_x):
        raise ValueError("checkpoint job failed")

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    with pytest.raises(Exception, match="checkpoint job failed"):
        _checkpoint(spark.range(10).select(boom("id").alias("id")))
    assert set(jsc.getPersistentRDDs().keys()) == before


@pytest.mark.parametrize("fail_at", [2, 3], ids=["edges", "labels"])
def test_distributed_failure_releases_checkpoints(spark, force_distributed, monkeypatch, fail_at):
    """A raising UDF in a doubling round's edge (2nd) or label (3rd)
    checkpoint job leaves no frame of the call persisted."""
    from gridfour_spark import textops

    @F.udf("boolean")
    def boom(_x):
        raise ValueError("doubling round failed")

    calls = [0]
    real = textops._checkpoint

    def failing(df):
        calls[0] += 1
        return real(df.filter(boom(F.lit(1))) if calls[0] == fail_at else df)

    monkeypatch.setattr(textops, "_checkpoint", failing)
    pairs = spark.createDataFrame([(_h(i), _h(i + 1)) for i in range(40)], "doc_a long, doc_b long")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    with pytest.raises(Exception, match="doubling round failed"):
        dedup_clusters(pairs)
    assert calls[0] == fail_at
    assert set(jsc.getPersistentRDDs().keys()) == before


def test_distributed_path_releases_superseded_frames(spark, force_distributed):
    """Each doubling round supersedes a label and an edge checkpoint. Only
    the last label frame, which the result reads, stays persisted after
    the call; the labels still equal the union-find's."""
    edges = [(_h(i), _h(i + 1)) for i in range(300)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    out = dedup_clusters(pairs)
    assert len(set(jsc.getPersistentRDDs().keys()) - before) <= 1
    labels = out.select("doc_id", "cluster_id").collect()
    assert dict(map(tuple, labels)) == _uf_min_labels(edges)
