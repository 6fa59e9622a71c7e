"""Connected components in one numpy kernel, and the one cap on its task.

Every connected-components call site of the engine labels components the
same way — the smallest vertex id of each component — and resolves graphs
up to `_CC_LOCAL_MAX_EDGES` edges inside ONE executor task with this
kernel: `contour._cc_segments` (band phase, contracted graph, whole
segment graph), `contour._walk_curves` (the polyline walk's own labels)
and `textops.dedup_clusters`. Above the cap they fall back to banded or
distributed pointer-doubling paths with the same labels.

The kernel is hook-and-shortcut over dense integer ids: every edge hooks
the larger of its two roots to the smaller (`np.minimum.at`), then labels
pointer-jump to their roots. A root that is not the smallest root in its
neighbourhood is hooked every round, so the number of roots in a component
at least halves per round: O(log V) rounds of vectorized gathers, no
per-edge Python.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

# largest edge set one executor task labels (and contour.polylines walks)
# directly; above it the banded/distributed paths take over. Measured on a
# 4-core box (contour.polylines, one task vs banded): 20k edges 0.94 vs
# 2.92 s, 200k 1.88 vs 5.01 s, 2M 12.9 vs 27.7 s — one task wins at every
# size up to the cap, which also bounds one task's memory (CHANGES.md).
_CC_LOCAL_MAX_EDGES = 2_000_000


def min_labels(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Component label of each dense vertex 0..n-1 of the edges (a[i], b[i]):
    the smallest vertex of its component."""
    lab = np.arange(n, dtype=np.int64)
    while True:
        la, lb = lab[a], lab[b]
        if np.array_equal(la, lb):
            return lab
        m = np.minimum(la, lb)
        np.minimum.at(lab, la, m)
        np.minimum.at(lab, lb, m)
        while True:
            up = lab[lab]
            if np.array_equal(up, lab):
                break
            lab = up


def cc_kernel(key, pdf):
    """applyInPandas kernel: one group's (_va, _vb) edges -> (node, rep) with
    rep = the smallest node id of the component. Ids are any sortable type
    (packed longs, or lpad'ed strings whose lexicographic order is their
    numeric order): np.unique maps them to dense ints in the same order."""
    import pandas as pd

    ends = np.concatenate([pdf["_va"].to_numpy(), pdf["_vb"].to_numpy()])
    nodes, inv = np.unique(ends, return_inverse=True)
    n_e = len(pdf)
    lab = min_labels(inv[:n_e], inv[n_e:], len(nodes))
    return pd.DataFrame({"node": nodes, "rep": nodes[lab]})


def one_task_components(edges: DataFrame) -> DataFrame:
    """(node, rep) of an (_va, _vb) edge frame, labelled by `cc_kernel` in
    ONE Arrow group task — the below-cap path of contour._cc_segments and
    textops.dedup_clusters."""
    t = dict(edges.dtypes)["_va"]
    return (
        edges.select("_va", "_vb").withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandas(cc_kernel, f"node {t}, rep {t}")
    )


def one_task_clusters(edges: DataFrame) -> DataFrame:
    """one_task_components plus `size`, the node count of each node's
    component, for a CACHED edge frame counted against the cap: its one
    task reads the cache through coalesce(1), with no shuffle stage before
    it (on a lazy frame coalesce(1) would run the whole upstream in that
    task, hence the grouping there)."""
    t = dict(edges.dtypes)["_va"]

    def kernel(batches):
        import pandas as pd

        pdfs = list(batches)
        if not pdfs:
            return
        out = cc_kernel(None, pd.concat(pdfs, ignore_index=True))
        # dense label of each node: rep is a node, and nodes come sorted
        lab = np.searchsorted(out["node"].to_numpy(), out["rep"].to_numpy())
        yield out.assign(size=np.bincount(lab, minlength=len(out))[lab])

    return edges.select("_va", "_vb").coalesce(1).mapInPandas(
        kernel, f"node {t}, rep {t}, size long"
    )
