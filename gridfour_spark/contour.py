"""Marching-squares contour extraction over a distributed grid.

An EXTENSION beyond the reference's core inventory (the reference renders
shaded relief but leaves isoline extraction to its sibling project; the
closest in-repo analogs are the per-cell stencil analytics of
demo/.../ExtractData.java:366-392 and the palette level bands of
ColorPaletteTable). Level-set extraction is the canonical "vector from
raster" operator a geospatial engine needs, and — unlike iterative tracing
algorithms — the marching-squares cell rule is CLOSED-FORM per 2x2 stencil,
which makes it embarrassingly parallel AND expressible identically in
Spark and an ANSI-SQL oracle.

Scale shape (the 100 TB argument):
  * stencil assembly is ONE halo shuffle: every cell is keyed to the
    B x B block of its stencil anchor, and only cells on a block's first
    row/col copy to the neighbouring block as a 1-cell halo (<= 2/B
    duplication). No self-joins, no windows, no halo collects.
  * one Arrow group kernel per block (groupBy(block).applyInPandas)
    scatters the (B+1)^2 local grid and evaluates the marching-squares
    rule for every level as vectorized numpy. Per-task memory is bounded
    by B; the block COUNT, not the task size, grows with the raster.
  * output is linear in contour length (sparse: only cells the isoline
    crosses emit rows), so the shuffle-out is tiny relative to the scan.

Determinism contract: levels are chosen NON-INTEGER against the integer
grid (no corner can ever sit exactly on a level), so the > comparison has
no tie cases and every crossing denominator (zb - za) is a nonzero integer
difference. All arithmetic is IEEE-double in the same operation order in
the numpy kernel and the DuckDB twin (`segments_duckdb_sql`); emitted
coordinates are quantized with floor(x * 1e6). Saddle cells (cases 5 / 10)
disambiguate with the standard center-average rule — also closed-form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from gridfour_spark import graph

# corner bit layout: 1 = z00 (top-left, r,c), 2 = z01 (top-right, r,c+1),
# 4 = z11 (bottom-right, r+1,c+1), 8 = z10 (bottom-left, r+1,c)
# edges: T between 00-01, R between 01-11, B between 10-11, L between 00-10
_CASE_SEGS: dict[int, list[tuple[str, str]]] = {
    1: [("L", "T")],
    2: [("T", "R")],
    3: [("L", "R")],
    4: [("R", "B")],
    6: [("T", "B")],
    7: [("L", "B")],
    8: [("B", "L")],
    9: [("T", "B")],
    11: [("R", "B")],
    12: [("L", "R")],
    13: [("T", "R")],
    14: [("L", "T")],
}
# saddles: center average > level picks the diagonal-connected variant
_SADDLE = {
    5: {True: [("T", "R"), ("B", "L")], False: [("L", "T"), ("R", "B")]},
    10: {True: [("L", "T"), ("R", "B")], False: [("T", "R"), ("B", "L")]},
}


def _edge_point_sql(edge: str) -> tuple[str, str]:
    """(x, y) SQL for the level crossing on an edge of the unit stencil at
    anchor (r, c), in grid coordinates. Corner values z00..z11 are DOUBLE,
    lev is the level DOUBLE; denominators are nonzero by the
    non-integer-level contract."""
    r, c = "CAST(r AS DOUBLE)", "CAST(c AS DOUBLE)"
    if edge == "T":
        return f"({c} + (lev - z00) / (z01 - z00))", r
    if edge == "B":
        return f"({c} + (lev - z10) / (z11 - z10))", f"({r} + 1.0)"
    if edge == "L":
        return c, f"({r} + (lev - z00) / (z10 - z00))"
    if edge == "R":
        return f"({c} + 1.0)", f"({r} + (lev - z01) / (z11 - z01))"
    raise ValueError(edge)


def case_idx_sql() -> str:
    """Marching-squares case index 0..15 from the corner comparisons."""
    return (
        "(CASE WHEN z00 > lev THEN 1 ELSE 0 END"
        " + CASE WHEN z01 > lev THEN 2 ELSE 0 END"
        " + CASE WHEN z11 > lev THEN 4 ELSE 0 END"
        " + CASE WHEN z10 > lev THEN 8 ELSE 0 END)"
    )


# block edge B: bounds one task's scatter array at (B+1)^2 float64
# ~= 2 MB regardless of grid size (block COUNT scales with the raster;
# per-task memory does not — guide §5). Read at call time.
_SEG_BLOCK = 512


def segments(cells: DataFrame, levels: list[float]) -> DataFrame:
    """Contour segments of `cells` (row, col, z) at each level.

    Returns (lev_milli long, r, c, x1, y1, x2, y2) — one row per segment,
    endpoint coordinates quantized to micro-cells (floor(x * 1e6)), level
    tagged as floor(lev * 1000).

    Plan: every cell is keyed to the block of its stencil ANCHOR — cells on
    a block's first row/col additionally copy to the previous block as a
    1-cell halo — then ONE groupBy(block).applyInPandas kernel scatters the
    (B+1)^2 local grid and evaluates all levels vectorized. The per-stencil
    arithmetic is operation-for-operation the SQL of `segments_duckdb_sql`
    (same IEEE-double op order, same floor(x*1e6) quantization, same
    center-average saddle rule), so output is row-identical — pinned in
    tests and by the histogram suite's oracle hash. Stencils with any
    missing corner emit nothing, like the twin's inner self-joins.
    """
    import numpy as np
    import pandas as pd

    B = _SEG_BLOCK
    levs = [float(v) for v in levels]

    rb = F.expr(f"row div {B}")
    cb = F.expr(f"col div {B}")
    key = lambda a, b: F.struct(a.cast("long").alias("rb"), b.cast("long").alias("cb"))  # noqa: E731
    halo_r = (F.col("row") % B == 0) & (rb > 0)
    halo_c = (F.col("col") % B == 0) & (cb > 0)
    ks = F.array(
        key(rb, cb),
        F.when(halo_r, key(rb - 1, cb)),
        F.when(halo_c, key(rb, cb - 1)),
        F.when(halo_r & halo_c, key(rb - 1, cb - 1)),
    )
    fan = (
        cells.select("row", "col", F.col("z").cast("double").alias("z"), F.explode(ks).alias("k"))
        .filter(F.col("k").isNotNull())
        .select(F.col("k.rb").alias("rb"), F.col("k.cb").alias("cb"), "row", "col", "z")
    )

    def kernel(kkey, pdf):
        brow, bcol = int(kkey[0]), int(kkey[1])
        g = np.full((B + 1, B + 1), np.nan)
        lr = pdf["row"].to_numpy(dtype=np.int64) - brow * B
        lc = pdf["col"].to_numpy(dtype=np.int64) - bcol * B
        g[lr, lc] = pdf["z"].to_numpy(dtype=np.float64)
        z00 = g[:-1, :-1]
        z01 = g[:-1, 1:]
        z10 = g[1:, :-1]
        z11 = g[1:, 1:]
        ok = ~(np.isnan(z00) | np.isnan(z01) | np.isnan(z10) | np.isnan(z11))
        out_lev, out_r, out_c = [], [], []
        out_q = {k: [] for k in ("x1", "y1", "x2", "y2")}
        rr, cc = np.nonzero(ok)
        a00, a01, a10, a11 = z00[rr, cc], z01[rr, cc], z10[rr, cc], z11[rr, cc]
        gr = (rr + brow * B).astype(np.float64)
        gc = (cc + bcol * B).astype(np.float64)
        center = ((a00 + a01) + a10 + a11) / 4.0

        def edge_pt(edge, m):
            r, c = gr[m], gc[m]
            if edge == "T":
                return c + (lev - a00[m]) / (a01[m] - a00[m]), r
            if edge == "B":
                return c + (lev - a10[m]) / (a11[m] - a10[m]), r + 1.0
            if edge == "L":
                return c, r + (lev - a00[m]) / (a10[m] - a00[m])
            return c + 1.0, r + (lev - a01[m]) / (a11[m] - a01[m])  # R

        for lev in levs:
            case = (
                (a00 > lev).astype(np.int8)
                + 2 * (a01 > lev).astype(np.int8)
                + 4 * (a11 > lev).astype(np.int8)
                + 8 * (a10 > lev).astype(np.int8)
            )
            lev_milli = int(np.floor(lev * 1000.0))
            for idx in range(1, 15):
                if idx in _SADDLE:
                    groups = [
                        ((case == idx) & ((center > lev) == hi), _SADDLE[idx][hi])
                        for hi in (True, False)
                    ]
                else:
                    groups = [(case == idx, _CASE_SEGS[idx])]
                for mask, segs in groups:
                    m = np.nonzero(mask)[0]
                    if not len(m):
                        continue
                    for e1, e2 in segs:
                        x1, y1 = edge_pt(e1, m)
                        x2, y2 = edge_pt(e2, m)
                        out_lev.append(np.full(len(m), lev_milli, dtype=np.int64))
                        out_r.append(rr[m] + brow * B)
                        out_c.append(cc[m] + bcol * B)
                        for k, v in zip(("x1", "y1", "x2", "y2"), (x1, y1, x2, y2)):
                            out_q[k].append(np.floor(v * 1e6).astype(np.int64))
        if not out_lev:
            return pd.DataFrame(
                {k: pd.Series(dtype="int64")
                 for k in ("lev_milli", "r", "c", "x1", "y1", "x2", "y2")}
            )
        return pd.DataFrame(
            {
                "lev_milli": np.concatenate(out_lev),
                "r": np.concatenate(out_r).astype(np.int64),
                "c": np.concatenate(out_c).astype(np.int64),
                **{k: np.concatenate(v) for k, v in out_q.items()},
            }
        )

    return fan.groupBy("rb", "cb").applyInPandas(
        kernel,
        "lev_milli long, r long, c long, x1 long, y1 long, x2 long, y2 long",
    )


def _coord_stats(segs: DataFrame) -> tuple:
    """(max_x, max_y, n_segments) in one agg — feeds both the packed-id
    bound check and the scale-adaptive CC band width."""
    row = segs.agg(
        F.max(F.greatest("x1", "x2")).alias("mx"),
        F.max(F.greatest("y1", "y2")).alias("my"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return row["mx"], row["my"], row["n"]


# target edges per CC band: one band's CC kernel must fit one executor
# task comfortably (~100k edges of 2 longs/strings); band COUNT therefore
# scales with segment count (scale-adaptive, never a local-core constant)
_CC_BAND_EDGES = 100_000


def _cc_segments(e: DataFrame, mx: int, n_edges: int, id_type: str) -> DataFrame:
    """Connected components of a SEGMENT graph -> (node, comp), comp = the
    min vertex id of the curve (the label textops.dedup_clusters gives).

    Up to graph._CC_LOCAL_MAX_EDGES edges the whole graph is labelled by
    graph.cc_kernel in ONE task. Above it, a banded two-level CC exploits
    the spatial locality generic pointer doubling cannot see: contour
    vertices are grid-edge crossings, so every edge joins two vertices
    within one cell of each other and grouping edges by an x-coordinate
    band makes almost every chain band-internal. Phase 1 runs cc_kernel per
    band group (levels never cross-union: the level index is part of every
    vertex id), contracting each band's chains to their min-vertex reps as
    (node, rep) links. Phase 2 labels only the contracted rep graph (one
    rep-pair edge per node that touches >= 2 bands — O(perimeter), not
    O(area)): in one cc_kernel task up to the same cap, else by
    dedup_clusters' pointer doubling, whose round count is then log(bands a
    curve crosses), not log(curve length). A local rep is the min vertex of
    its band-local component, so the rep-graph minimum is the min vertex of
    the whole curve: both sides of the cap give the same labels (pinned in
    tests/test_contour.py).

    e: (_va, _vb, x1) edge frame; mx/n_edges from _coord_stats; id_type =
    'long' (packed) or 'string' (wide lpad'ed ids, where lexicographic
    min == numeric min)."""
    from gridfour_spark.textops import _persist_tracked, dedup_clusters

    if n_edges <= graph._CC_LOCAL_MAX_EDGES:
        return graph.one_task_components(e).withColumnRenamed("rep", "comp")
    n_bands = max(32, (int(n_edges) + _CC_BAND_EDGES - 1) // _CC_BAND_EDGES)
    width = max(1, int(mx) // n_bands + 1)

    banded = e.select(
        "_va", "_vb", (F.col("x1") / F.lit(width)).cast("long").alias("_band")
    )
    # persisted: per_node, the distinct-rep frame and the final label join
    # all read links — without the persist the CC kernel would re-run per
    # consumer (plan lineage, not data, is what DataFrames share)
    links = _persist_tracked(
        banded.groupBy("_band").applyInPandas(graph.cc_kernel, f"node {id_type}, rep {id_type}")
    )
    # one rep-pair edge per node spanning >=2 bands; nodes interior to one
    # band contribute nothing to the contracted graph
    per_node = links.groupBy("node").agg(
        F.min("rep").alias("_r0"), F.collect_set("rep").alias("_rs")
    )
    super_edges = (
        per_node.select(F.col("_r0").alias("_va"), F.explode("_rs").alias("_vb"))
        .filter(F.col("_va") != F.col("_vb"))
    )
    n_super = super_edges.count()
    reps = links.select("rep").distinct()
    if n_super == 0:
        rep_label = reps.select("rep", F.col("rep").alias("_lbl"))
    else:
        if n_super <= graph._CC_LOCAL_MAX_EDGES:
            comp2 = graph.one_task_components(super_edges).select(
                F.col("node").alias("rep"), F.col("rep").alias("_lbl")
            )
        else:
            comp2 = dedup_clusters(
                super_edges.select(
                    F.col("_va").alias("doc_a"), F.col("_vb").alias("doc_b")
                )
            ).select(F.col("doc_id").alias("rep"), F.col("cluster_id").alias("_lbl"))
        rep_label = reps.join(comp2, "rep", "left").select(
            "rep", F.coalesce("_lbl", F.col("rep")).alias("_lbl")
        )
    # no broadcast hint: rep_label is contraction-sized but unbounded in
    # the worst case (millions of tiny curves); AQE promotes the join to
    # broadcast-hash at runtime when the actual size allows
    return (
        links.join(rep_label, "rep")
        .groupBy("node")
        .agg(F.min("_lbl").alias("comp"))
    )


def _vertex_ids(segs: DataFrame, levels: list[float]) -> tuple:
    """The one vertex-id rule of `topology` and `polylines`.

    Returns (s, id_type, mx, n_edges, enc): `segs` plus its level index
    `_li` and the endpoint ids `_va` (x1, y1) and `_vb` (x2, y2); mx and
    n_edges come from the same `_coord_stats` agg and pick and size the CC
    path; enc(x, y) is the id expression of coordinate columns x, y at
    level `_li`. Ids are packed longs ((x_u << 30) | y_u) << 3 | lev_idx
    while every coordinate is < 2^30 (grids up to ~1073 x 1073 cells) and
    there are at most 8 levels. Otherwise they are 'lev:x:y' STRINGS with lpad'ed coordinates,
    whose lexicographic order equals numeric order: past 2^30 the packed
    multiply wraps mod 2^64 and, because *8 is not injective there,
    vertices exactly 2^31 apart in x would COLLIDE; a 9th level would
    alias the (x, y+1) level-0 vertex (the id has 3 level bits)."""
    import math

    lev_arr = F.array(*[F.lit(math.floor(v * 1000)) for v in levels])
    s = segs.withColumn("_li", (F.array_position(lev_arr, F.col("lev_milli")) - 1).cast("long"))
    mx, my, n_edges = _coord_stats(segs)
    lim = 1 << 30
    if mx is not None and mx < lim and my < lim and len(levels) <= 8:
        id_type = "long"

        def enc(x, y):
            return ((F.col(x) * F.lit(1 << 30) + F.col(y)) * 8 + F.col("_li")).cast("long")
    else:
        id_type = "string"

        # F.concat, NOT F.concat_ws: concat_ws-derived join keys under the
        # CC loop's localCheckpoint trip the Spark 4.1 Catalyst
        # AttributeMap bug ("key not found: doc_id#N" at optimization) —
        # the same family as the round-5 LSH finding in dedup_clusters
        def enc(x, y):
            return F.concat(
                F.col("_li").cast("string"), F.lit(":"),
                F.lpad(F.col(x).cast("string"), 20, "0"), F.lit(":"),
                F.lpad(F.col(y).cast("string"), 20, "0"),
            )

    s = s.withColumn("_va", enc("x1", "y1")).withColumn("_vb", enc("x2", "y2"))
    return s, id_type, mx or 0, n_edges, enc


def topology(segs: DataFrame, levels: list[float]) -> DataFrame:
    """Per-level contour topology: assemble the segment soup into curves
    with DISTRIBUTED connected components and report, per level,
    (n_segments, n_vertices, n_components, n_odd_vertices).

    Level sets of a grid function are disjoint closed loops plus chains
    that end on the grid boundary, so n_odd counts chain endpoints (all on
    the boundary — tests assert it) and n_components counts curves. The
    CC is `_cc_segments`: one graph.cc_kernel task up to the one CC cap,
    banded above it. Vertex ids follow `_vertex_ids`: packed longs on small
    grids, 'lev:x:y' strings beyond 2^30 micro-cells or 8 levels — the
    choice comes from the measured coordinates and the level count, and the
    counts are the same either way (pytest pins both equal)."""
    s, id_type, mx, n_edges, _ = _vertex_ids(segs, levels)
    comp = _cc_segments(s.select("_va", "_vb", "x1"), mx, n_edges, id_type)
    node = F.col("node")
    lev_of = node % 8 if id_type == "long" else F.split(node, ":").getItem(0)
    n_comp = (
        comp.select(lev_of.cast("long").alias("_li"), "comp")
        .groupBy("_li")
        .agg(F.count_distinct("comp").alias("n_components"))
    )
    verts = s.select("_li", F.col("x1").alias("x"), F.col("y1").alias("y")).unionByName(
        s.select("_li", F.col("x2").alias("x"), F.col("y2").alias("y"))
    )
    deg = verts.groupBy("_li", "x", "y").agg(F.count("*").alias("deg"))
    vstats = deg.groupBy("_li").agg(
        F.count("*").alias("n_vertices"),
        F.sum(F.when(F.col("deg") % 2 == 1, 1).otherwise(0)).alias("n_odd"),
    )
    nseg = s.groupBy("_li", "lev_milli").agg(F.count("*").alias("n_segments"))
    out = nseg.join(vstats, "_li").join(n_comp, "_li")
    return out.select("lev_milli", "n_segments", "n_vertices", "n_components", "n_odd")


def polylines(segs: DataFrame, levels: list[float]) -> DataFrame:
    """Ordered polyline assembly: the cartographic contour product.

    Returns (lev_milli, comp, seq, x, y) — for every curve, its vertices
    in traversal order, comp = the min vertex id of the curve. One kernel,
    `_walk_curves`, labels curves with graph.min_labels and walks them.
    Up to graph._CC_LOCAL_MAX_EDGES segments (the same cap as every CC
    call site) all segments go to ONE Arrow group task and the kernel does
    the whole job in a single pass: no CC jobs, no label join. Above the
    cap, curves are identified DISTRIBUTED by `_cc_segments` (banded CC)
    and the kernel runs per curve (`applyInPandas` over comp):
    inter-curve parallelism is the scale axis — a 100 TB DEM has millions
    of short curves, not one long one — while the intra-curve walk is a
    linear scalar pass over that curve's own segments. A pathological
    single curve longer than executor memory would need parallel list
    ranking over darts — O(log L) pointer-jumping rounds — noted here as
    the escalation path, not built.

    Deterministic traversal: chains start at their smallest odd-degree
    (boundary) vertex; closed loops at their smallest vertex. Each step
    moves to the smallest neighbour other than the vertex just left, for
    any degree and with repeated segments. Output vertex coords are the
    quantized segment endpoints, so the frame is exact and hash-comparable
    (tests pin it against a scalar walk). The kernel emits each curve's
    smallest vertex and comp is `_vertex_ids`' own id expression of it — a
    packed long or a 'lev:x:y' string — so only the curve LABEL changes
    form; the walk itself always uses raw coordinates."""
    s, comp_type, mx, n_edges, enc = _vertex_ids(segs, levels)
    cols = ["lev_milli", "_li", "x1", "y1", "x2", "y2"]
    if n_edges <= graph._CC_LOCAL_MAX_EDGES:
        grouped = s.select(*cols, F.lit(0).alias("_g")).groupBy("_g")
    else:
        lab = _cc_segments(
            s.select("_va", "_vb", "x1"), mx, n_edges, comp_type
        ).withColumnRenamed("node", "_va")
        # project the walk's inputs only — _vb never crosses the group
        # shuffle (no broadcast hint: lab is O(vertices), which outgrows any
        # broadcast budget at 100x scale; the planner picks from runtime
        # sizes)
        grouped = s.select(*cols, "_va").join(lab, "_va").drop("_va").groupBy("comp")
    walked = grouped.applyInPandas(
        _walk_curves, "lev_milli long, _li long, cx long, cy long, seq long, x long, y long"
    )
    return walked.select("lev_milli", enc("cx", "cy").alias("comp"), "seq", "x", "y")


def _walk_curves(pdf):
    """Label and walk every curve of one group's segments (lev_milli, _li,
    x1, y1, x2, y2) -> (lev_milli, _li, cx, cy, seq, x, y), (_li, cx, cy)
    = the curve's smallest vertex.

    np.unique(axis=0) numbers the vertices in (_li, x, y) order; within a
    curve the level is fixed, so integer vertex ids compare like the
    coordinate tuples and graph.min_labels' label is the curve's smallest
    vertex. A lexsort of the directed darts lists each vertex's neighbours
    sorted in nbr[first[v]:first[v] + deg[v]], repeats included."""
    import numpy as np
    import pandas as pd

    L = len(pdf)
    col = lambda c: pdf[c].to_numpy(np.int64)  # noqa: E731
    li = col("_li")
    pts = np.stack(
        [
            np.concatenate([li, li]),
            np.concatenate([col("x1"), col("x2")]),
            np.concatenate([col("y1"), col("y2")]),
        ],
        axis=1,
    )
    verts, inv = np.unique(pts, axis=0, return_inverse=True)
    inv = inv.ravel()
    a, b = inv[:L], inv[L:]
    nv = len(verts)
    lab = graph.min_labels(a, b, nv)
    src = np.concatenate([a, b])
    dst = np.concatenate([b, a])
    nbr = dst[np.lexsort((dst, src))]
    deg = np.bincount(src, minlength=nv)
    first = np.cumsum(deg) - deg
    # per curve (indexed by its label): segment count, level, start vertex
    # = smallest odd-degree vertex, else the smallest vertex (the label)
    n_seg = np.bincount(lab[a], minlength=nv)
    lev = np.zeros(nv, dtype=np.int64)
    lev[lab[a]] = col("lev_milli")
    start = np.arange(nv)
    odd = np.nonzero(deg % 2 == 1)[0]
    odd_curve, first_odd = np.unique(lab[odd], return_index=True)
    start[odd_curve] = odd[first_odd]
    curves = np.nonzero(lab == np.arange(nv))[0]

    nbr, fst, end = nbr.tolist(), first.tolist(), (first + deg).tolist()
    seq, lens = [], []
    for c in curves.tolist():
        n_c = int(n_seg[c])
        s0 = cur = int(start[c])
        prev, n0 = -1, len(seq)
        for _ in range(n_c + 1):
            seq.append(cur)
            k, e = fst[cur], end[cur]
            while k < e and nbr[k] == prev:
                k += 1
            if k == e:
                break  # chain end: no neighbour but the one just left
            prev, cur = cur, nbr[k]
            if cur == s0 and len(seq) - n0 == n_c:
                seq.append(cur)  # close the loop explicitly
                break
        lens.append(len(seq) - n0)
    seq = np.asarray(seq, dtype=np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    of = np.repeat(curves, lens)
    return pd.DataFrame({
        "lev_milli": lev[of],
        "_li": verts[of, 0],
        "cx": verts[of, 1],
        "cy": verts[of, 2],
        "seq": np.arange(len(seq)) - np.repeat(np.cumsum(lens) - lens, lens),
        "x": verts[seq, 1],
        "y": verts[seq, 2],
    })


def simplify(lines: DataFrame, tol: float) -> DataFrame:
    """Douglas-Peucker polyline simplification (micro-cell units, matching
    `polylines` coordinates): keep the endpoint pair, recursively keep the
    farthest-from-chord vertex while its perpendicular deviation exceeds
    ``tol``. Same frame shape in and out — (lev_milli, comp, seq, x, y)
    with seq re-numbered dense — and the same per-curve Arrow-task
    parallelism as `polylines` (the recursion is per curve; the stack
    replaces call recursion so a long coastline cannot blow Python's
    recursion limit). Closed loops keep their duplicated closing vertex,
    so downstream consumers still see loop closure."""
    import numpy as np

    def dp(key, pdf):
        import pandas as pd

        pdf = pdf.sort_values("seq")
        xs = pdf["x"].to_numpy(dtype=np.float64)
        ys = pdf["y"].to_numpy(dtype=np.float64)
        n = len(xs)
        keep = np.zeros(n, dtype=bool)
        keep[0] = keep[n - 1] = True
        stack = [(0, n - 1)]
        while stack:
            i, j = stack.pop()
            if j <= i + 1:
                continue
            dx, dy = xs[j] - xs[i], ys[j] - ys[i]
            seg_len = float(np.hypot(dx, dy))
            px, py = xs[i + 1:j], ys[i + 1:j]
            if seg_len == 0.0:  # closed loop chord: fall back to distance-from-point
                d = np.hypot(px - xs[i], py - ys[i])
            else:
                d = np.abs(dx * (py - ys[i]) - dy * (px - xs[i])) / seg_len
            k = int(np.argmax(d))
            if float(d[k]) > tol:
                m = i + 1 + k
                keep[m] = True
                stack.append((i, m))
                stack.append((m, j))
        out = pdf[keep]
        return pd.DataFrame({
            "lev_milli": out["lev_milli"].to_numpy(),
            "comp": out["comp"].to_numpy(),
            "seq": range(int(keep.sum())),
            "x": out["x"].to_numpy(),
            "y": out["y"].to_numpy(),
        })

    comp_type = dict(lines.dtypes)["comp"]
    return lines.groupBy("lev_milli", "comp").applyInPandas(
        dp, f"lev_milli long, comp {comp_type}, seq long, x long, y long"
    )


def topology_duckdb_sql(segs_sql: str) -> str:
    """DuckDB twin of `topology`: transitive closure per (level, vertex)
    via a recursive CTE (composite keys, no packing needed at oracle
    scale), mirroring textops.dedup_clusters_sql."""
    return f"""
WITH RECURSIVE segs AS ({segs_sql}),
edges AS (
  SELECT lev_milli, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM segs
  UNION
  SELECT lev_milli, x2, y2, x1, y1 FROM segs
),
reach(lev_milli, sx, sy, dx, dy) AS (
  SELECT lev_milli, ax, ay, ax, ay FROM edges
  UNION
  SELECT r.lev_milli, r.sx, r.sy, e.bx, e.by
  FROM reach r JOIN edges e
    ON e.lev_milli = r.lev_milli AND e.ax = r.dx AND e.ay = r.dy
),
lbl AS (
  SELECT lev_milli, sx, sy, MIN(dx * 1073741824 + dy) AS comp
  FROM reach GROUP BY 1, 2, 3
),
comps AS (
  SELECT lev_milli, COUNT(DISTINCT comp) AS n_components FROM lbl GROUP BY 1
),
verts AS (
  SELECT lev_milli, x, y, COUNT(*) AS deg FROM (
    SELECT lev_milli, x1 AS x, y1 AS y FROM segs
    UNION ALL
    SELECT lev_milli, x2, y2 FROM segs
  ) GROUP BY 1, 2, 3
),
vstats AS (
  SELECT lev_milli, COUNT(*) AS n_vertices,
         SUM(CASE WHEN deg % 2 = 1 THEN 1 ELSE 0 END) AS n_odd
  FROM verts GROUP BY 1
),
nseg AS (SELECT lev_milli, COUNT(*) AS n_segments FROM segs GROUP BY 1)
SELECT n.lev_milli, n.n_segments, v.n_vertices, c.n_components,
       CAST(v.n_odd AS BIGINT) AS n_odd
FROM nseg n JOIN vstats v USING (lev_milli) JOIN comps c USING (lev_milli)
"""


def segments_duckdb_sql(grid_sql: str, levels: list[float]) -> str:
    """DuckDB twin of `segments` over the same (row, col, z) grid SQL.

    The oracle assembles the 2x2 stencil with three self-joins (fine at
    oracle scale) and evaluates the same crossing arithmetic as the numpy
    kernel, in the same IEEE-double operation order, as a UNION ALL over
    the two segment slots (the second only for saddles)."""
    center = "((z00 + z01 + z10 + z11) / 4.0)"
    q = "CAST(floor({v} * 1e6) AS BIGINT)"

    # slot 1 = first segment of any crossing case; slot 2 = saddle second
    def slot_case(slot: int) -> str:
        whens = []
        for idx, segs in _CASE_SEGS.items():
            if slot == 1:
                a, b = segs[0]
                whens.append(f"WHEN {idx} THEN struct_pack({_pack(a, b)})")
        for idx, variants in _SADDLE.items():
            hi = variants[True][slot - 1]
            lo = variants[False][slot - 1]
            whens.append(
                f"WHEN {idx} THEN CASE WHEN {center} > lev"
                f" THEN struct_pack({_pack(*hi)})"
                f" ELSE struct_pack({_pack(*lo)}) END"
            )
        return f"CASE {case_idx_sql()} {' '.join(whens)} END"

    def _pack(a: str, b: str) -> str:
        x1, y1 = _edge_point_sql(a)
        x2, y2 = _edge_point_sql(b)
        return (
            f"x1 := {q.format(v=x1)}, y1 := {q.format(v=y1)}, "
            f"x2 := {q.format(v=x2)}, y2 := {q.format(v=y2)}"
        )

    lev_values = ", ".join(f"({float(v)!r})" for v in levels)
    stencil = f"""
        SELECT a.row AS r, a.col AS c,
               CAST(a.z AS DOUBLE) AS z00, CAST(b.z AS DOUBLE) AS z01,
               CAST(d.z AS DOUBLE) AS z10, CAST(e.z AS DOUBLE) AS z11
        FROM ({grid_sql}) a
        JOIN ({grid_sql}) b ON b.row = a.row AND b.col = a.col + 1
        JOIN ({grid_sql}) d ON d.row = a.row + 1 AND d.col = a.col
        JOIN ({grid_sql}) e ON e.row = a.row + 1 AND e.col = a.col + 1
    """
    base = f"""
        SELECT s.*, lv.lev FROM ({stencil}) s
        CROSS JOIN (SELECT * FROM (VALUES {lev_values}) AS t(lev)) lv
    """
    out = []
    for slot in (1, 2):
        out.append(f"""
            SELECT CAST(floor(lev * 1000.0) AS BIGINT) AS lev_milli,
                   CAST(r AS BIGINT) AS r, CAST(c AS BIGINT) AS c,
                   seg.x1 AS x1, seg.y1 AS y1, seg.x2 AS x2, seg.y2 AS y2
            FROM (SELECT *, {slot_case(slot)} AS seg FROM ({base}))
            WHERE seg IS NOT NULL
        """)
    return " UNION ALL ".join(out)
