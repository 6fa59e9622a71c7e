"""Marching-squares contour extraction (gridfour_spark/contour.py).

Checks: scalar-reference equality, DuckDB-oracle equality, the level-set
property (every endpoint interpolates to exactly the level), topology
(every contour vertex has even degree or sits on the grid boundary),
partitioning invariance of the block halo shuffle, and the polyline walk
against a scalar reference walk.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from gridfour_spark import contour, graph, synth
from gridfour_spark.spec import GridSpec

SPEC = GridSpec(n_rows=60, n_cols=70, n_rows_in_tile=20, n_cols_in_tile=35)
LEVELS = [-2000.5, -0.5, 1999.5]


def _dem(r: int, c: int) -> float:
    return float(
        math.floor(
            4000 * math.sin(r * 0.021) * math.cos(c * 0.017)
            + 2000 * math.sin(r * 0.005 + c * 0.003)
            + 100 * math.sin(c * 0.11)
        )
    )


def _scalar_segments(spec: GridSpec, levels: list[float]):
    def ep(edge, r, c, L, z00, z01, z10, z11):
        if edge == "T":
            return (c + (L - z00) / (z01 - z00), float(r))
        if edge == "B":
            return (c + (L - z10) / (z11 - z10), r + 1.0)
        if edge == "L":
            return (float(c), r + (L - z00) / (z10 - z00))
        return (c + 1.0, r + (L - z01) / (z11 - z01))

    out = []
    for L in levels:
        for r in range(spec.n_rows - 1):
            for c in range(spec.n_cols - 1):
                z00, z01 = _dem(r, c), _dem(r, c + 1)
                z10, z11 = _dem(r + 1, c), _dem(r + 1, c + 1)
                idx = (z00 > L) * 1 + (z01 > L) * 2 + (z11 > L) * 4 + (z10 > L) * 8
                if idx in (0, 15):
                    continue
                segs = contour._CASE_SEGS.get(idx) or contour._SADDLE[idx][
                    (z00 + z01 + z10 + z11) / 4.0 > L
                ]
                for a, b in segs:
                    x1, y1 = ep(a, r, c, L, z00, z01, z10, z11)
                    x2, y2 = ep(b, r, c, L, z00, z01, z10, z11)
                    out.append(
                        (
                            math.floor(L * 1000),
                            r,
                            c,
                            math.floor(x1 * 1e6),
                            math.floor(y1 * 1e6),
                            math.floor(x2 * 1e6),
                            math.floor(y2 * 1e6),
                        )
                    )
    return sorted(out)


def _both_caps(monkeypatch):
    """Run the loop body on both sides of the one CC cap: the default (the
    whole segment graph in one numpy task) and 0 (banded CC, distributed
    pointer doubling, per-curve walk tasks)."""
    default = graph._CC_LOCAL_MAX_EDGES
    for cap in (default, 0):
        monkeypatch.setattr(graph, "_CC_LOCAL_MAX_EDGES", cap)
        yield cap
    monkeypatch.setattr(graph, "_CC_LOCAL_MAX_EDGES", default)


@pytest.fixture(scope="module")
def seg_rows(spark):
    cells = synth.grid_df(spark, SPEC, value="dem")
    df = contour.segments(cells, LEVELS)
    return sorted(tuple(r) for r in df.collect())


def test_matches_scalar_reference(seg_rows):
    assert seg_rows == _scalar_segments(SPEC, LEVELS)


def test_matches_duckdb_oracle(seg_rows):
    sql = contour.segments_duckdb_sql(synth.grid_duckdb_sql(SPEC, value="dem"), LEVELS)
    orc = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert seg_rows == orc


def test_endpoints_sit_on_the_level(seg_rows):
    """Un-quantize each endpoint and bilinearly interpolate the DEM along
    the stencil edge it lies on: the value must equal the level to fp
    round-off. This is the semantic contract (the segment IS the level
    set), independent of the case-table bookkeeping."""
    for lev_milli, r, c, x1, y1, x2, y2 in seg_rows:
        L = lev_milli / 1000.0
        for xq, yq in ((x1, y1), (x2, y2)):
            x, y = xq / 1e6, yq / 1e6
            # endpoint lies on a horizontal or vertical stencil edge
            if abs(y - round(y)) < 1e-5:  # horizontal edge at integer row
                rr = int(round(y))
                c0 = math.floor(x)
                t = x - c0
                v = _dem(rr, c0) * (1 - t) + _dem(rr, c0 + 1) * t
            else:  # vertical edge at integer col
                cc = int(round(x))
                r0 = math.floor(y)
                t = y - r0
                v = _dem(r0, cc) * (1 - t) + _dem(r0 + 1, cc) * t
            # quantization floor() loses up to 1e-6 of the coordinate;
            # the DEM's max gradient bounds the induced value error
            assert abs(v - L) < 2e-2, (lev_milli, r, c, x, y, v)


def test_even_vertex_degree_or_boundary(seg_rows):
    """Level sets of a grid function are closed curves or curves ending on
    the grid boundary: every quantized vertex must have even segment degree
    unless it lies on the outer boundary of the stencil lattice."""
    from collections import Counter

    by_level: dict[int, Counter] = {}
    for lev_milli, r, c, x1, y1, x2, y2 in seg_rows:
        cnt = by_level.setdefault(lev_milli, Counter())
        cnt[(x1, y1)] += 1
        cnt[(x2, y2)] += 1
    xmax = (SPEC.n_cols - 1) * 1_000_000
    ymax = (SPEC.n_rows - 1) * 1_000_000
    for lev_milli, cnt in by_level.items():
        for (x, y), deg in cnt.items():
            on_boundary = x == 0 or y == 0 or x >= xmax - 1 or y >= ymax - 1
            assert deg % 2 == 0 or on_boundary, (lev_milli, x, y, deg)


def test_partitioning_invariance(spark, seg_rows):
    cells = synth.grid_df(spark, SPEC, value="dem").repartition(17, "col")
    df = contour.segments(cells, LEVELS)
    assert sorted(tuple(r) for r in df.collect()) == seg_rows


def test_blocked_plan_shape(spark):
    """The blocked numpy kernel: one block shuffle, an Arrow group kernel
    (never a row-wise BatchEvalPython), no cartesian."""
    cells = synth.grid_df(spark, SPEC, value="dem")
    df = contour.segments(cells, LEVELS)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange") <= 2


def test_blocked_halos_and_holes_match_references(spark, monkeypatch, seg_rows):
    """segments must equal the scalar reference row-for-row for block
    sizes that force halo traffic and don't divide the grid, and the DuckDB
    twin on a holey grid, where a missing corner must suppress the stencil
    exactly like the twin's inner self-joins."""
    cells = synth.grid_df(spark, SPEC, value="dem")
    for blk in (16, 33, 512):
        monkeypatch.setattr(contour, "_SEG_BLOCK", blk)
        got = sorted(tuple(r) for r in contour.segments(cells, LEVELS).collect())
        assert got == seg_rows, blk
    hole = "(row * 31 + col * 17) % 13 <> 0"
    holey = cells.filter(hole)
    grid_sql = f"SELECT * FROM ({synth.grid_duckdb_sql(SPEC, value='dem')}) WHERE {hole}"
    want = sorted(
        tuple(r)
        for r in duckdb.sql(contour.segments_duckdb_sql(grid_sql, LEVELS)).fetchall()
    )
    monkeypatch.setattr(contour, "_SEG_BLOCK", 16)
    got = sorted(tuple(r) for r in contour.segments(holey, LEVELS).collect())
    assert got == want and 0 < len(got) < len(seg_rows)


def test_saddle_cells_resolved_by_center_rule(spark):
    """A checkerboard grid makes EVERY interior stencil a saddle (case 5 or
    10). At level 5.5 the center average is 5 (< level), so the rule picks
    the isolate-the-high-corners pairing: two segments per stencil, each
    hugging one high corner; the DuckDB twin must agree row-for-row."""
    n_r, n_c = 6, 7
    rows = [(r, c, float(((r + c) % 2) * 10)) for r in range(n_r) for c in range(n_c)]
    cells = spark.createDataFrame(rows, "row long, col long, z double")
    df = contour.segments(cells, [5.5])
    got = sorted(tuple(r) for r in df.collect())
    # every interior anchor emits exactly two segments
    from collections import Counter

    per_anchor = Counter((r, c) for _, r, c, *_ in got)
    assert len(per_anchor) == (n_r - 1) * (n_c - 1)
    assert all(v == 2 for v in per_anchor.values())
    # each segment's endpoints lie on the two edges adjacent to one high
    # corner: both endpoints within 0.45 of that corner along its edges
    # (t = (5.5-0)/10 = 0.55 from the low corner -> 0.45 from the high one)
    for _, r, c, x1, y1, x2, y2 in got:
        corners = [
            (c * 1e6, r * 1e6),
            ((c + 1) * 1e6, r * 1e6),
            (c * 1e6, (r + 1) * 1e6),
            ((c + 1) * 1e6, (r + 1) * 1e6),
        ]
        d1 = min(abs(x1 - cx) + abs(y1 - cy) for cx, cy in corners)
        d2 = min(abs(x2 - cx) + abs(y2 - cy) for cx, cy in corners)
        assert d1 <= 450_000 and d2 <= 450_000
    # oracle twin on the same hand grid
    vals = ", ".join(f"({r}, {c}, {z!r})" for r, c, z in rows)
    grid_sql = f"SELECT * FROM (VALUES {vals}) AS t(row, col, z)"
    orc = sorted(tuple(r) for r in duckdb.sql(
        contour.segments_duckdb_sql(grid_sql, [5.5])).fetchall())
    assert got == orc


def test_topology_matches_union_find(spark, seg_rows, monkeypatch):
    """Curve assembly: per-level component counts from the CC, on both
    sides of the one CC cap, must equal a scalar union-find over the same
    segments; chains/loops bookkeeping must satisfy the degree-<=2
    structure of grid level sets (n_chains = V - E, n_odd = 2*n_chains)."""
    cells = synth.grid_df(spark, SPEC, value="dem")
    segs = contour.segments(cells, LEVELS)
    topos = [
        sorted(tuple(r) for r in contour.topology(segs, LEVELS).collect())
        for _ in _both_caps(monkeypatch)
    ]
    assert topos[0] == topos[1]
    topo = topos[0]

    parent: dict = {}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a, b):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    by_level: dict = {}
    for lev_milli, r, c, x1, y1, x2, y2 in seg_rows:
        by_level.setdefault(lev_milli, []).append(((x1, y1), (x2, y2)))
    want = []
    for lev_milli, edges in by_level.items():
        parent.clear()
        deg: dict = {}
        for a, b in edges:
            union((lev_milli, a), (lev_milli, b))
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        comps = {find(k) for k in parent}
        n_odd = sum(1 for v in deg.values() if v % 2 == 1)
        want.append((lev_milli, len(edges), len(deg), len(comps), n_odd))
    assert topo == sorted(want)
    # structure: every vertex degree <= 2 -> components are paths + cycles;
    # paths satisfy V - E = n_chains and contribute exactly 2 odd vertices
    for lev_milli, n_seg, n_vert, n_comp, n_odd in topo:
        n_chains = n_vert - n_seg
        assert n_odd == 2 * n_chains
        assert 0 <= n_chains <= n_comp


def test_topology_matches_duckdb_on_small_grid(spark):
    """The recursive-CTE oracle is O(diameter) iterations, so it is pinned
    on a small grid (short curves); the distributed CC must agree."""
    spec = GridSpec(n_rows=25, n_cols=30, n_rows_in_tile=5, n_cols_in_tile=6)
    levels = [-0.5, 999.5]
    cells = synth.grid_df(spark, spec, value="dem")
    got = sorted(
        tuple(r)
        for r in contour.topology(contour.segments(cells, levels), levels).collect()
    )
    sql = contour.topology_duckdb_sql(
        contour.segments_duckdb_sql(synth.grid_duckdb_sql(spec, value="dem"), levels)
    )
    orc = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == orc
    assert got, "expected at least one level with segments"


def test_contour_from_stored_zarr_source(spark, tmp_path, seg_rows):
    """End-to-end composition: DEM -> distributed Zarr v3 sharded sink ->
    distributed chunk-pushdown read -> contour. The segment set must be
    identical to contouring the in-memory generator, proving the operator
    is source-agnostic (any (row, col, z) frame works)."""
    from gridfour_spark import zarrv2

    p = str(tmp_path / "dem.zarr")
    zarrv2.write_zarr(
        synth.grid_df(spark, SPEC, value="dem").select(
            "row", "col", F.col("z").cast("double").alias("z")),
        p, shape=(SPEC.n_rows, SPEC.n_cols), chunks=(32, 32),
        dtype="<i4", zarr_format=3,
        compressor={"id": "shard", "inner_chunks": (16, 16)},
    )
    cells = zarrv2.zarr_cells(spark, p)
    got = sorted(tuple(r) for r in contour.segments(cells, LEVELS).collect())
    assert got == seg_rows


def _shifted_dem(spark):
    """The test DEM translated by 2000 rows and columns: its contour
    coordinates pass the 2^30 micro-cell packing bound."""
    return synth.grid_df(spark, SPEC, value="dem").select(
        (F.col("row") + 2000).alias("row"), (F.col("col") + 2000).alias("col"), "z"
    )


def test_topology_wide_string_keys_identical(spark):
    """Past the 2^30 packing bound the vertex ids become 'lev:x:y' strings
    (no grid-size bound). Every topology column is translation-invariant,
    so the shifted DEM (string ids) must report exactly what the unshifted
    one (packed ids) does."""
    levels = [-0.5, 1999.5]
    segs = contour.segments(synth.grid_df(spark, SPEC, value="dem"), levels)
    shifted = contour.segments(_shifted_dem(spark), levels)
    assert contour._vertex_ids(segs, levels)[1] == "long"
    assert contour._vertex_ids(shifted, levels)[1] == "string"
    a = sorted(tuple(r) for r in contour.topology(segs, levels).collect())
    b = sorted(tuple(r) for r in contour.topology(shifted, levels).collect())
    assert a == b and a


def _scalar_walk(edges):
    """Reference traversal of one curve's (a, b) vertex pairs: start at the
    smallest odd-degree vertex (else the smallest vertex), step to the
    smallest neighbour other than the vertex just left, close a loop
    explicitly."""
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    odd = sorted(v for v, ns in adj.items() if len(ns) % 2 == 1)
    start = odd[0] if odd else min(adj)
    prev, cur, seq = None, start, []
    for _ in range(len(edges) + 1):
        seq.append(cur)
        ns = sorted(n for n in adj[cur] if n != prev)
        if not ns:
            break
        prev, cur = cur, ns[0]
        if cur == start and len(seq) == len(edges):
            seq.append(cur)
            break
    return seq


def _walked_pairs(seq):
    """Undirected segments a vertex sequence steps along, sorted."""
    return sorted((min(a, b), max(a, b)) for a, b in zip(seq, seq[1:]))


def _curves(pl) -> dict:
    """{(lev_milli, comp): [(x, y), ...] in seq order} of a polylines frame."""
    got: dict = {}
    for r in pl.collect():
        got.setdefault((r["lev_milli"], r["comp"]), []).append((r["seq"], r["x"], r["y"]))
    return {k: [(x, y) for _, x, y in sorted(v)] for k, v in got.items()}


def test_polylines_match_scalar_walk(spark, seg_rows, monkeypatch):
    """Ordered polyline assembly, on both sides of the one CC cap: every
    curve's vertex sequence must equal a scalar traversal with the same
    deterministic start rule, consume each segment exactly once, and close
    loops explicitly."""
    cells = synth.grid_df(spark, SPEC, value="dem")
    segs = contour.segments(cells, LEVELS)
    both = [_curves(contour.polylines(segs, LEVELS)) for _ in _both_caps(monkeypatch)]
    assert both[0] == both[1]
    got = both[0]

    # scalar: same CC + walk
    by_level: dict = {}
    for lev_milli, r, c, x1, y1, x2, y2 in seg_rows:
        by_level.setdefault(lev_milli, []).append(((x1, y1), (x2, y2)))
    n_checked = 0
    for lev_milli, edges in by_level.items():
        # components by union-find
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
                parent[ra] = rb
        comps: dict = {}
        for a, b in edges:
            comps.setdefault(find(a), []).append((a, b))
        for comp_edges in comps.values():
            # comp id = min packed vertex id (what dedup_clusters labels)
            li = [abs(l) for l in range(len(LEVELS)) if int(LEVELS[l] * 1000) == lev_milli][0]
            verts = {v for e in comp_edges for v in e}
            key = (lev_milli, min((x * (1 << 30) + y) * 8 + li for x, y in verts))
            assert got[key] == _scalar_walk(comp_edges), key
            n_checked += 1
    assert n_checked == len(got) and n_checked > 0


def test_polylines_segments_consumed_once(spark):
    """Each consecutive vertex pair in a polyline is exactly one input
    segment, and the multiset of pairs equals the segment multiset."""
    levels = [1999.5]
    cells = synth.grid_df(spark, SPEC, value="dem")
    segs = contour.segments(cells, levels)
    seg_set = sorted(
        (min((r["x1"], r["y1"]), (r["x2"], r["y2"])), max((r["x1"], r["y1"]), (r["x2"], r["y2"])))
        for r in segs.collect()
    )
    pl: dict = {}
    for r in contour.polylines(segs, levels).collect():
        pl.setdefault(r["comp"], []).append((r["seq"], r["x"], r["y"]))
    walked = []
    for comp, rows in pl.items():
        walked += _walked_pairs([(x, y) for _, x, y in sorted(rows)])
    assert sorted(walked) == seg_set


def test_polylines_below_cap_runs_no_cc_segments(spark, monkeypatch):
    """Below the one CC cap polylines labels and walks every curve in one
    task: it never reaches the distributed CC."""
    def no_cc(*args):
        raise AssertionError("_cc_segments called below the cap")

    monkeypatch.setattr(contour, "_cc_segments", no_cc)
    levels = [1999.5]
    segs = contour.segments(synth.grid_df(spark, SPEC, value="dem"), levels)
    assert contour.polylines(segs, levels).count() > segs.count()


def test_polylines_walk_past_degree_two(spark, monkeypatch):
    """A hand-built soup whose vertices reach degree 4, with repeated
    segments. Curve 1 is a square loop plus a doubled edge meeting at a
    degree-4 vertex (a figure-eight whose second lobe is the doubled
    edge); the walk consumes each of its segments exactly once. Curve 2
    is a figure-eight of two squares: at a junction with four distinct
    neighbours the smallest-neighbour rule re-enters the first lobe, so
    only equality with the reference walk holds there. Curve 3 is an open
    chain whose smallest vertex is interior, so the walk must start at its
    smallest odd-degree end to cover it. Both sides of the one CC cap walk
    alike."""
    def v(x, y):
        return (x * 1_000_000, y * 1_000_000)

    o, p = v(1, 1), v(0, 0)
    curve1 = [(o, v(1, 2)), (v(1, 2), v(2, 2)), (v(2, 2), v(2, 1)), (v(2, 1), o), (o, p), (p, o)]
    j = v(11, 11)
    curve2 = [
        (j, v(10, 11)), (v(10, 11), v(10, 10)), (v(10, 10), v(11, 10)), (v(11, 10), j),
        (j, v(12, 11)), (v(12, 11), v(12, 12)), (v(12, 12), v(11, 12)), (v(11, 12), j),
    ]
    curve3 = [(v(22, 22), v(20, 20)), (v(20, 20), v(21, 23))]
    rows = [(500, 0, 0, a[0], a[1], b[0], b[1]) for a, b in curve1 + curve2 + curve3]
    segs = spark.createDataFrame(
        rows, "lev_milli long, r long, c long, x1 long, y1 long, x2 long, y2 long"
    )
    both = [_curves(contour.polylines(segs, [0.5])) for _ in _both_caps(monkeypatch)]
    assert both[0] == both[1]
    walks = sorted(both[0].values())
    assert walks == sorted([_scalar_walk(curve1), _scalar_walk(curve2), _scalar_walk(curve3)])
    assert [v(21, 23), v(20, 20), v(22, 22)] in walks
    w1 = next(w for w in walks if p in w)
    assert _walked_pairs(w1) == sorted((min(a, b), max(a, b)) for a, b in curve1)


def test_simplify_douglas_peucker(spark):
    """Simplification: endpoints survive, every dropped vertex lies within
    tol of the simplified chain, kept vertices are a subsequence, the
    result matches an independent scalar DP, and tol=0 keeps everything
    (collinear-free input)."""
    import math as _m

    levels = [1999.5]
    cells = synth.grid_df(spark, SPEC, value="dem")
    lines = contour.polylines(contour.segments(cells, levels), levels)
    base: dict = {}
    for r in lines.collect():
        base.setdefault(r["comp"], []).append((r["seq"], r["x"], r["y"]))
    tol = 2_000_000.0  # 2 cells in micro-units
    simp: dict = {}
    for r in contour.simplify(lines, tol).collect():
        simp.setdefault(r["comp"], []).append((r["seq"], r["x"], r["y"]))

    def scalar_dp(vs, tol):
        n = len(vs)
        keep = [False] * n
        keep[0] = keep[-1] = True
        st = [(0, n - 1)]
        while st:
            i, j = st.pop()
            if j <= i + 1:
                continue
            dx, dy = vs[j][0] - vs[i][0], vs[j][1] - vs[i][1]
            L = _m.hypot(dx, dy)
            best, bk = -1.0, -1
            for m in range(i + 1, j):
                if L == 0:
                    d = _m.hypot(vs[m][0] - vs[i][0], vs[m][1] - vs[i][1])
                else:
                    d = abs(dx * (vs[m][1] - vs[i][1]) - dy * (vs[m][0] - vs[i][0])) / L
                if d > best:
                    best, bk = d, m
            if best > tol:
                keep[bk] = True
                st.append((i, bk))
                st.append((bk, j))
        return [v for k, v in zip(keep, vs) if k]

    assert set(simp) == set(base)
    total_kept = total = 0
    for comp, rows in base.items():
        vs = [(x, y) for _, x, y in sorted(rows)]
        want = scalar_dp(vs, tol)
        got = [(x, y) for _, x, y in sorted(simp[comp])]
        assert got == want, comp
        total += len(vs)
        total_kept += len(got)
        # deviation property: every original vertex lies near the result
        for m in vs:
            dmin = min(
                _dist_point_seg(m, a, b) for a, b in zip(got, got[1:])
            ) if len(got) > 1 else 0.0
            assert dmin <= tol + 1e-6
    assert total_kept < total  # it actually simplified something


def _dist_point_seg(p, a, b):
    import math as _m

    ax, ay = a
    bx, by = b
    px, py = p
    dx, dy = bx - ax, by - ay
    L2 = dx * dx + dy * dy
    if L2 == 0:
        return _m.hypot(px - ax, py - ay)
    t = max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / L2))
    return _m.hypot(px - (ax + t * dx), py - (ay + t * dy))


def test_polylines_wide_grid_string_comps(spark, monkeypatch):
    """Coordinates past the 2^30 packing bound auto-switch the curve label
    to the overflow-safe string form (the packed multiply wraps mod 2^64
    beyond the bound and *8 is not injective there — vertices exactly
    2^31 apart in x would merge). The wide path must still consume every
    segment exactly once, produce one curve per connected component, and
    flow the string label through simplify. Both sides of the one CC cap
    give the same curves and labels."""
    levels = [999.5]
    segs = contour.segments(_shifted_dem(spark), levels)
    pl = contour.polylines(segs, levels)
    assert dict(pl.dtypes)["comp"] == "string"
    both = [_curves(contour.polylines(segs, levels)) for _ in _both_caps(monkeypatch)]
    assert both[0] == both[1]
    by_comp = both[0]
    # every consecutive pair is one input segment; multiset equality
    seg_set = sorted(
        (min((r["x1"], r["y1"]), (r["x2"], r["y2"])),
         max((r["x1"], r["y1"]), (r["x2"], r["y2"])))
        for r in segs.collect()
    )
    walked = []
    for pts in by_comp.values():
        walked += _walked_pairs(pts)
    assert sorted(walked) == seg_set
    # one curve per component (wide topology agrees)
    topo = contour.topology(segs, levels).collect()
    assert len(by_comp) == sum(r["n_components"] for r in topo)
    sp = contour.simplify(pl, 2_000_000.0)
    assert dict(sp.dtypes)["comp"] == "string"
    assert sp.count() > 0
