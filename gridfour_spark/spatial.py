"""Spatial joins: point-in-polygon and kNN (north_rule operators).

Both are expressed with DataFrame built-ins only — no geometry library (the
container has no shapely/h3) and no per-row Python:

- PIP: ray-casting parity as relational algebra. Polygon edges explode into
  rows; a point is inside iff an ODD number of edges crosses the upward ray.
  The crossing test for one (point, edge) pair is a closed-form predicate, so
  PIP = explode + equi-join on coarse cover cells + filter + groupBy parity.
  At 10^12 points the cover-cell equi-join (skew.cell_id) prunes candidates
  exactly like an H3 polyfill join; the parity aggregation is map-side
  combined.
- kNN: small anchor set broadcast against the point cloud; haversine great-
  circle distance in column arithmetic; per-point top-k via window
  row_number with a deterministic (distance, anchor_id) tie order. The scale
  path for huge anchor sets is cell-ring candidate generation (grid_disk
  equivalent) — same shape as ann_topk's bucket join in similarity.py.

Polygon fixture: deterministic star polygons derived from integer hashes so
the DuckDB oracle reproduces them exactly.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gridfour_spark.skew import cell_id, cell_id_sql

N_POLY_VERTS = 8
_ANGLES = [2.0 * math.pi * i / N_POLY_VERTS for i in range(N_POLY_VERTS)]


def synth_polygons(spark: SparkSession, n: int = 24) -> DataFrame:
    """n deterministic star polygons: center c_k from integer mixing, vertex i
    at radius 3 + ((k*31 + i*17) % 7) degrees, angle 2*pi*i/8."""
    rows = []
    for k in range(n):
        h1 = (k * 2654435761 + 1013904223) % (2**32)
        h2 = (k * 1597334677 + 12345) % (2**32)
        clat = (h1 % 120000) / 1000.0 - 60.0
        clon = (h2 % 340000) / 1000.0 - 170.0
        verts = []
        for i, ang in enumerate(_ANGLES):
            r = 3.0 + ((k * 31 + i * 17) % 7)
            verts.append((clon + r * math.cos(ang), clat + r * math.sin(ang)))
        rows.append((k, [v[0] for v in verts], [v[1] for v in verts]))
    return spark.createDataFrame(rows, "poly_id int, xs array<double>, ys array<double>")


def polygon_edges(polys: DataFrame) -> DataFrame:
    """(poly_id, x1, y1, x2, y2) one row per edge, closing edge included."""
    n = N_POLY_VERTS
    e = polys.withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(n - 1))))
    nxt = (F.col("i") + 1) % n
    return e.select(
        "poly_id",
        F.element_at("xs", F.col("i") + 1).alias("x1"),
        F.element_at("ys", F.col("i") + 1).alias("y1"),
        F.element_at("xs", nxt + 1).alias("x2"),
        F.element_at("ys", nxt + 1).alias("y2"),
    )


def pip_join(
    points: DataFrame,
    polys: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    cover_res: int = 3,
) -> DataFrame:
    """points (pt fields + lat/lon) x polygons -> (point, poly_id) inside pairs.

    Plan: polygon bbox -> cover cells (sequence+explode, the polyfill trick
    that turns the spatial join into an equi-join) ; points -> their cell ;
    equi-join ; ray-cast parity per (point, polygon).
    """
    n_rows = 1 << cover_res
    n_cols = 1 << (cover_res + 1)
    lat_step = 180.0 / n_rows
    lon_step = 360.0 / n_cols

    b = polys.select(
        "poly_id", "xs", "ys",
        F.array_min("xs").alias("xmin"), F.array_max("xs").alias("xmax"),
        F.array_min("ys").alias("ymin"), F.array_max("ys").alias("ymax"),
    )
    b = (
        b.withColumn(
            "crow",
            F.explode(
                F.sequence(
                    F.floor((F.col("ymin") + 90.0) / lat_step),
                    F.least(F.floor((F.col("ymax") + 90.0) / lat_step), F.lit(n_rows - 1)),
                )
            ),
        )
        .withColumn(
            "ccol",
            F.explode(
                F.sequence(
                    F.floor((F.col("xmin") + 180.0) / lon_step),
                    F.least(F.floor((F.col("xmax") + 180.0) / lon_step), F.lit(n_cols - 1)),
                )
            ),
        )
        .withColumn("cell", (F.col("crow") * n_cols + F.col("ccol")).cast("long"))
        .select("poly_id", "cell", "xs", "ys")
    )
    pts = points.withColumn("cell", cell_id(F.col(lat_col), F.col(lon_col), cover_res))
    cand = pts.join(b, on="cell").drop("cell")

    edges = cand.withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(N_POLY_VERTS - 1))))
    x1 = F.element_at("xs", F.col("i") + 1)
    y1 = F.element_at("ys", F.col("i") + 1)
    x2 = F.element_at("xs", (F.col("i") + 1) % N_POLY_VERTS + 1)
    y2 = F.element_at("ys", (F.col("i") + 1) % N_POLY_VERTS + 1)
    px, py = F.col(lon_col), F.col(lat_col)
    crosses = ((y1 > py) != (y2 > py)) & (
        px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
    )
    group_cols = [c for c in cand.columns if c not in ("xs", "ys")]
    par = (
        edges.withColumn("_c", F.when(crosses, 1).otherwise(0))
        .groupBy(*group_cols)
        .agg(F.sum("_c").alias("_crossings"))
    )
    return par.filter(F.col("_crossings") % 2 == 1).drop("_crossings")


def polygons_sql(n: int = 24) -> str:
    """DuckDB CTE with the identical polygon fixture (literal vertices,
    generated by the same Python code that feeds createDataFrame)."""
    rows = []
    for k in range(n):
        h1 = (k * 2654435761 + 1013904223) % (2**32)
        h2 = (k * 1597334677 + 12345) % (2**32)
        clat = (h1 % 120000) / 1000.0 - 60.0
        clon = (h2 % 340000) / 1000.0 - 170.0
        xs, ys = [], []
        for i, ang in enumerate(_ANGLES):
            r = 3.0 + ((k * 31 + i * 17) % 7)
            xs.append(repr(clon + r * math.cos(ang)))
            ys.append(repr(clat + r * math.sin(ang)))
        rows.append(f"({k}, [{', '.join(xs)}], [{', '.join(ys)}])")
    vals = ", ".join(rows)
    return f"SELECT * FROM (VALUES {vals}) AS t(poly_id, xs, ys)"


def pip_join_sql(points_src: str, n_poly: int = 24, lat: str = "lat", lon: str = "lon") -> str:
    """DuckDB twin of pip_join (no cover-cell pruning needed at oracle scale:
    the parity test is identical, pruning only removes never-matching pairs)."""
    nv = N_POLY_VERTS
    return f"""
WITH polys AS ({polygons_sql(n_poly)}),
pts AS (SELECT * FROM ({points_src})),
edges AS (
  SELECT poly_id, i,
         xs[i + 1] AS x1, ys[i + 1] AS y1,
         xs[(i + 1) % {nv} + 1] AS x2, ys[(i + 1) % {nv} + 1] AS y2
  FROM polys, (SELECT unnest(generate_series(0, {nv - 1})) AS i)
),
par AS (
  SELECT pts.*, e.poly_id,
         SUM(CASE WHEN ((e.y1 > pts.{lat}) != (e.y2 > pts.{lat}))
                   AND pts.{lon} < (e.x2 - e.x1) * (pts.{lat} - e.y1) / (e.y2 - e.y1) + e.x1
                  THEN 1 ELSE 0 END) AS crossings
  FROM pts CROSS JOIN edges e
  GROUP BY ALL
)
SELECT * EXCLUDE (crossings) FROM par WHERE crossings % 2 = 1
"""


def zonal_stats(
    cells: DataFrame,
    polys: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    value_col: str = "z",
) -> DataFrame:
    """Zonal statistics: per-polygon aggregates of the raster cells whose
    centers fall inside the zone — the classic raster x vector overlay
    (extension beyond the reference's core; its in-repo analog is the
    polygon-masked area/volume tabulation of demo/.../GeneralStatistics).

    Scale shape: the spatial join is `pip_join`'s cover-cell equi-join
    (polygon bboxes -> cover cells, points -> their cell, ray-cast parity
    on the pruned pairs), then ONE map-side-combined groupBy(poly_id).
    Nothing is ever points x polygons; at 100 TB the shuffle is bounded by
    matched (cell, zone) pairs, and the aggregate output by |zones|.

    Besides count/sum/min/max the zone row carries the EXACT median and,
    when the cells frame has an `area_milli` column (pre-quantized long,
    see the _AREA_MILLI pattern), area-weighted sums as pure long
    arithmetic — double summation order never enters the result, so the
    output is partitioning-invariant by construction.

    Round 8 (the round-7 weak-state fix): the median no longer uses
    Spark's `percentile`, whose exact implementation buffers a raw
    value->count map PER GROUP in the aggregation buffer — unbounded on
    high-cardinality rasters. Everything now derives from a (poly, value)
    COUNTS table: one map-side-combined pre-aggregation, a cumulative
    window per zone (state bounded by the zone's distinct-value count),
    and the closed-form linear-interpolation rule Spark's percentile
    applies at p=0.5 — lower*(higher-pos) + higher*(pos-lower), which for
    integral values is exact in doubles, so med_z_milli is bit-identical
    (pinned by the pip suite's oracle hash and tests/test_zonal.py). For
    float-valued rasters the bounded-state guarantee requires quantized
    values (the int-DEM contract this engine's rasters satisfy); raw
    floats still work but degrade to one counts row per distinct value."""
    from pyspark.sql.window import Window

    j = pip_join(cells, polys, lat_col=lat_col, lon_col=lon_col)
    weighted = "area_milli" in j.columns
    partials = [F.count("*").alias("_c")]
    if weighted:
        partials.append(F.sum("area_milli").alias("_sa"))
    # grouped on the RAW value (floats keep one counts row per distinct
    # value — exact, with the state bound degrading to value cardinality);
    # the long casts below are per-distinct-value and truncation is
    # monotone, so min/max/sums equal the per-row-cast originals
    counts = j.groupBy("poly_id", F.col(value_col).alias("_v")).agg(*partials)
    vl = F.col("_v").cast("long")

    wz = Window.partitionBy("poly_id").orderBy("_v")
    # percentile ignores NULL values; count only non-null rows toward the
    # rank arithmetic (NULLs sort first, carrying cumulative 0)
    nn_c = F.when(F.col("_v").isNotNull(), F.col("_c")).otherwise(F.lit(0))
    cum = F.sum(nn_c).over(wz.rowsBetween(Window.unboundedPreceding, 0))
    n = F.sum(nn_c).over(wz.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    t = counts.withColumn("_cum", cum).withColumn("_n", n)
    # 1-indexed ranks of the two middle order statistics (equal for odd n);
    # row-level predicates against the cumulative count select the distinct
    # values carrying those ranks
    l_rank = F.floor((F.col("_n") - 1) / 2) + 1
    u_rank = F.floor(F.col("_n") / 2) + 1
    vd = F.col("_v").cast("double")
    aggs = [
        F.sum("_c").alias("n_cells"),
        F.sum(vl * F.col("_c")).alias("sum_z"),
        F.min(vl).alias("min_z"),
        F.max(vl).alias("max_z"),
        F.min(F.when(F.col("_cum") >= l_rank, vd)).alias("_vl"),
        F.min(F.when(F.col("_cum") >= u_rank, vd)).alias("_vu"),
        F.max("_n").alias("_nn"),
    ]
    if weighted:
        aggs.append(F.sum("_sa").alias("sum_area_milli"))
        aggs.append(F.sum(F.col("_sa") * vl).alias("sum_za_milli"))
    out = t.groupBy("poly_id").agg(*aggs)
    # percentile's p=0.5 interpolation: v[pos] for odd n, else the exact
    # 0.5/0.5 blend — identical doubles for integral values
    med = F.when(F.col("_nn") % 2 == 1, F.col("_vl")).otherwise(
        F.col("_vl") * 0.5 + F.col("_vu") * 0.5
    )
    out = out.withColumn("med_z_milli", F.floor(med * 1000.0).cast("long"))
    cols = ["poly_id", "n_cells", "sum_z", "min_z", "max_z", "med_z_milli"]
    if weighted:
        cols += ["sum_area_milli", "sum_za_milli"]
    return out.select(*cols)


def zonal_stats_sql(
    points_src: str,
    n_poly: int = 24,
    lat: str = "lat",
    lon: str = "lon",
    value: str = "z",
    weighted: bool = False,
) -> str:
    """DuckDB twin of zonal_stats over the same (value, lat, lon[, area])
    source; quantile_cont is DuckDB's exact linear-interpolation percentile
    (identical arithmetic to Spark's `percentile` for p=0.5 over ints)."""
    w = (
        ", SUM(area_milli) AS sum_area_milli"
        f", SUM(area_milli * CAST({value} AS BIGINT)) AS sum_za_milli"
        if weighted else ""
    )
    return f"""
        SELECT poly_id, COUNT(*) AS n_cells,
               SUM(CAST({value} AS BIGINT)) AS sum_z,
               MIN(CAST({value} AS BIGINT)) AS min_z,
               MAX(CAST({value} AS BIGINT)) AS max_z,
               CAST(floor(quantile_cont({value}, 0.5) * 1000.0) AS BIGINT) AS med_z_milli{w}
        FROM ({pip_join_sql(points_src, n_poly, lat=lat, lon=lon)})
        GROUP BY 1
    """


def knn_res_for(n_anchors: int, k: int) -> int:
    """Cell resolution for the kNN candidate join, chosen from anchor
    density (the IVF nlist~sqrt(N) precedent): the largest res whose cells
    still average >= 2k anchors, so a ring-1 disk (9 cells) carries enough
    candidates that the exactness certificate usually holds on the first
    pass. n_cells(res) = 2^(2*res+1)."""
    res = 0
    while res < 12 and n_anchors / float(1 << (2 * (res + 1) + 1)) >= 2.0 * k:
        res += 1
    return res


def knn_join(
    points: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    lat_col: str = "lat",
    lon_col: str = "lon",
    res: int | None = None,
    ring: int = 1,
    stats_out: dict | None = None,
) -> DataFrame:
    """k nearest anchors per point (haversine) — EXACT, via cell-ring
    candidate generation (SURVEY §2.5's grid_disk plan; round-3 review item:
    the old plan was points x anchors with no pruning).

    Plan (no cartesian/BroadcastNestedLoopJoin anywhere):
    1. anchors indexed into skew.cell_id cells at ``res`` (default from
       anchor density, knn_res_for); the per-cell anchor list is broadcast.
    2. each point LEFT-joins the anchors of its ring-``ring`` cell disk
       (wrapped in longitude, clamped in latitude) — a broadcast HASH join,
       O(points * anchors_in_disk) instead of O(points * anchors).
    3. window top-k per point over the disk candidates.
    4. exactness certificate per point: any anchor OUTSIDE the disk is at
       least LB away, where LB is the haversine lower bound from either a
       latitude gap > ring*lat_step or a (wrapped) longitude gap >
       ring*lon_step at the point's worst-case latitude band. If the point
       found >= k candidates and its k-th distance < LB, the disk top-k IS
       the global top-k (every nearer anchor is provably inside the disk).
    5. each disk pass persists its ranked, certified top-k ONCE: points x k
       rows, the size of the output, where the candidate rows it is cut
       from are points x anchors-in-disk. The certified output, the
       uncertified sliver and the stats_out telemetry are filters over that
       one frame, so the explode + join + window pass runs once per call
       instead of once per consumer branch of the final union.
       Points that fail the certificate (poles, sparse neighborhoods)
       RETRY once with a 3x-widened ring and re-certify (round-4 review:
       caps the exhaustive set when the failure is local sparseness, the
       common case); only points still uncertified after the escalation
       fall back to comparing against ALL anchors — joined on a salted
       key so it stays a broadcast hash join. At realistic anchor
       densities the fallback set is a sliver; when the disk covers the
       whole globe (small res) the certificate is vacuous and nothing
       falls back.

    Longitudes are wrapped into [-180, 180) with pmod on BOTH the point
    and anchor cell assignments, matching haversine's periodicity — an
    out-of-domain lon (e.g. 359 ≡ -1) lands in its geometrically correct
    cell, so the certificate stays sound (round-5 advice). Latitude is
    NOT periodic: the domain is [-90, 90] and out-of-range values clamp
    to the polar rows (their certificates still hold because the clamp
    only shrinks the claimed lower bound).

    Result rows/order are IDENTICAL to the exhaustive plan: ranks use the
    same (round(dist,6), anchor_id) deterministic order.
    """
    if res is None:
        # the density heuristic needs one count() action at plan-build;
        # persist the (broadcast-tiny) anchor frame so that action and the
        # join-time broadcast share one scan (round-4 review nit)
        anchors = anchors.persist()
        res = knn_res_for(anchors.count(), k)
    n_rows = 1 << res
    n_cols = 1 << (res + 1)
    lat_step = 180.0 / n_rows
    lon_step = 360.0 / n_cols
    pt_cols = [c for c in points.columns]
    lat, lon = F.col(lat_col), F.col(lon_col)

    def _wrap_lon(c):
        # [-180, 180) with full periodicity; pmod of non-finite stays
        # non-finite (the explode_outer null-disk path catches it)
        return F.pmod(c + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)

    a = anchors.select(
        F.col("anchor_id"),
        F.col("alat").alias("_alat"),
        F.col("alon").alias("_alon"),
        cell_id(F.col("alat"), _wrap_lon(F.col("alon")), res).alias("_cell"),
    )

    def _disk_pass(points_in, ring_n):
        """One disk-candidate + certificate pass at ring width ``ring_n``.

        Returns (certified top-k rows, frame of still-uncertified points).
        """
        full_cover = (2 * ring_n + 1) >= n_rows and (2 * ring_n + 1) >= n_cols
        # point -> distinct disk cells (array built JVM-side, then exploded)
        prow = F.least(F.floor((lat + 90.0) / lat_step), F.lit(n_rows - 1)).cast("int")
        pcol = F.least(
            F.floor(F.pmod(lon + F.lit(180.0), F.lit(360.0)) / lon_step),
            F.lit(n_cols - 1),
        ).cast("int")
        seq = F.sequence(F.lit(-ring_n), F.lit(ring_n))
        disk = F.array_distinct(
            F.filter(
                F.flatten(
                    F.transform(
                        seq,
                        lambda dr: F.transform(
                            seq,
                            lambda dc: F.when(
                                ((F.col("_prow") + dr) >= 0)
                                & ((F.col("_prow") + dr) < n_rows),
                                ((F.col("_prow") + dr).cast("long") * n_cols
                                 + F.pmod(F.col("_pcol") + dc, F.lit(n_cols))),
                            ).otherwise(F.lit(-1).cast("long")),
                        ),
                    )
                ),
                lambda c: c >= 0,
            )
        )
        pts = (
            points_in.withColumn("_prow", prow)
            .withColumn("_pcol", pcol)
            # explode_OUTER: a NULL/out-of-domain coordinate yields an empty
            # disk; the point must still surface (with a null cell) so it
            # reaches the fallback instead of silently vanishing (round-4
            # review — the old exhaustive plan kept such points)
            .withColumn("_cell", F.explode_outer(disk))
            .drop("_prow", "_pcol")
        )
        # LEFT join keeps zero-candidate points visible for the fallback test
        cand = pts.join(F.broadcast(a), on="_cell", how="left").drop("_cell")
        d = haversine_km(lat, lon, F.col("_alat"), F.col("_alon"))
        cand = cand.withColumn("dist_km", F.round(d, 6))

        wo = Window.partitionBy(*pt_cols).orderBy(
            F.col("dist_km").asc_nulls_last(), F.col("anchor_id").asc_nulls_last()
        )
        # candidate count and k-th distance share the rank window's one
        # sorted pass (the k-th distance only matters once _n >= k)
        whole = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        cand = (
            cand.withColumn("rank", F.row_number().over(wo).cast("long"))
            .withColumn("_n", F.count("anchor_id").over(whole))
            .withColumn("_kd", F.nth_value("dist_km", k).over(whole))
            .filter(F.col("rank") <= k)
        )

        if full_cover:
            certified = F.col("_n") >= k  # disk = whole grid: nothing outside it
        else:
            # LB: anchors outside the disk have |dlat| > ring*lat_step OR
            # (wrapped) |dlon| > ring*lon_step. haversine a-term bound:
            #   a >= min(sin^2(dphi/2), cos(phi1)*cos(phi_band)*sin^2(dlam/2))
            # with phi_band = min(90, |phi1| + ring*lat_step) (an anchor whose
            # latitude is outside that band already trips the first term).
            dphi = math.radians(ring_n * lat_step) / 2.0
            dlam = math.radians(min(180.0, ring_n * lon_step)) / 2.0
            phi1 = F.radians(lat)
            phib = F.radians(F.least(F.lit(90.0), F.abs(lat) + F.lit(ring_n * lat_step)))
            a_lb = F.least(
                F.lit(math.sin(dphi) ** 2),
                F.greatest(F.cos(phi1) * F.cos(phib), F.lit(0.0))
                * F.lit(math.sin(dlam) ** 2),
            )
            lb_km = 2.0 * 6371.0072 * F.asin(F.sqrt(a_lb))
            certified = (F.col("_n") >= k) & (F.col("_kd") + 1e-5 < lb_km)

        # plan step 5: the ranked top-k (points x k rows; one null-anchor row
        # for a point with no candidates) is the one materialization of
        # this pass; every consumer below is a filter over it
        ranked = _persist_tracked(
            cand.select(*pt_cols, "rank", "anchor_id", "dist_km", certified.alias("_cert"))
        )
        out = ranked.filter(F.col("_cert") & F.col("anchor_id").isNotNull()).drop("_cert")
        failed = ranked.filter(~F.col("_cert") & (F.col("rank") == 1)).select(*pt_cols)
        return out, failed

    from gridfour_spark.textops import _persist_tracked

    out_cert, fb_pts = _disk_pass(points, ring)
    if stats_out is not None:
        # telemetry frames (observable fallback cost for polar-heavy
        # workloads): filters over the persisted top-k, so counting them
        # never re-runs a disk pass
        stats_out["points"] = points
        stats_out["escalated"] = fb_pts
    if (2 * ring + 1) < n_rows or (2 * ring + 1) < n_cols:
        # ring escalation: one re-certified retry at 3x width before paying
        # the exhaustive price (only the uncertified sliver re-enters)
        out_esc, fb_pts = _disk_pass(fb_pts, 3 * ring)
        out_cert = out_cert.unionByName(out_esc)
    if stats_out is not None:
        stats_out["fallback"] = fb_pts
    # exhaustive re-check for the uncertified sliver: a salted replicate
    # equi-join (the skew.salted_join shape). A lit(1) key would be
    # constant-folded into a BroadcastNestedLoopJoin; a hash-of-row salt
    # cannot, so the plan stays a BroadcastHashJoin.
    n_salts = 8
    a_all = F.broadcast(
        anchors.select(
            "anchor_id",
            F.col("alat").alias("_alat"),
            F.col("alon").alias("_alon"),
        ).withColumn("_b", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    )
    fb = (
        fb_pts.withColumn(
            "_b", F.pmod(F.hash(*[F.col(c) for c in pt_cols]), F.lit(n_salts))
        )
        .join(a_all, on="_b")
        .drop("_b")
    )
    fb = fb.withColumn(
        "dist_km", F.round(haversine_km(lat, lon, F.col("_alat"), F.col("_alon")), 6)
    )
    wf = Window.partitionBy(*pt_cols).orderBy(
        F.col("dist_km").asc(), F.col("anchor_id").asc()
    )
    fb_out = (
        fb.withColumn("rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("rank") <= k)
        .select(*pt_cols, "rank", "anchor_id", "dist_km")
    )
    return out_cert.unionByName(fb_out)


def haversine_km(lat1, lon1, lat2, lon2):
    """Great-circle distance, 6371.0072 km radius — portable arithmetic only."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.sin(dlat / 2) ** 2 + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2
    return 2.0 * 6371.0072 * F.asin(F.sqrt(a))


def haversine_km_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    dlat = f"radians(({lat2}) - ({lat1}))"
    dlon = f"radians(({lon2}) - ({lon1}))"
    a = (
        f"(sin({dlat} / 2) * sin({dlat} / 2) + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * sin({dlon} / 2) * sin({dlon} / 2))"
    )
    return f"(2.0 * 6371.0072 * asin(sqrt({a})))"
