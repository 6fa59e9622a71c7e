"""The two benchmark workloads, written against the public functions of the
`gridfour_spark` modules only.

A workload has four phases; `run.py` drives it:

1. `prepare()` persists the inputs every phase reads (part of set-up);
2. `run_phase(n, call)` runs phase `n` once. The runner calls it once per
   phase to warm up, then over and over while the phase's share of the
   measured time lasts. Each operation goes through `call(site, fn, key)`:
   `site` is the `<module>.<function>` call site, `fn` makes the call,
   forces its output and returns an output digest, and `key` tells apart
   calls of one site on different inputs;
3. `check(first)` names the call sites whose output disagrees with a DuckDB
   twin, a round trip or the input DEM. It reads the outputs `run_phase`
   kept the first time it saw them (in the warm-up, so never in a timed
   pass), and `first`, the digest of each (site, key) at its first call.

The runner itself checks that every call's digest equals the digest of the
first call of the same (site, key), so every call site is checked at least
that way.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gridfour_spark import (
    bspline, contour, gvrsfile, pipeline, spatial, store, synth, textops, tilecodec, zarrv2,
)
from gridfour_spark.spec import GLOBAL_GRID, GridSpec

import inputs as I

SWT_KEEP = ["doc_id", "span_offset", "kind"]
BPE_MERGES = 16
NEAR_DUP_JACCARD = 0.5
SIMPLIFY_TOL = 2_000_000.0   # micro-cells: two cells


def digest(df: DataFrame, cols: list[str] | None = None) -> tuple[int, int]:
    """Force `df` and return (rows, order-free hash of `cols`). Hashing every
    output column keeps Catalyst from pruning the work being measured."""
    cols = cols or df.columns
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in cols])).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def raster_spec(origin: tuple[int, int]) -> GridSpec:
    """The window of GLOBAL_GRID whose top-left cell is `origin`."""
    g = GLOBAL_GRID
    return GridSpec(
        n_rows=I.GRID_ROWS, n_cols=I.GRID_COLS,
        n_rows_in_tile=I.TILE_ROWS, n_cols_in_tile=I.TILE_COLS,
        x0=g.x0 + origin[1] * g.cell_size_x, y0=g.y0 + origin[0] * g.cell_size_y,
        cell_size_x=g.cell_size_x, cell_size_y=g.cell_size_y, geographic=True,
    )


def rows(pdf, cols: list[str]) -> list[tuple]:
    """Order-free, dtype-free comparable form of a result."""
    def norm(v):
        if hasattr(v, "item"):
            v = v.item()
        return round(v, 6) if isinstance(v, float) else v
    return sorted(tuple(norm(v) for v in row) for row in pdf[cols].itertuples(index=False))


def frames_match(got, want, key: str) -> bool:
    """Same rows by `key`; floats equal to within 1e-5 (each side rounded
    its averages on its own)."""
    cols = list(want.columns)
    if set(got.columns) != set(cols) or len(got) != len(want):
        return False
    a = got[cols].sort_values(key).reset_index(drop=True)
    b = want[cols].sort_values(key).reset_index(drop=True)
    for c in cols:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            ok = np.allclose(x.astype(np.float64), y.astype(np.float64), rtol=0.0, atol=1e-5)
        else:
            ok = bool((x == y).all())
        if not ok:
            return False
    return True


def timed_df(call, site: str, make, cols: list[str] | None = None,
             persist: bool = False, key=None) -> DataFrame:
    """Time `make()` and the digest that forces its output, and return the
    output (persisted if asked, so later calls can read it)."""
    box = {}

    def fn():
        df = make()
        box["df"] = df.persist() if persist else df
        return digest(box["df"], cols)

    call(site, fn, key)
    return box["df"]


def clusters_match(pairs, clusters) -> bool:
    """dedup_clusters output equals the connected components of the pair
    graph: each doc of a pair is labelled with its component's smallest doc
    id and the component's size."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["doc_a"].tolist(), pairs["doc_b"].tolist()):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = {d: find(d) for d in parent}
    size: dict[int, int] = {}
    for r in roots.values():
        size[r] = size.get(r, 0) + 1
    want = {(d, r, size[r]) for d, r in roots.items()}
    got = {(int(d), int(c), int(s)) for d, c, s in clusters[
        ["doc_id", "cluster_id", "cluster_size"]].itertuples(index=False)}
    # singletons (docs in no pair) may or may not be listed
    got = {t for t in got if t[2] > 1 or t[0] in roots}
    return bool(want) and got == want


class Docs:
    name = "docs"
    # phase -> (what the phase's throughput counts, call sites in the phase)
    phases = {
        1: ("docs", ("pipeline.spans_with_tiles", "pipeline.flagship")),
        2: ("spans", ("spatial.knn_join",)),
        3: ("docs", ("textops.bpe_train",)),
        4: ("docs", ("textops.near_dup_pairs", "textops.dedup_clusters")),
    }

    def __init__(self, spark, inp: dict, tmp: str):
        self.spark, self.inp, self.tmp = spark, inp, tmp
        self.items = {"docs": inp["sizes"]["docs"], "spans": inp["sizes"]["spans"]}
        self.kept: dict = {}
        self.knn_stats: dict = {}

    def prepare(self) -> None:
        # the per-tile DEM statistics are the flagship's dimension input
        self.stats = pipeline.dem_tile_stats(self.spark).persist()
        self.kept["stats"] = self.stats.toPandas()
        self.anchors = self.spark.createDataFrame(
            self.inp["anchors"], "anchor_id long, alat double, alon double")
        self.docs = self.spark.read.parquet(f"{self.inp['docs']}/documents.parquet")

    def run_phase(self, n: int, call) -> None:
        spark, kept, docs_dir = self.spark, self.kept, self.inp["docs"]
        if n == 1:
            pts = timed_df(call, "pipeline.spans_with_tiles",
                           lambda: pipeline.spans_with_tiles(spark, docs_dir, keep=SWT_KEEP),
                           persist=True)
            try:
                flag = timed_df(call, "pipeline.flagship", lambda: pipeline.flagship(
                    spark, docs_dir, pts=pts, stats=self.stats))
                if "swt" not in kept:
                    kept["swt"] = pts.filter(F.col("tile_index") >= 0).toPandas()
                    kept["flagship"] = flag.toPandas()
            finally:
                pts.unpersist()
        elif n == 2:
            pts = synth.with_span_geometry(synth.docs_spans(spark, docs_dir)).select(
                "doc_id", "span_offset", "lat", "lon")
            self.knn_stats = {}
            timed_df(call, "spatial.knn_join", lambda: spatial.knn_join(
                pts, self.anchors, k=3, stats_out=self.knn_stats))
        elif n == 3:
            def bpe():
                merges, final = textops.bpe_train(self.docs, n_merges=BPE_MERGES)
                kept.setdefault("merges", merges)
                return (*digest(final), zlib.crc32(repr(merges).encode()))

            call("textops.bpe_train", bpe)
        else:
            pairs = timed_df(call, "textops.near_dup_pairs",
                             lambda: textops.near_dup_pairs(self.docs, NEAR_DUP_JACCARD),
                             persist=True)
            try:
                clusters = timed_df(call, "textops.dedup_clusters",
                                    lambda: textops.dedup_clusters(pairs))
                if "pairs" not in kept:
                    kept["pairs"] = pairs.toPandas()
                    kept["clusters"] = clusters.toPandas()
            finally:
                pairs.unpersist()

    def check(self, first: dict) -> set[str]:
        """spans_with_tiles and near_dup_pairs against their DuckDB twins on
        the first replica (spans and pairs never cross replicas), BPE merges
        against its twin on every document, the flagship against the
        per-tile aggregates of the spans and the DEM statistics, and the
        clusters against a union-find over the pairs."""
        import duckdb

        kept, bad = self.kept, set()
        first_replica = lambda df, col: df[df[col] < I.REPLICA_IDS]
        con = duckdb.connect()
        src = f"read_parquet('{self.inp['docs']}/documents.parquet')"
        con.execute(f"CREATE VIEW documents AS SELECT * FROM {src} WHERE doc_id < {I.REPLICA_IDS}")
        swt_cols = SWT_KEEP + ["tile_index", "index_in_tile", "z"]
        got = con.execute(
            f"SELECT {', '.join(swt_cols)} FROM ({pipeline.spans_with_tiles_sql()})").df()
        got = got[got["tile_index"] >= 0]
        if got.empty or rows(got, swt_cols) != rows(first_replica(kept["swt"], "doc_id"), swt_cols):
            bad.add("pipeline.spans_with_tiles")
        pairs = kept["pairs"]
        got = con.execute(textops.near_dup_pairs_sql(
            NEAR_DUP_JACCARD, docs_src="SELECT * FROM documents")).df()
        cols = list(pairs.columns)
        if got.empty or rows(got, cols) != rows(first_replica(pairs, "doc_a"), cols):
            bad.add("textops.near_dup_pairs")
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM {src}")
        got = con.execute(textops.bpe_merges_sql(BPE_MERGES)).fetchall()
        if sorted((int(r), a, b, int(n)) for r, a, b, n in got) != sorted(kept["merges"]):
            bad.add("textops.bpe_train")
        con.close()
        want = kept["swt"].groupby("tile_index").agg(
            n_spans=("doc_id", "size"), n_docs=("doc_id", "nunique"),
            n_media=("kind", lambda k: int((k == "media").sum())),
            mean_point_z=("z", "mean"),
        ).reset_index().merge(kept["stats"], on="tile_index")
        if kept["flagship"].empty or not frames_match(kept["flagship"], want, "tile_index"):
            bad.add("pipeline.flagship")
        if not clusters_match(pairs, kept["clusters"]):
            bad.add("textops.dedup_clusters")
        return bad

    def layer_ratios(self) -> dict:
        """Useful-work ratios of the inputs (counted after the timed passes)."""
        st = self.knn_stats
        n_pts = st["points"].count()
        cand = textops.near_dup_candidates(self.docs).count()
        return {
            "spatial.knn_join.escalated_frac": st["escalated"].count() / n_pts,
            "spatial.knn_join.fallback_frac": st["fallback"].count() / n_pts,
            "textops.near_dup_pairs.pairs_per_candidate": len(self.kept["pairs"]) / cand,
        }


class Raster:
    name = "raster"
    phases = {
        1: ("cells", ("store.build_tiles", "tilecodec.compress_tiles",
                      "gvrsfile.write_gvrs", "zarrv2.write_zarr")),
        2: ("cells", ("tilecodec.decompress_tiles", "gvrsfile.read_gvrs", "zarrv2.zarr_cells")),
        3: ("reads", ("store.point_read", "store.block_read")),
        4: ("cells", ("bspline.interpolate_points", "contour.segments",
                      "contour.polylines", "contour.simplify")),
    }

    def __init__(self, spark, inp: dict, tmp: str):
        self.spark, self.inp, self.tmp = spark, inp, tmp
        self.spec = raster_spec(inp["origin"])
        self.levels = inp["levels"]
        self.items = {"cells": inp["sizes"]["cells"], "reads": 2}
        self.element = gvrsfile.default_element("z", "int")
        self.gpath = os.path.join(tmp, "store.gvrs")
        self.zpath = os.path.join(tmp, "store.zarr")
        self.compressed = None
        self.kept: dict = {}

    def prepare(self) -> None:
        """The cells, the persisted tile store the reads and the B-spline
        sample, and the probe and sample inputs."""
        spark = self.spark
        self.cells = spark.read.parquet(f"{self.inp['cells']}/data.parquet")
        self.tiles = store.build_tiles(self.cells, self.spec).persist()
        self.tiles.count()
        self.cells_digest = digest(
            self.cells.select("row", "col", F.col("z").cast("double").alias("z")))
        self.bspline_points = spark.read.parquet(f"{self.inp['bspline']}/data.parquet")

    def run_phase(self, n: int, call) -> None:
        spec, kept = self.spec, self.kept
        if n == 1:
            tiles = timed_df(call, "store.build_tiles", lambda: store.build_tiles(self.cells, spec),
                             ["tile_index", "cells"], persist=True)
            try:
                if "tiles" not in kept:
                    kept["tiles"] = tiles.select("tile_row", "tile_col", "cells").toPandas()
                comp = timed_df(call, "tilecodec.compress_tiles", lambda: tilecodec.compress_tiles(
                    tiles, spec, use_lsop=True), persist=True)
                if self.compressed is not None:
                    self.compressed.unpersist()
                self.compressed = comp      # the input of the next scan

                def write_gvrs():
                    gvrsfile.write_gvrs(self.gpath, spec, self.element,
                                        gvrsfile.gvrs_export_blocks(tiles, spec, self.element))
                    return os.path.getsize(self.gpath), 0

                call("gvrsfile.write_gvrs", write_gvrs)
            finally:
                tiles.unpersist()

            def write_zarr():
                r = zarrv2.write_zarr(self.cells, self.zpath, shape=(spec.n_rows, spec.n_cols),
                                      chunks=(spec.n_rows_in_tile, spec.n_cols_in_tile),
                                      dtype="<i4", compressor={"id": "zlib", "level": 6})
                return r["n_chunks"], r["n_bytes"]

            call("zarrv2.write_zarr", write_zarr)
        elif n == 2:
            call("tilecodec.decompress_tiles", lambda: digest(
                tilecodec.decompress_tiles(self.compressed, spec), ["tile_index", "cells"]))
            call("gvrsfile.read_gvrs", lambda: digest(
                gvrsfile.read_gvrs(self.spark, self.gpath), ["tile_index", "values"]))
            call("zarrv2.zarr_cells", lambda: digest(zarrv2.zarr_cells(self.spark, self.zpath).select(
                F.col("row").cast("long"), F.col("col").cast("long"), F.col("z").cast("double"))))
        elif n == 3:
            for site in self.phases[3][1]:
                df = timed_df(call, site, lambda: self.read(site))
                if site not in kept:
                    kept[site] = df.select("row", "col", "z").toPandas()
        else:
            timed_df(call, "bspline.interpolate_points", lambda: bspline.interpolate_points(
                self.bspline_points, self.tiles, spec, broadcast_tiles=True))
            segs = timed_df(call, "contour.segments",
                            lambda: contour.segments(self.cells, self.levels), persist=True)
            try:
                if "segments" not in kept:
                    kept["segments"] = segs.toPandas()
                lines = timed_df(call, "contour.polylines",
                                 lambda: contour.polylines(segs, self.levels), persist=True)
                try:
                    timed_df(call, "contour.simplify", lambda: contour.simplify(lines, SIMPLIFY_TOL))
                finally:
                    lines.unpersist()
            finally:
                segs.unpersist()

    def read(self, site: str) -> DataFrame:
        """The seeded point batch or window, read from the persisted tile store."""
        if site == "store.point_read":
            points = self.spark.createDataFrame(self.inp["points"], "row long, col long")
            return store.point_read(points, self.tiles, self.spec)
        window = self.spark.createDataFrame(
            [self.inp["window"]], "win_id long, row0 long, col0 long, n_rows long, n_cols long")
        return store.block_read(window, self.tiles, self.spec)

    def check(self, first: dict) -> set[str]:
        """The built tiles, the point reads and the block reads equal the
        input DEM. Round trips: decompress(compress(tiles)) and the GVRS
        read-back equal the built tiles; the Zarr read-back equals the cells.
        contour.segments equals its DuckDB twin on the same cells."""
        import duckdb

        spec, z, kept, bad = self.spec, self.inp["dem"], self.kept, set()
        tr, tc = spec.n_rows_in_tile, spec.n_cols_in_tile
        tiles = kept["tiles"]
        if len(tiles) != self.inp["sizes"]["tiles"] or any(
                not np.array_equal(np.asarray(t.cells, dtype=np.float64),
                                   z[t.tile_row * tr:(t.tile_row + 1) * tr,
                                     t.tile_col * tc:(t.tile_col + 1) * tc].ravel())
                for t in tiles.itertuples(index=False)):
            bad.add("store.build_tiles")
        ref = first.get(("store.build_tiles", None))
        for write, read in (("tilecodec.compress_tiles", "tilecodec.decompress_tiles"),
                            ("gvrsfile.write_gvrs", "gvrsfile.read_gvrs")):
            if ref is None or first.get((read, None)) != ref:
                bad |= {write, read}
        if first.get(("zarrv2.zarr_cells", None)) != self.cells_digest:
            bad |= {"zarrv2.write_zarr", "zarrv2.zarr_cells"}
        _, _, _, win_rows, win_cols = self.inp["window"]
        for site, n in (("store.point_read", len(self.inp["points"])),
                        ("store.block_read", win_rows * win_cols)):
            pdf = kept[site]
            want = z[pdf["row"].to_numpy(), pdf["col"].to_numpy()]
            if len(pdf) != n or not np.array_equal(pdf["z"].to_numpy(np.float64), want):
                bad.add(site)
        con = duckdb.connect()
        grid = f"SELECT row, col, z FROM read_parquet('{self.inp['cells']}/data.parquet')"
        got = con.execute(contour.segments_duckdb_sql(grid, self.levels)).df()
        con.close()
        segs = kept["segments"]
        if segs.empty or rows(got, list(segs.columns)) != rows(segs, list(segs.columns)):
            bad.add("contour.segments")
        return bad

    def layer_ratios(self) -> dict:
        report = tilecodec.compression_report(self.compressed).collect()
        n_tiles = sum(r["n_tiles"] for r in report)
        bits = 8.0 * sum(r["total_bytes"] for r in report) / sum(r["total_cells"] for r in report)
        lsop = sum(r["n_tiles"] for r in report if "lsop" in str(r["codec"]).lower())
        return {"tilecodec.compress_tiles.lsop_tile_frac": lsop / n_tiles,
                "tilecodec.compress_tiles.bits_per_sample": bits}


WORKLOADS = {w.name: w for w in (Docs, Raster)}
# every <module>.<function> call site, in workload and phase order
ALL_SITES = [site for w in WORKLOADS.values() for _, sites in w.phases.values() for site in sites]
