"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed, so one seed always gives the
same bytes. The program under test only ever sees the files written by
`write_inputs` (and the small probe/anchor lists it returns).

docs
    `data/documents.parquet` (a copy of the 500-document `documents.parquet`
    test table at scale factor 0.01, whose near-duplicate pairs make many
    tiny connected components),
    amplified `DOCS_REPLICAS` times. Every replica gets a seed-drawn doc_id
    offset (which moves its span geometry) and a seed-drawn letter
    permutation, so replicas share no shingles and near-dup pairs and BPE
    word types grow linearly with the replica count.
raster
    A fixed, tile-aligned window of the engine's global DEM (`synth.dem_sql`
    on `GLOBAL_GRID` cells, evaluated by DuckDB), cut into `GLOBAL_GRID`'s
    120 x 180-cell tiles, stored as (row, col, z) cells. The window is the
    same for every seed, so that every seed does the same codec and contour
    work. Plus a seeded point-read batch, a read window, B-spline sample
    points and five half-integer contour levels jittered around fixed
    elevations.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DOCS = os.path.join(HERE, "data", "documents.parquet")
ALPHABET = "abcdefghijklmnopqrstuvwxyz"

DOCS_REPLICAS = 12        # x 500 base documents
REPLICA_IDS = 1_000_000   # replica r holds doc ids in [r, r + 1) * REPLICA_IDS
KNN_ANCHORS = 32

# GLOBAL_GRID is 15 x 20 tiles of 120 x 180 cells; the raster workload reads
# a TILES_DOWN x TILES_ACROSS window of it, at tile (ORIGIN_TILE_ROW, ORIGIN_TILE_COL)
TILE_ROWS, TILE_COLS = 120, 180
TILES_DOWN, TILES_ACROSS = 3, 4
ORIGIN_TILE_ROW, ORIGIN_TILE_COL = 5, 8
GRID_ROWS, GRID_COLS = TILES_DOWN * TILE_ROWS, TILES_ACROSS * TILE_COLS
READ_POINTS = 64          # one seeded point batch and one seeded window
BSPLINE_POINTS = 50_000
LEVELS = (-2500.0, -1000.0, 0.0, 1000.0, 2500.0)   # jittered by up to +-100 m


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a stream never
    shifts the draws of another."""
    key = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:8], "little")
    return np.random.default_rng(key)


# --- docs ---------------------------------------------------------------------

def docs_table(seed: int, replicas: int = DOCS_REPLICAS) -> pa.Table:
    base = pq.read_table(BASE_DOCS)
    span = int(pc.max(base.column("doc_id")).as_py()) + 1
    texts = base.column("text").to_pylist()
    rng = _rng(seed, "docs")
    parts = []
    for r in range(replicas):
        perm = "".join(ALPHABET[i] for i in rng.permutation(len(ALPHABET)))
        table = str.maketrans(ALPHABET, perm)
        offset = r * REPLICA_IDS + int(rng.integers(0, REPLICA_IDS - span))
        parts.append(pa.table({
            "doc_id": pc.add(base.column("doc_id"), offset),
            "text": pa.array([t.translate(table) for t in texts], pa.string()),
            "lang": base.column("lang"),
            "source": base.column("source"),
            "n_chars": base.column("n_chars"),
        }))
    return pa.concat_tables(parts).combine_chunks()


def n_spans(docs: pa.Table) -> int:
    """Spans per the engine's interleaving rule: ceil(words / 8) per doc."""
    return sum((t.count(" ") + 1 + 7) // 8 for t in docs.column("text").to_pylist())


def knn_anchors(seed: int, n: int = KNN_ANCHORS) -> list[tuple[int, float, float]]:
    rng = _rng(seed, "anchors")
    lat = np.degrees(np.arcsin(rng.uniform(-0.97, 0.97, n)))
    lon = rng.uniform(-180.0, 180.0, n)
    return [(i, float(a), float(o)) for i, (a, o) in enumerate(zip(lat, lon))]


# --- raster -------------------------------------------------------------------

ORIGIN = (ORIGIN_TILE_ROW * TILE_ROWS, ORIGIN_TILE_COL * TILE_COLS)


def dem() -> np.ndarray:
    """The engine's DEM on the window, as a GRID_ROWS x GRID_COLS array."""
    import duckdb

    from gridfour_spark import synth

    r0, c0 = ORIGIN
    sql = (f"SELECT {synth.dem_sql(f'(range // {GRID_COLS}) + {r0}', f'(range % {GRID_COLS}) + {c0}')}"
           f" AS z FROM range({GRID_ROWS * GRID_COLS}) ORDER BY range")
    con = duckdb.connect()
    try:
        z = con.execute(sql).fetchnumpy()["z"]
    finally:
        con.close()
    return np.asarray(z, dtype=np.int32).reshape(GRID_ROWS, GRID_COLS)


def cells_table(z: np.ndarray) -> pa.Table:
    n_rows, n_cols = z.shape
    return pa.table({
        "row": np.repeat(np.arange(n_rows, dtype=np.int64), n_cols),
        "col": np.tile(np.arange(n_cols, dtype=np.int64), n_rows),
        "z": z.ravel(),
    })


def read_points(seed: int) -> list[tuple[int, int]]:
    rng = _rng(seed, "points")
    return [(int(r), int(c)) for r, c in zip(rng.integers(0, GRID_ROWS, READ_POINTS),
                                             rng.integers(0, GRID_COLS, READ_POINTS))]


def read_window(seed: int) -> tuple[int, int, int, int, int]:
    """(win_id, row0, col0, n_rows, n_cols), inside the grid."""
    rng = _rng(seed, "windows")
    h, w = (int(v) for v in rng.integers(16, 65, 2))
    return 0, int(rng.integers(0, GRID_ROWS - h)), int(rng.integers(0, GRID_COLS - w)), h, w


def bspline_points(seed: int, n: int = BSPLINE_POINTS) -> pa.Table:
    """(pt_id, grid_row_f, grid_col_f) away from the border stencil."""
    rng = _rng(seed, "bspline")
    return pa.table({
        "pt_id": np.arange(n, dtype=np.int64),
        "grid_row_f": rng.uniform(2.0, GRID_ROWS - 3.0, n),
        "grid_col_f": rng.uniform(2.0, GRID_COLS - 3.0, n),
    })


def contour_levels(seed: int) -> list[float]:
    """LEVELS, each moved by a seeded whole number of metres, plus one half."""
    rng = _rng(seed, "levels")
    return [lv + float(rng.integers(-100, 101)) + 0.5 for lv in LEVELS]


# --- writing ------------------------------------------------------------------

def _digest(h, table: pa.Table) -> None:
    for name in table.column_names:
        h.update(name.encode())
        col = table.column(name).combine_chunks()
        if pa.types.is_string(col.type):
            h.update("\x00".join(col.to_pylist()).encode())
        else:
            h.update(np.ascontiguousarray(col.to_numpy()).tobytes())


def write_inputs(workload: str, seed: int, out_dir: str) -> dict:
    """Generate one workload's inputs under out_dir. Returns the paths, the
    in-memory probe lists, the input sizes and a content hash."""
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256(workload.encode())
    tables: dict[str, pa.Table] = {}
    inp: dict = {"dir": out_dir}
    if workload == "docs":
        docs = docs_table(seed)
        tables["docs"] = docs
        inp["anchors"] = knn_anchors(seed)
        h.update(repr(inp["anchors"]).encode())
        inp["sizes"] = {"docs": docs.num_rows, "spans": n_spans(docs), "anchors": KNN_ANCHORS}
    elif workload == "raster":
        z = dem()
        inp["dem"] = z
        inp["origin"] = ORIGIN
        inp["points"] = read_points(seed)
        inp["window"] = read_window(seed)
        inp["levels"] = contour_levels(seed)
        h.update(repr((inp["origin"], inp["points"], inp["window"], inp["levels"])).encode())
        tables["cells"] = cells_table(z)
        tables["bspline"] = bspline_points(seed)
        inp["sizes"] = {"cells": int(z.size), "tiles": TILES_DOWN * TILES_ACROSS,
                        "read_points": READ_POINTS, "read_windows": 1,
                        "bspline_points": BSPLINE_POINTS,
                        "levels": len(LEVELS)}
    else:
        raise ValueError(f"unknown workload {workload!r}")
    for name, table in sorted(tables.items()):
        _digest(h, table)
        path = os.path.join(out_dir, name)
        os.makedirs(path, exist_ok=True)
        # the engine reads documents from <dir>/documents.parquet
        fname = "documents.parquet" if name == "docs" else "data.parquet"
        pq.write_table(table, os.path.join(path, fname))
        inp[name] = path
    inp["hash"] = h.hexdigest()
    return inp
