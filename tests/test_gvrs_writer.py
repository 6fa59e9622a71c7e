"""Binary GVRS WRITER parity: stores written by the engine must be readable
by the REFERENCE Java implementation (bidirectional format parity; the
reader half is pinned by test_gvrsfile.py).

Two oracles per store:
  1. The engine's own binary reader (itself golden-verified against the
     reference sample files) — always runs.
  2. The COMPILED reference reader (tools/GoldenGvrs.java over unmodified
     reference sources) run live via subprocess — skipped when no JDK or
     reference sources are available.

Covers: int/short/float/ICF elements, compressed (GvrsHuffman/GvrsDeflate/
LSOP12 race) and uncompressed payloads, nulls, partial tile coverage,
metadata records, geographic + cartesian headers.
"""

from __future__ import annotations

import glob
import os
import struct
import subprocess
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from gridfour_spark import gvrsfile as G
from gridfour_spark import store
from gridfour_spark.spec import GridSpec

REF_SRC = "/root/reference/core/src/main/java"
CLASSES = "/tmp/gvrsbuild/classes"


def _ensure_reference_reader() -> str | None:
    """Compile the unmodified reference + the GoldenGvrs dump tool once per
    machine; return the classpath, or None when impossible (no JDK/sources)."""
    try:
        if not os.path.exists(os.path.join(CLASSES, "org/gridfour/gvrs/GvrsFile.class")):
            if not os.path.isdir(REF_SRC):
                return None
            os.makedirs(CLASSES, exist_ok=True)
            srcs = glob.glob(REF_SRC + "/**/*.java", recursive=True)
            subprocess.run(
                ["javac", "-d", CLASSES, *srcs], check=True, capture_output=True, timeout=300
            )
        if not os.path.exists(os.path.join(CLASSES, "GoldenGvrs.class")):
            subprocess.run(
                ["javac", "-encoding", "utf8", "-cp", CLASSES, "-d", CLASSES,
                 os.path.join(os.path.dirname(__file__), "..", "tools", "GoldenGvrs.java")],
                check=True, capture_output=True, timeout=120,
            )
        return CLASSES
    except (OSError, subprocess.SubprocessError):
        return None


def _java_read(path: str):
    """-> {element: float64 grid (NaN where fill)} via the reference reader."""
    cp = _ensure_reference_reader()
    if cp is None:
        pytest.skip("reference Java reader unavailable")
    out = subprocess.run(
        ["java", "-cp", cp, "GoldenGvrs", path], check=True, capture_output=True, timeout=300
    ).stdout.decode()
    lines = out.splitlines()
    _, _name, nr, nc, ne = lines[0].split()
    nr, nc, ne = int(nr), int(nc), int(ne)
    i = 1
    grids = {}
    for _ in range(ne):
        _, ename, kind = lines[i].split()
        i += 1
        rows = []
        for r in range(nr):
            toks = lines[i].split()
            i += 1
            if kind == "f":
                bits = np.array([int(t, 16) for t in toks], dtype=np.uint32)
                rows.append(bits.view(np.float32).astype(np.float64))
            else:
                rows.append(np.array([int(t) for t in toks], dtype=np.float64))
        grids[ename] = np.vstack(rows)
    return grids


def _write(spark, spec, element, grid, **kw):
    nr, nc = grid.shape
    rows = [
        (int(r), int(c), None if np.isnan(grid[r, c]) else float(grid[r, c]))
        for r in range(nr)
        for c in range(nc)
    ]
    cells = spark.createDataFrame(rows, "row int, col int, z double")
    tiles = store.build_tiles(cells, spec)
    blocks = G.gvrs_export_blocks(tiles, spec, element, compress=kw.get("compressed", True))
    d = tempfile.mkdtemp(prefix="gvrs_w_")
    path = os.path.join(d, "out.gvrs")
    G.write_gvrs(path, spec, element, blocks, **kw)
    return path


def _engine_read(path):
    info = G.parse_gvrs_header(path)
    tr, tc = info.tile_rows, info.tile_cols
    g = np.full((info.n_rows_of_tiles * tr, info.n_cols_of_tiles * tc), np.nan)
    for ti, arrays in G.read_tile_arrays(path, info, sorted(info.tile_positions)):
        trow, tcol = divmod(ti, info.n_cols_of_tiles)
        g[trow * tr : (trow + 1) * tr, tcol * tc : (tcol + 1) * tc] = arrays[0].reshape(tr, tc)
    return info, g[: info.n_rows, : info.n_cols]


SPEC = GridSpec(
    n_rows=60, n_cols=80, n_rows_in_tile=25, n_cols_in_tile=30,
    x0=0.5, y0=0.5, cell_size_x=1.0, cell_size_y=1.0,
)


def _ramp(nr, nc):
    r, c = np.meshgrid(np.arange(nr), np.arange(nc), indexing="ij")
    return (r * nc + c - 1).astype(np.float64)


@pytest.mark.parametrize("etype", ["int", "short", "icf", "float"])
def test_round_trip_through_engine_reader(spark, etype):
    grid = _ramp(60, 80)
    if etype == "short":
        grid = grid - 2400  # keep in int16 range
    if etype == "float":
        grid = np.sin(grid * 0.01) * 100
    e = G.default_element("z", etype)
    if etype == "icf":
        e.scale, e.offset = 100.0, 0.0
    path = _write(spark, SPEC, e, grid)
    info, got = _engine_read(path)
    assert (info.n_rows, info.n_cols) == (60, 80)
    if etype == "float":
        np.testing.assert_array_equal(got, grid.astype(np.float32).astype(np.float64))
    elif etype == "icf":
        np.testing.assert_allclose(got, grid, atol=1.01 / e.scale)
    else:
        np.testing.assert_array_equal(got, grid)


def test_reference_java_reads_engine_store_int(spark):
    """The compiled reference implementation opens an engine-written
    COMPRESSED int store and reads every cell exactly."""
    grid = _ramp(60, 80)
    e = G.default_element("z", "int")
    path = _write(spark, SPEC, e, grid)
    got = _java_read(path)["z"]
    np.testing.assert_array_equal(got, grid)


def test_reference_java_reads_engine_store_float(spark):
    grid = (np.sin(_ramp(60, 80) * 0.01) * 100).astype(np.float32).astype(np.float64)
    e = G.default_element("z", "float")
    path = _write(spark, SPEC, e, grid)
    got = _java_read(path)["z"]
    np.testing.assert_array_equal(got.astype(np.float32), grid.astype(np.float32))


def test_reference_java_reads_nulls_and_partial_tiles(spark):
    """Null cells (fill) and a grid that does not evenly divide the tile size
    (edge tiles padded with fill) survive the Java read; readValue returns
    the element fill for unset cells."""
    spec = GridSpec(
        n_rows=55, n_cols=70, n_rows_in_tile=25, n_cols_in_tile=30,
        x0=0.0, y0=0.0, cell_size_x=1.0, cell_size_y=1.0,
    )
    grid = _ramp(55, 70)
    grid[np.arange(55), (np.arange(55) * 7) % 70] = np.nan  # punched holes
    e = G.default_element("z", "int")
    path = _write(spark, spec, e, grid)
    got = _java_read(path)["z"]
    nan = np.isnan(grid)
    assert (got[nan] == e.fill).all()
    np.testing.assert_array_equal(got[~nan], grid[~nan])


def test_reference_java_reads_icf_lsop_candidate(spark):
    """Smooth ICF surface (LSOP's home turf) — whatever codec the race picks,
    the reference must decode it; values within the ICF quantization rule."""
    spec = GridSpec(
        n_rows=101, n_cols=101, n_rows_in_tile=101, n_cols_in_tile=101,
        x0=0.0, y0=0.0, cell_size_x=0.01, cell_size_y=0.01,
    )
    r, c = np.meshgrid(np.arange(101), np.arange(101), indexing="ij")
    grid = np.sin(c * 0.01 * np.pi) * np.sin(r * 0.01 * np.pi)
    e = G.default_element("z", "icf", scale=46340.0, offset=0.0)
    path = _write(spark, spec, e, grid)
    got = _java_read(path)["z"]
    np.testing.assert_allclose(got, grid, atol=1.01 / e.scale)


def test_metadata_records_read_back(spark):
    grid = _ramp(60, 80)
    e = G.default_element("z", "int")
    wkt = b"PROJCS[test]"
    extra = [("WKT", 0, 8, struct.pack("<i", len(wkt)) + wkt, "map spec")]
    path = _write(spark, SPEC, e, grid, extra_metadata=extra)
    recs = {r["name"]: r for r in G.read_metadata(path)}
    assert recs["WKT"]["value"] == "PROJCS[test]"
    assert recs["GvrsCompressionCodecs"]["value"].startswith("GvrsHuffman|GvrsDeflate")


def test_uncompressed_store_standard_payloads(spark):
    grid = _ramp(60, 80)
    e = G.default_element("z", "int")
    path = _write(spark, SPEC, e, grid, compressed=False)
    info = G.parse_gvrs_header(path)
    assert info.codec_ids == []
    sizes = G.tile_payload_sizes(path, info)
    std = info.standard_size_for(e)
    # without a codec list the writer must emit standard-size payloads only
    assert all(s[0] == std for s in sizes.values())
    _, got = _engine_read(path)
    np.testing.assert_array_equal(got, grid)


def test_reference_java_reads_multi_element_store(spark):
    """Sample08-style mixed types: short + float elements in one store,
    columnar within each tile record, both read back exactly by the
    reference implementation."""
    nr, nc = 40, 60
    spec = GridSpec(
        n_rows=nr, n_cols=nc, n_rows_in_tile=20, n_cols_in_tile=30,
        x0=0.0, y0=0.0, cell_size_x=1.0, cell_size_y=1.0,
    )
    ramp = _ramp(nr, nc)
    fgrid = np.sin(ramp * 0.01).astype(np.float32).astype(np.float64) * 50
    rows = [
        (int(r), int(c), "s", float(ramp[r, c]))
        for r in range(nr) for c in range(nc)
    ] + [
        (int(r), int(c), "f", float(fgrid[r, c]))
        for r in range(nr) for c in range(nc)
    ]
    cells = spark.createDataFrame(rows, "row int, col int, element string, z double")
    tiles = store.build_tiles(cells, spec, element_col="element")
    es = G.default_element("s", "short")
    ef = G.default_element("f", "float")
    blocks = None
    for e in (es, ef):
        b = G.gvrs_export_blocks(
            tiles.filter(F.col("element") == e.name), spec, e
        ).withColumn("element", F.lit(e.name))
        blocks = b if blocks is None else blocks.unionByName(b)
    import tempfile

    d = tempfile.mkdtemp(prefix="gvrs_w_")
    path = os.path.join(d, "multi.gvrs")
    G.write_gvrs(path, spec, [es, ef], blocks)

    info = G.parse_gvrs_header(path)
    assert [e.name for e in info.elements] == ["s", "f"]
    got = _java_read(path)
    np.testing.assert_array_equal(got["s"], ramp)
    np.testing.assert_array_equal(
        got["f"].astype(np.float32), fgrid.astype(np.float32)
    )


def test_reference_inspector_passes_checksummed_store(spark):
    """checksum=True stamps a CRC32C on every record plus the header
    (region [16, content-4), GvrsFile.tabulateChecksumFromHeader); the
    reference's own GvrsInspector must pass the whole file."""
    cp = _ensure_reference_reader()
    if cp is None:
        pytest.skip("reference Java reader unavailable")
    shim = os.path.join(tempfile.gettempdir(), "InspectGvrs.java")
    with open(shim, "w") as f:
        f.write(
            "import java.io.File;\n"
            "import org.gridfour.gvrs.GvrsInspector;\n"
            "public class InspectGvrs {\n"
            "  public static void main(String[] a) throws Exception {\n"
            "    GvrsInspector ins = new GvrsInspector(new File(a[0]));\n"
            "    System.out.println(ins.didFileFailInspection() + \" \"\n"
            "        + ins.wasEntireFileInspected());\n"
            "  }\n"
            "}\n"
        )
    subprocess.run(
        ["javac", "-cp", cp, "-d", cp, shim], check=True, capture_output=True, timeout=120
    )
    grid = _ramp(60, 80)
    e = G.default_element("z", "int")
    path = _write(spark, SPEC, e, grid, checksum=True)
    out = subprocess.run(
        ["java", "-cp", cp, "InspectGvrs", path],
        check=True, capture_output=True, timeout=120,
    ).stdout.decode().split()
    assert out == ["false", "true"]  # not failed; entire file inspected


def test_sharded_export_executor_side(spark):
    """write_gvrs_shards: one .gvrs per shard assembled in executors, each
    with a sparse tile directory over the SHARED global grid; the union of
    shard reads reproduces the full grid, and a single shard opens in the
    reference reader standalone."""
    import tempfile

    grid = _ramp(60, 80)
    e = G.default_element("z", "int")
    rows = [
        (int(r), int(c), float(grid[r, c])) for r in range(60) for c in range(80)
    ]
    cells = spark.createDataFrame(rows, "row int, col int, z double")
    tiles = store.build_tiles(cells, SPEC)
    blocks = G.gvrs_export_blocks(tiles, SPEC, e)
    d = tempfile.mkdtemp(prefix="gvrs_shards_")
    manifest = {r.shard: (r.path, r.n_tiles) for r in
                G.write_gvrs_shards(blocks, SPEC, e, d, n_shards=4).collect()}
    # 9 tiles (3x3, partial edges) over 4 shards, each exactly once
    assert sum(n for _, n in manifest.values()) == 9

    cells_back = G.read_gvrs_shards(spark, d)
    tot = cells_back.selectExpr(
        "CAST(SUM(aggregate(filter(values, x -> x IS NOT NULL AND NOT isnan(x)),"
        " CAST(0 AS DOUBLE), (a, x) -> a + x)) AS LONG) AS s"
    ).collect()[0].s
    assert tot == int(grid.sum())

    # one shard standalone through the reference reader: values where the
    # shard's tiles live, fill elsewhere
    spath = manifest[0][0]
    got = _java_read(spath)["z"]
    info = G.parse_gvrs_header(spath)
    assert sorted(info.tile_positions) == [0, 4, 8]  # pmod(tile_index,4)==0
    np.testing.assert_array_equal(got[:25, :30], grid[:25, :30])      # tile 0
    np.testing.assert_array_equal(got[25:50, 30:60], grid[25:50, 30:60])  # tile 4
    np.testing.assert_array_equal(got[50:, 60:], grid[50:, 60:])      # tile 8
    assert (got[:25, 30:] == e.fill).all()  # tiles 1,2 live in other shards


def test_distributed_inspector(spark):
    """inspect_gvrs: per-record CRC audit in executors. A checksummed store
    passes everywhere; flipping one payload byte fails exactly that tile;
    an unchecksummed store reports ok=NULL (not verifiable), never failed."""
    grid = _ramp(60, 80)
    e = G.default_element("z", "int")
    path = _write(spark, SPEC, e, grid, checksum=True)
    rows = G.inspect_gvrs(spark, path).collect()
    kinds = {r.kind for r in rows}
    # header + 2 metadata records + 2 directories + 9 tiles
    assert len(rows) == 14, kinds
    assert "tile_directory" in kinds and "metadata_directory" in kinds
    assert any(k.startswith("metadata:GvrsJavaCodecs") for k in kinds)
    assert all(r.ok for r in rows)

    # corrupting the tile DIRECTORY is caught too (GvrsInspector walks
    # every record, not just tiles)
    info0 = G.parse_gvrs_header(path)
    raw0 = bytearray(open(path, "rb").read())
    raw0[info0.tile_dir_pos + 9] ^= 0xFF
    p_dir = path + ".dircorrupt"
    open(p_dir, "wb").write(bytes(raw0))
    bad = [r.kind for r in G.inspect_gvrs(spark, p_dir).collect() if r.ok is False]
    assert bad == ["tile_directory"], bad

    # corrupt one byte inside the FIRST tile's payload area
    info = G.parse_gvrs_header(path)
    pos = min(info.tile_positions.values()) + 9
    raw = bytearray(open(path, "rb").read())
    raw[pos] ^= 0xFF
    open(path, "wb").write(bytes(raw))
    rows = {r.kind: r.ok for r in G.inspect_gvrs(spark, path).collect()}
    assert sum(1 for v in rows.values() if v is False) == 1
    assert rows["header"] is True

    path2 = _write(spark, SPEC, e, grid, checksum=False)
    rows2 = G.inspect_gvrs(spark, path2).collect()
    assert all(r.ok is None for r in rows2)


def test_reference_java_reads_huffman_tile(spark):
    """GvrsHuffman race winners export in the REFERENCE framing:
    CodecHuffman reads tree bits from byte 10, so an engine packing must
    carry no bit count there; export stores the packing unchanged
    (code-review round 3 regression)."""
    import numpy as np

    from gridfour_spark import compress as C

    rng = np.random.default_rng(11)
    nr = nc = 40
    v = np.cumsum(rng.integers(-1, 2, size=nr * nc)).astype(np.int64)
    r = C.encode_tile(v, nr, nc, use_lsop=True)  # the export's race
    assert r["kept"] and r["codec"] == "huffman_gvrs"  # the scenario is real

    spec = GridSpec(
        n_rows=nr, n_cols=nc, n_rows_in_tile=nr, n_cols_in_tile=nc,
        x0=0.0, y0=0.0, cell_size_x=1.0, cell_size_y=1.0,
    )
    grid = v.reshape(nr, nc).astype(np.float64)
    path = _write(spark, spec, G.default_element("z", "int"), grid)
    info = G.parse_gvrs_header(path)
    ((ti, arrays),) = G.read_tile_arrays(path, info, sorted(info.tile_positions))
    np.testing.assert_array_equal(arrays[0].astype(np.int64), v)
    got = _java_read(path)["z"]
    np.testing.assert_array_equal(got.ravel().astype(np.int64), v)


def test_read_gvrs_tile_window_pushdown(spark):
    """row/col window pruning happens at the DIRECTORY: only intersecting
    tiles are decoded (the binary source's partition-pruning analogue)."""
    grid = _ramp(60, 80)
    e = G.default_element("z", "int")
    path = _write(spark, SPEC, e, grid)  # 3x3 tiles of 25x30
    full = G.read_gvrs(spark, path)
    assert full.select("tile_index").distinct().count() == 9
    # window inside tile (1,1) only
    win = G.read_gvrs(spark, path, row_range=(30, 45), col_range=(35, 55))
    tiles = {r.tile_index for r in win.select("tile_index").distinct().collect()}
    assert tiles == {4}
    # window straddling two tile columns
    win2 = G.read_gvrs(spark, path, row_range=(0, 10), col_range=(25, 35))
    tiles2 = {r.tile_index for r in win2.select("tile_index").distinct().collect()}
    assert tiles2 == {0, 1}
    # values from the pruned read match the full read on the window
    import numpy as np

    cells = win.selectExpr(
        "tile_row", "tile_col", "posexplode(values) AS (pos, z)"
    ).selectExpr(
        "tile_row * 25 + CAST(pos / 30 AS INT) AS row",
        "tile_col * 30 + pos % 30 AS col",
        "z",
    ).where("row >= 30 AND row < 45 AND col >= 35 AND col < 55")
    got = {(r.row, r.col): r.z for r in cells.collect()}
    assert len(got) == 15 * 20
    for (r, c), z in got.items():
        assert z == grid[r, c]


def test_gvrs_to_geotiff_transcode(spark):
    """Interop chain: engine-written GVRS -> GeoTIFF/COG; model coordinates
    survive (north-up flip included), values exact."""
    from gridfour_spark import geotiff

    grid = _ramp(60, 80)
    e = G.default_element("z", "int")
    path = _write(spark, SPEC, e, grid)
    tiff = path + ".tif"
    G.gvrs_to_geotiff(spark, path, tiff, overviews=[2])
    spec2 = geotiff.spec_from_geotiff(tiff)
    assert (spec2.n_rows, spec2.n_cols) == (60, 80)
    # north-up storage: y0 of the TIFF spec is the TOP row's center = the
    # GVRS grid's LAST row (cell_size_y positive in the GVRS spec)
    assert abs(spec2.y0 - (SPEC.y0 + 59 * SPEC.cell_size_y)) < 1e-9
    got = (
        geotiff.read_geotiff_cells(spark, tiff).orderBy("row", "col").collect()
    )
    arr = np.array([r.z for r in got], dtype=np.int64).reshape(60, 80)
    np.testing.assert_array_equal(arr, grid[::-1, :].astype(np.int64))
    assert len(geotiff.parse_ifds(tiff)) == 2  # + one overview level


def test_read_gvrs_empty_window_selects_nothing(spark):
    """A degenerate half-open window (hi <= lo) must touch ZERO tiles —
    round-3 review: the old pruning math mapped it onto one tile row/col."""
    grid = _ramp(60, 80)
    e = G.default_element("z", "int")
    path = _write(spark, SPEC, e, grid)
    for rr, cc in [((30, 30), None), (None, (35, 35)), ((40, 30), (0, 80))]:
        win = G.read_gvrs(spark, path, row_range=rr, col_range=cc)
        assert win.count() == 0
    # sanity: a 1-cell window still selects its single tile
    one = G.read_gvrs(spark, path, row_range=(30, 31), col_range=(35, 36))
    assert {r.tile_index for r in one.select("tile_index").collect()} == {4}


def test_gvrs_to_geotiff_float_roundtrip(spark):
    """Float stores transcode to SampleFormat=3 float32: values round-trip
    exactly (float32), fill cells survive as NaN (round-3 review: the old
    path cast everything to int32 with fill->0)."""
    from gridfour_spark import geotiff

    grid = _ramp(60, 80) / 8.0
    grid[3, 7] = np.nan
    grid[50:55, 10:20] = np.nan
    e = G.default_element("z", "float")
    path = _write(spark, SPEC, e, grid)
    tiff = path + ".tif"
    G.gvrs_to_geotiff(spark, path, tiff, overviews=[2])
    ifds = geotiff.parse_ifds(tiff)
    assert [i["sample_format"] for i in ifds] == [3, 3]
    got = geotiff.read_geotiff_cells(spark, tiff).orderBy("row", "col").collect()
    arr = np.array([r.z for r in got], dtype=np.float64).reshape(60, 80)
    np.testing.assert_allclose(
        arr, grid[::-1, :].astype(np.float32).astype(np.float64), equal_nan=True
    )


def test_gvrs_to_geotiff_large_store_tilewise(spark, monkeypatch):
    """Transcode at GLOBAL_GRID scale (1800x3600 = 6.48M cells): assembly
    must go through whole-tile arrays (_fetch_blocks), never a per-cell
    collect — gvrs_cells is poisoned to prove the Row path is gone."""
    from gridfour_spark import synth
    from gridfour_spark.spec import GLOBAL_GRID

    cells = synth.grid_df(spark, GLOBAL_GRID)  # distributed generator
    tiles = store.build_tiles(cells, GLOBAL_GRID)
    e = G.default_element("z", "int")
    blocks = G.gvrs_export_blocks(tiles, GLOBAL_GRID, e, compress=False)
    d = tempfile.mkdtemp(prefix="gvrs_big_")
    path = os.path.join(d, "big.gvrs")
    G.write_gvrs(path, GLOBAL_GRID, e, blocks)

    def _no_cells(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("gvrs_to_geotiff must not use the per-cell view")

    monkeypatch.setattr(G, "gvrs_cells", _no_cells)
    tiff = path + ".tif"
    G.gvrs_to_geotiff(spark, path, tiff)
    from gridfour_spark import geotiff

    info = geotiff.parse_ifd(tiff)
    assert (info["height"], info["width"]) == (1800, 3600)
    # spot-check a pruned window of values against the analytic DEM
    win = (
        geotiff.read_geotiff_cells(spark, tiff)
        .where("row >= 890 AND row < 900 AND col >= 1790 AND col < 1800")
        .collect()
    )
    # TIFF stored north-up: stored row r corresponds to grid row 1799 - r
    expect = {
        (r.row, r.col): float(
            spark.sql(
                "SELECT " + synth.dem_sql(str(1799 - r.row), str(r.col))
            ).collect()[0][0]
        )
        for r in win[:5]
    }
    for r in win[:5]:
        assert int(r.z) == int(expect[(r.row, r.col)])


def _payload_sizes(path):
    """{(tile_index, element): payload length} parsed from the record bytes."""
    info = G.parse_gvrs_header(path)
    out = {}
    with open(path, "rb") as f:
        for ti, pos in info.tile_positions.items():
            f.seek(pos)
            f.read(4)
            for e in info.elements:
                n = struct.unpack("<i", f.read(4))[0]
                out[(ti, e.name)] = (n, f.read(n))
    return out


def test_update_gvrs_verbatim_copy_and_reference_read(spark):
    """Read-merge-rewrite update parity (round-3 item 4): changed cells show
    new values through the COMPILED REFERENCE reader; untouched tiles are
    byte-identical payload copies (no re-encode); all-fill merges free the
    tile; metadata records carry over."""
    grid = _ramp(60, 80)
    e = G.default_element("z", "int")
    src = _write(spark, SPEC, e, grid, extra_metadata=[
        ("MyNote", 7, 9, struct.pack("<i", 5) + b"hello", "carried"),
    ])
    before = _payload_sizes(src)

    # delta: bump two cells in tile (0,0); erase ALL of tile (1,1) to fill;
    # nothing else touched
    delta_rows = [(0, 0, 999.0), (24, 29, -5.0)]
    delta_rows += [(r, c, None) for r in range(25, 50) for c in range(30, 60)]
    delta = spark.createDataFrame(delta_rows, "row long, col long, z double")
    dst = src + ".updated.gvrs"
    stats = G.update_gvrs(spark, src, dst, delta)
    assert set(stats["changed"]) == {0, 4}

    after = _payload_sizes(dst)
    # untouched tiles: byte-identical payloads
    for key in before:
        ti = key[0]
        if ti in (0, 4):
            continue
        assert after[key] == before[key], key
    # tile 4 became all-fill -> freed (absent from the directory)
    assert not any(ti == 4 for ti, _ in after)

    # engine read agrees
    _, g2 = _engine_read(dst)
    assert g2[0, 0] == 999.0
    assert g2[24, 29] == -5.0
    assert np.all(np.isnan(g2[25:50, 30:60]))
    mask = np.ones_like(grid, dtype=bool)
    mask[0, 0] = mask[24, 29] = False
    mask[25:50, 30:60] = False
    np.testing.assert_array_equal(g2[mask], grid[mask])

    # metadata carried
    names = {m["name"]: m for m in G.read_metadata(dst)}
    assert "MyNote" in names and names["MyNote"]["description"] == "carried"

    # the compiled reference reader sees the same post-update grid
    grids = _java_read(dst)
    gj = grids["z"]
    assert gj[0, 0] == 999.0
    # reference readValue returns the element FILL for unset cells
    assert np.all(gj[25:50, 30:60] == e.fill)
    np.testing.assert_array_equal(gj[mask], grid[mask])


def test_update_gvrs_new_tile_allocation(spark):
    """Delta cells landing in a tile absent from the source allocate a new
    tile over fill (the writeTile path for previously-unwritten tiles)."""
    grid = _ramp(60, 80)
    grid[50:, :] = np.nan  # bottom tile row absent (all-fill dropped)
    e = G.default_element("z", "int")
    src = _write(spark, SPEC, e, grid)
    info0 = G.parse_gvrs_header(src)
    assert len(info0.tile_positions) == 6  # 3x3 grid minus absent bottom row

    delta = spark.createDataFrame([(55, 10, 1234.0)], "row long, col long, z double")
    dst = src + ".u2.gvrs"
    G.update_gvrs(spark, src, dst, delta)
    _, g2 = _engine_read(dst)
    assert g2[55, 10] == 1234.0
    assert np.isnan(g2[55, 11])  # rest of the new tile stays fill
    np.testing.assert_array_equal(g2[:50, :], grid[:50, :])


def test_update_gvrs_multi_element_targets_one_band(spark):
    """Delta with an element column updates only that band; the other
    band's payloads stay verbatim even inside the changed tile? No — a
    changed tile re-encodes ALL its bands (tile records are columnar
    within one record), but the VALUES of the untouched band must be
    unchanged, and untouched tiles stay verbatim for both bands."""
    grid_a = _ramp(60, 80)
    grid_b = _ramp(60, 80) * 2.0
    ea = G.default_element("a", "int")
    eb = G.default_element("b", "float")
    rows = [
        (int(r), int(c), float(grid_a[r, c]), float(grid_b[r, c]))
        for r in range(60) for c in range(80)
    ]
    cells = spark.createDataFrame(rows, "row int, col int, a double, b double")
    melted = cells.selectExpr(
        "row", "col", "stack(2, 'a', a, 'b', b) AS (element, z)"
    )
    tiles = store.build_tiles(melted, SPEC, element_col="element")
    from pyspark.sql import functions as F
    blocks = None
    for e in (ea, eb):
        t_e = tiles.filter(F.col("element") == e.name)
        b_e = G.gvrs_export_blocks(t_e, SPEC, e).withColumn("element", F.lit(e.name))
        blocks = b_e if blocks is None else blocks.unionByName(b_e)
    d = tempfile.mkdtemp(prefix="gvrs_me_")
    src = os.path.join(d, "me.gvrs")
    G.write_gvrs(src, SPEC, [ea, eb], blocks)

    delta = spark.createDataFrame(
        [(10, 10, 777.0, "b")], "row long, col long, z double, element string"
    )
    dst = src + ".u.gvrs"
    stats = G.update_gvrs(spark, src, dst, delta)
    assert stats["changed"] == [0]
    before, after = _payload_sizes(src), _payload_sizes(dst)
    for key in before:
        if key[0] != 0:
            assert after[key] == before[key], key
    info = G.parse_gvrs_header(dst)
    tr, tc = info.tile_rows, info.tile_cols
    gs = {n: np.full((75, 90), np.nan) for n in ("a", "b")}
    for ti, arrays in G.read_tile_arrays(dst, info, sorted(info.tile_positions)):
        trow, tcol = divmod(ti, info.n_cols_of_tiles)
        for e, arr in zip(info.elements, arrays):
            gs[e.name][trow * tr:(trow + 1) * tr, tcol * tc:(tcol + 1) * tc] = arr.reshape(tr, tc)
    ga, gb = gs["a"][:60, :80], gs["b"][:60, :80]
    assert gb[10, 10] == 777.0
    np.testing.assert_array_equal(ga, grid_a)  # band a untouched everywhere
    mask = np.ones_like(grid_b, dtype=bool); mask[10, 10] = False
    np.testing.assert_array_equal(gb[mask], grid_b[mask])


def test_update_gvrs_duplicate_delta_deterministic(spark):
    """Round-4 review: duplicate (row, col) delta rows resolve by MAX
    non-null z (erase survives only if all duplicates erase) — the store
    content must be deterministic."""
    grid = _ramp(60, 80)
    e = G.default_element("z", "int")
    src = _write(spark, SPEC, e, grid)
    delta = spark.createDataFrame(
        [(5, 5, 100.0), (5, 5, 300.0), (5, 5, 200.0),
         (6, 6, None), (6, 6, 50.0),
         (7, 7, None), (7, 7, None)],
        "row long, col long, z double",
    )
    dst = src + ".dup.gvrs"
    G.update_gvrs(spark, src, dst, delta)
    _, g2 = _engine_read(dst)
    assert g2[5, 5] == 300.0          # max of duplicates
    assert g2[6, 6] == 50.0           # value beats erase
    assert np.isnan(g2[7, 7])         # all-erase stays erased


def test_update_gvrs_large_metadata_record_carries_fully(spark):
    """Round-4 review: metadata records larger than the old 1 MiB read
    buffer must carry over byte-complete through update_gvrs."""
    grid = _ramp(60, 80)
    e = G.default_element("z", "int")
    blob = bytes(range(256)) * 8192  # 2 MiB unstructured payload
    src = _write(spark, SPEC, e, grid, extra_metadata=[
        ("BigBlob", 1, 10, struct.pack("<i", len(blob)) + blob, "huge"),
    ])
    # sanity: the source itself reads back complete
    m0 = {m["name"]: m for m in G.read_metadata(src)}
    delta = spark.createDataFrame([(0, 0, 7.0)], "row long, col long, z double")
    dst = src + ".big.gvrs"
    G.update_gvrs(spark, src, dst, delta)
    m1 = {m["name"]: m for m in G.read_metadata(dst)}
    assert "BigBlob" in m1
    assert m1["BigBlob"]["value"] == m0["BigBlob"]["value"]
    assert len(bytes.fromhex(m1["BigBlob"]["value"])) == len(blob) + 4


@pytest.mark.parametrize("seed", [1, 7, 23])
def test_update_gvrs_random_deltas_match_numpy_overlay(spark, seed):
    """Property-style check: ANY delta set (values, erases, new tiles,
    duplicates) applied through update_gvrs must equal the numpy overlay
    of the same deltas on the source grid (max-wins duplicate rule)."""
    rng = np.random.RandomState(seed)
    grid = _ramp(60, 80)
    grid[rng.rand(60, 80) < 0.1] = np.nan  # sparse holes in the source
    e = G.default_element("z", "int")
    src = _write(spark, SPEC, e, grid)

    n = 300
    rows = rng.randint(0, 60, n)
    cols = rng.randint(0, 80, n)
    vals = rng.randint(-5000, 5000, n).astype(float)
    vals[rng.rand(n) < 0.25] = np.nan  # erases
    delta_rows = [
        (int(r), int(c), None if np.isnan(v) else float(v))
        for r, c, v in zip(rows, cols, vals)
    ]
    delta = spark.createDataFrame(delta_rows, "row long, col long, z double")
    dst = src + f".rnd{seed}.gvrs"
    G.update_gvrs(spark, src, dst, delta)

    expect = grid.copy()
    best: dict = {}
    for r, c, v in zip(rows, cols, vals):
        key = (int(r), int(c))
        prev = best.get(key)
        # engine rule: max non-null z wins; all-null -> erase
        if np.isnan(v):
            if key not in best:
                best[key] = np.nan
        else:
            best[key] = v if prev is None or np.isnan(prev) else max(prev, v)
    for (r, c), v in best.items():
        expect[r, c] = v

    _, got = _engine_read(dst)
    np.testing.assert_array_equal(np.isnan(got), np.isnan(expect))
    m = ~np.isnan(expect)
    np.testing.assert_array_equal(got[m], expect[m])


def test_update_gvrs_nan_erase_equals_null_erase(spark):
    """Round-5 advice: Spark orders NaN above every number, so without
    normalization a NaN-erase duplicate would beat a real value under
    max(). NaN and NULL erases must behave identically — a value among the
    duplicates wins; all-NaN erases to fill. (pandas NaN becomes NULL at
    the createDataFrame boundary, so the NaN rows are built with SQL.)"""
    grid = _ramp(60, 80)
    e = G.default_element("z", "int")
    src = _write(spark, SPEC, e, grid)
    vals = spark.createDataFrame(
        [(6, 6, 50.0), (8, 8, 70.0)], "row long, col long, z double"
    )
    nans = spark.sql(
        "SELECT * FROM VALUES (6L, 6L, double('NaN')), (7L, 7L, double('NaN')),"
        " (7L, 7L, double('NaN')), (8L, 8L, CAST(NULL AS double))"
        " AS t(row, col, z)"
    )
    dst = src + ".nan.gvrs"
    G.update_gvrs(spark, src, dst, vals.unionByName(nans))
    _, g2 = _engine_read(dst)
    assert g2[6, 6] == 50.0       # real value beats NaN-erase duplicate
    assert np.isnan(g2[7, 7])     # all-NaN erases to fill
    assert g2[8, 8] == 70.0       # real value beats NULL-erase (unchanged rule)


def test_update_gvrs_in_place_dst_equals_src(spark):
    """Round-5 advice closure: dst == src must NOT destroy the store.
    write_gvrs assembles into a temp file and os.replace()s on success, so
    the in-place form is safe — the updated store reads back correctly."""
    grid = _ramp(60, 80)
    e = G.default_element("z", "int")
    src = _write(spark, SPEC, e, grid)
    delta = spark.createDataFrame(
        [(0, 0, 4321.0), (30, 40, -17.0)], "row long, col long, z double"
    )
    stats = G.update_gvrs(spark, src, src, delta)
    assert stats["changed"]
    _, g2 = _engine_read(src)
    assert g2[0, 0] == 4321.0
    assert g2[30, 40] == -17.0
    mask = np.ones_like(grid, dtype=bool)
    mask[0, 0] = mask[30, 40] = False
    np.testing.assert_array_equal(g2[mask], grid[mask])


def test_write_gvrs_failure_leaves_existing_store_intact(spark):
    """Round-5 advice: a failed write must never clobber a pre-existing
    good store (temp-file + os.replace protocol). A blocks frame that
    raises in the executor aborts the write; the original bytes and the
    directory stay exactly as they were, and no temp file is left behind."""
    grid = _ramp(60, 80)
    e = G.default_element("z", "int")
    path = _write(spark, SPEC, e, grid)
    with open(path, "rb") as f:
        before = f.read()

    @F.udf("binary")
    def _boom(x):
        raise ValueError("executor failure injected by test")

    bad_blocks = spark.range(3).select(
        F.col("id").cast("int").alias("tile_index"), _boom(F.col("id")).alias("block")
    )
    with pytest.raises(Exception):
        G.write_gvrs(path, SPEC, e, bad_blocks)
    with open(path, "rb") as f:
        assert f.read() == before
    leftovers = [p for p in os.listdir(os.path.dirname(path)) if ".tmp-" in p]
    assert leftovers == []
    _, g2 = _engine_read(path)
    np.testing.assert_array_equal(
        np.nan_to_num(g2, nan=-1.0), np.nan_to_num(grid, nan=-1.0)
    )


def _shards_grid(spark, grid, d, n_shards=4):
    e = G.default_element("z", "int")
    rows = [(int(r), int(c), None if np.isnan(grid[r, c]) else float(grid[r, c]))
            for r in range(grid.shape[0]) for c in range(grid.shape[1])]
    cells = spark.createDataFrame(rows, "row int, col int, z double")
    tiles = store.build_tiles(cells, SPEC)
    blocks = G.gvrs_export_blocks(tiles, SPEC, e)
    G.write_gvrs_shards(blocks, SPEC, e, d, n_shards=n_shards).collect()
    return e


def _read_shards_grid(spark, d):
    info = G.parse_gvrs_header(sorted(glob.glob(os.path.join(d, "part-*.gvrs")))[0])
    g = np.full((info.n_rows, info.n_cols), np.nan)
    for p in sorted(glob.glob(os.path.join(d, "part-*.gvrs"))):
        pi = G.parse_gvrs_header(p)
        for ti, arrays in G.read_tile_arrays(p, pi, sorted(pi.tile_positions)):
            tr, tc = divmod(ti, pi.n_cols_of_tiles)
            blk = np.asarray(arrays[0]).reshape(pi.tile_rows, pi.tile_cols)
            r1 = min((tr + 1) * pi.tile_rows, info.n_rows)
            c1 = min((tc + 1) * pi.tile_cols, info.n_cols)
            g[tr * pi.tile_rows:r1, tc * pi.tile_cols:c1] = (
                blk[: r1 - tr * pi.tile_rows, : c1 - tc * pi.tile_cols])
    return g


def test_update_gvrs_shards_distributed_compaction(spark):
    """Round-4 verdict missing #3: the sharded 100-TB path gets its own
    update — one delta shuffle by shard, per-shard compaction entirely in
    executors, untouched shards byte-copied in parallel. Semantics match
    update_gvrs: overlay, erase-to-fill, new-tile allocation, all-fill
    drop, verbatim payloads for untouched tiles within a touched shard."""
    import tempfile

    grid = _ramp(60, 80)
    src = tempfile.mkdtemp(prefix="gvrs_us_")
    dst = tempfile.mkdtemp(prefix="gvrs_ud_")
    _shards_grid(spark, grid, src, n_shards=4)
    before = {p: open(p, "rb").read()
              for p in glob.glob(os.path.join(src, "part-*.gvrs"))}

    # deltas: bump cells in tiles 0 and 5 (shards 0 and 1), erase ALL of
    # tile 4 (shard 0), duplicate rows incl. a NaN-erase loser
    delta_rows = [(0, 0, 999.0), (24, 29, -5.0), (26, 61, 777.0),
                  (10, 10, 100.0), (10, 10, 300.0)]
    delta_rows += [(r, c, None) for r in range(25, 50) for c in range(30, 60)]
    delta = spark.createDataFrame(delta_rows, "row long, col long, z double")
    stats = G.update_gvrs_shards(spark, src, dst, delta, n_shards=4)
    assert set(stats["shards_changed"]) == {0, 1}
    assert stats["shards_copied"] == 2  # shards 2, 3 byte-copied

    exp = grid.copy()
    exp[0, 0], exp[24, 29], exp[26, 61], exp[10, 10] = 999.0, -5.0, 777.0, 300.0
    exp[25:50, 30:60] = np.nan
    got = _read_shards_grid(spark, dst)
    np.testing.assert_array_equal(np.nan_to_num(got, nan=-1e9),
                                  np.nan_to_num(exp, nan=-1e9))

    # tile 4 (shard 0) is freed; untouched shards byte-identical
    pi0 = G.parse_gvrs_header(os.path.join(dst, "part-00000.gvrs"))
    assert 4 not in pi0.tile_positions
    for shard in (2, 3):
        p = os.path.join(src, f"part-{shard:05d}.gvrs")
        with open(os.path.join(dst, f"part-{shard:05d}.gvrs"), "rb") as f:
            assert f.read() == before[p]
    # source untouched (dst != src)
    for p, b in before.items():
        with open(p, "rb") as f:
            assert f.read() == b

    # the reference reader opens an updated shard standalone
    got_j = _java_read(os.path.join(dst, "part-00000.gvrs"))["z"]
    assert got_j[0, 0] == 999.0


def test_update_gvrs_shards_in_place_and_new_tile(spark):
    """In-place (dst_dir == src_dir) sharded update is safe (atomic
    per-shard replace) and delta cells over an absent tile allocate a new
    tile — including in a shard whose file does not exist yet."""
    import tempfile

    grid = _ramp(60, 80)
    grid[50:, :] = np.nan  # bottom tile row absent everywhere
    src = tempfile.mkdtemp(prefix="gvrs_uin_")
    _shards_grid(spark, grid, src, n_shards=4)
    present = {int(os.path.basename(p)[5:10])
               for p in glob.glob(os.path.join(src, "part-*.gvrs"))}
    # tiles 6,7,8 absent -> shards 2,3 may have fewer tiles; tile 7 -> shard 3
    delta = spark.createDataFrame(
        [(55, 40, 1234.0), (5, 5, -1.0)], "row long, col long, z double"
    )
    stats = G.update_gvrs_shards(spark, src, src, delta, n_shards=4)
    assert stats["tiles_changed"] == 2
    got = _read_shards_grid(spark, src)
    assert got[55, 40] == 1234.0
    assert got[5, 5] == -1.0
    assert np.isnan(got[55, 41])
    mask = np.ones_like(grid, dtype=bool)
    mask[55, 40] = mask[5, 5] = False
    np.testing.assert_array_equal(
        np.nan_to_num(got, nan=-1e9)[mask], np.nan_to_num(grid, nan=-1e9)[mask]
    )
    assert present  # silence lint; presence asserted implicitly above


def test_multi_element_shards_write_update_read(spark):
    """Round-5: multi-element SHARDED stores — executor-side assembly of
    [length][data] element sets per tile, update targeting one band, and
    the reference reader opening a shard standalone."""
    import tempfile

    grid = _ramp(60, 80)
    band2 = (grid * 2.0 + 7.0)
    e1 = G.default_element("dem", "int")
    e2 = G.default_element("band2", "int")
    rows = []
    for r in range(60):
        for c in range(80):
            rows.append((r, c, float(grid[r, c]), "dem"))
            rows.append((r, c, float(band2[r, c]), "band2"))
    cells = spark.createDataFrame(rows, "row int, col int, z double, element string")
    parts = []
    for e in (e1, e2):
        tiles = store.build_tiles(
            cells.filter(F.col("element") == e.name).drop("element"), SPEC)
        parts.append(G.gvrs_export_blocks(tiles, SPEC, e)
                     .withColumn("element", F.lit(e.name)))
    blocks = parts[0].unionByName(parts[1])
    src = tempfile.mkdtemp(prefix="gvrs_ms_")
    manifest = G.write_gvrs_shards(blocks, SPEC, [e1, e2], src, n_shards=3).collect()
    assert sum(r.n_tiles for r in manifest) == 9

    # one shard standalone through the compiled reference: both bands
    shard0 = os.path.join(src, "part-00000.gvrs")
    got = _java_read(shard0)
    info0 = G.parse_gvrs_header(shard0)
    for ti in info0.tile_positions:
        tr, tc = divmod(ti, info0.n_cols_of_tiles)
        r1 = min((tr + 1) * 25, 60)
        c1 = min((tc + 1) * 30, 80)
        np.testing.assert_array_equal(
            got["dem"][tr * 25:r1, tc * 30:c1], grid[tr * 25:r1, tc * 30:c1])
        np.testing.assert_array_equal(
            got["band2"][tr * 25:r1, tc * 30:c1], band2[tr * 25:r1, tc * 30:c1])

    # update ONE band through the sharded updater (element column)
    delta = spark.createDataFrame(
        [(0, 0, 555.0, "band2"), (30, 40, -9.0, "band2")],
        "row long, col long, z double, element string",
    )
    stats = G.update_gvrs_shards(spark, src, src, delta, n_shards=3)
    assert stats["tiles_changed"] == 2

    # read back: band2 updated, dem untouched everywhere
    g_dem = np.full((60, 80), np.nan)
    g_b2 = np.full((60, 80), np.nan)
    for p in sorted(glob.glob(os.path.join(src, "part-*.gvrs"))):
        pi = G.parse_gvrs_header(p)
        for ti, arrays in G.read_tile_arrays(p, pi, sorted(pi.tile_positions)):
            tr, tc = divmod(ti, pi.n_cols_of_tiles)
            r1 = min((tr + 1) * 25, 60)
            c1 = min((tc + 1) * 30, 80)
            g_dem[tr*25:r1, tc*30:c1] = arrays[0].reshape(25, 30)[:r1-tr*25, :c1-tc*30]
            g_b2[tr*25:r1, tc*30:c1] = arrays[1].reshape(25, 30)[:r1-tr*25, :c1-tc*30]
    np.testing.assert_array_equal(g_dem, grid)
    exp2 = band2.copy()
    exp2[0, 0], exp2[30, 40] = 555.0, -9.0
    np.testing.assert_array_equal(g_b2, exp2)


def test_update_gvrs_shards_creates_absent_shard_file(spark):
    """A delta landing in a shard whose FILE does not exist (no tiles ever
    hashed there) must create the shard from scratch — and re-applying the
    same delta is idempotent (byte-identical shard files)."""
    import tempfile

    grid = _ramp(60, 80)
    grid[:, 30:] = np.nan   # only tiles 0 and 3 populated (cols 0-29)
    grid[25:, :] = np.nan   # drop rows >= 25 outside tile rows 0
    src = tempfile.mkdtemp(prefix="gvrs_abs_")
    _shards_grid(spark, grid, src, n_shards=4)
    present = sorted(int(os.path.basename(p)[5:10])
                     for p in glob.glob(os.path.join(src, "part-*.gvrs")))
    assert 2 not in present  # tile 2 (shard 2) was all-fill -> no file

    delta = spark.createDataFrame(
        [(5, 70, 777.0)], "row long, col long, z double"  # tile 2 -> shard 2
    )
    stats = G.update_gvrs_shards(spark, src, src, delta, n_shards=4)
    assert stats["shards_changed"] == [2] and stats["tiles_changed"] == 1
    p2 = os.path.join(src, "part-00002.gvrs")
    assert os.path.exists(p2)
    got = _read_shards_grid(spark, src)
    assert got[5, 70] == 777.0
    with open(p2, "rb") as f:
        first = f.read()
    # idempotence: same delta again -> byte-identical shard
    G.update_gvrs_shards(spark, src, src, delta, n_shards=4)
    with open(p2, "rb") as f:
        again = f.read()
    # byte-identical modulo the 8-byte close timestamp at offset 40
    assert again[:40] == first[:40] and again[48:] == first[48:]
