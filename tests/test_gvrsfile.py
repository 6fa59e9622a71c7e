"""Whole-store binary format parity against the reference's golden sample
files (core/src/test/resources/org/gridfour/gvrs/SampleFiles/).

Two independent oracles:
  1. tests/golden/gvrs_samples.txt — per-cell values dumped through the
     COMPILED reference reader (tools/GoldenGvrs.java, unmodified sources):
     ints raw, floats as Float.floatToRawIntBits hex. Bit-exact comparison.
  2. The README.txt value rules (v = row*nCols + col - 1; z = sin(pi x)
     sin(pi y)) re-computed analytically.

Covers: v1.04 header, element specs (short/int/float/ICF + multi-element),
compact tile directory, raw + GvrsHuffman + GvrsDeflate + GvrsFloat + LSOP12
(legacy header, Huffman residuals) payloads, nulls, partial tile cover,
metadata records.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest

from gridfour_spark.gvrsfile import (
    parse_gvrs_header,
    read_metadata,
    read_tile_arrays,
)

SAMPLES = "/root/reference/core/src/test/resources/org/gridfour/gvrs/SampleFiles"
GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "gvrs_samples.txt")


def _assemble(path):
    """Full grids (one per element), clipped to raster bounds, NaN = null."""
    info = parse_gvrs_header(path)
    tr, tc = info.tile_rows, info.tile_cols
    grids = [
        np.full((info.n_rows_of_tiles * tr, info.n_cols_of_tiles * tc), np.nan)
        for _ in info.elements
    ]
    for ti, arrays in read_tile_arrays(path, info, sorted(info.tile_positions)):
        trow, tcol = divmod(ti, info.n_cols_of_tiles)
        for g, vals in zip(grids, arrays):
            g[trow * tr : (trow + 1) * tr, tcol * tc : (tcol + 1) * tc] = vals.reshape(tr, tc)
    return info, [g[: info.n_rows, : info.n_cols] for g in grids]


def _parse_golden():
    out = {}
    with open(GOLDEN) as f:
        lines = f.read().splitlines()
    i = 0
    while i < len(lines):
        _, name, nr, nc, ne = lines[i].split()
        nr, nc, ne = int(nr), int(nc), int(ne)
        i += 1
        elements = {}
        for _ in range(ne):
            _, ename, kind = lines[i].split()
            i += 1
            rows = []
            for _ in range(nr):
                rows.append(lines[i].split())
                i += 1
            if kind == "f":
                bits = np.array(
                    [[int(v, 16) for v in row] for row in rows], dtype=np.int64
                ).astype(np.uint32)
                elements[ename] = ("f", bits)
            else:
                elements[ename] = ("i", np.array(rows, dtype=np.int64))
        out[name] = elements
    return out


GOLDEN_DATA = _parse_golden()
ALL_FILES = sorted(os.path.basename(p) for p in glob.glob(os.path.join(SAMPLES, "*.gvrs")))
HAVE_SAMPLES = os.path.isdir(SAMPLES)
needs_samples = pytest.mark.skipif(
    not HAVE_SAMPLES, reason=f"reference sample directory {SAMPLES} is absent"
)


def _sample_params(names):
    """Sample names as test parameters; without the sample directory, one
    placeholder that skips with the stated reason (an empty parameter set
    would skip without saying why)."""
    return names if HAVE_SAMPLES else [pytest.param("absent", marks=needs_samples)]


@needs_samples
def test_golden_covers_all_samples():
    assert set(GOLDEN_DATA) == set(ALL_FILES)


@pytest.mark.parametrize("name", _sample_params(ALL_FILES))
def test_bit_exact_vs_reference_reader(name):
    path = os.path.join(SAMPLES, name)
    info, grids = _assemble(path)
    for e, grid in zip(info.elements, grids):
        kind, golden = GOLDEN_DATA[name][e.name]
        if kind == "i":
            # reference readValueInt returns the integer fill for null cells
            mine = np.where(np.isnan(grid), float(e.fill), grid).astype(np.int64)
            assert (mine == golden).all(), f"{name}:{e.name} int mismatch"
        else:
            mine_bits = grid.astype(np.float32).view(np.uint32)
            mine_nan = np.isnan(grid)
            golden_nan = np.isnan(golden.view(np.float32))
            assert (mine_nan == golden_nan).all(), f"{name}:{e.name} null mask mismatch"
            ok = mine_nan | (mine_bits == golden)
            assert ok.all(), f"{name}:{e.name} float bits mismatch"


@pytest.mark.parametrize(
    "name",
    _sample_params(
        [n for n in ALL_FILES
         if "Sample1" not in n or n.startswith(("Sample10", "Sample11", "Sample12"))]
    ),
)
def test_index_value_rule(name):
    if "ModelCoord" in name or "LSOP" in name or "PartialTileCover" in name:
        pytest.skip("different value rule")
    path = os.path.join(SAMPLES, name)
    info, grids = _assemble(path)
    rows, cols = np.mgrid[0 : info.n_rows, 0 : info.n_cols]
    expect = rows * info.n_cols + cols - 1
    g = grids[0]
    valid = ~np.isnan(g)
    if "Metadata" in name:
        expect = rows * info.n_cols + cols  # SampleMetadata counts from 0
    assert (g[valid] == expect[valid]).all()
    assert valid.all()  # no interior nulls in any README sample grid


@needs_samples
def test_model_coordinate_rule_float_and_icf():
    for name, tol in [("Sample13_ModelCoord.gvrs", 0.0), ("Sample14_LSOP.gvrs", 0.5e-3 + 1e-6)]:
        info, grids = _assemble(os.path.join(SAMPLES, name))
        rows, cols = np.mgrid[0 : info.n_rows, 0 : info.n_cols]
        a = info.r2m
        x = a[0] * cols + a[1] * rows + a[2]
        y = a[3] * cols + a[4] * rows + a[5]
        expect = (np.sin(x * np.pi) * np.sin(y * np.pi)).astype(np.float32)
        err = np.abs(grids[0] - expect)
        assert np.nanmax(err) <= tol, (name, np.nanmax(err))


@needs_samples
def test_partial_tile_cover():
    info, grids = _assemble(os.path.join(SAMPLES, "SamplePartialTileCover.gvrs"))
    g = grids[0]
    valid = ~np.isnan(g)
    assert int(valid.sum()) == 36
    rr, cc = np.nonzero(valid)
    assert rr.min() == 10 and rr.max() == 15 and cc.min() == 10 and cc.max() == 15
    assert (g[valid] == (rr - 10) * 6 + (cc - 10)).all()


@needs_samples
def test_lsop14_uses_huffman_legacy_header():
    """Pin the hard path: Sample14 is a legacy LsHeader with tree-in-stream
    Huffman residuals decoded back-to-back from one bit store."""
    import struct

    from gridfour_spark.lsop import parse_ls_header

    path = os.path.join(SAMPLES, "Sample14_LSOP.gvrs")
    info = parse_gvrs_header(path)
    assert info.codec_ids == ["LSOP12"]
    with open(path, "rb") as f:
        f.seek(next(iter(info.tile_positions.values())))
        f.read(4)
        n = struct.unpack("<i", f.read(4))[0]
        h = parse_ls_header(f.read(n))
    assert h["n_coeff"] == 12 and h["comp_type"] == 0 and h["header_size"] == 63


@needs_samples
def test_metadata_records():
    md = {m["name"]: m for m in read_metadata(os.path.join(SAMPLES, "SampleMetadata.gvrs"))}
    assert md["GvrsCompressionCodecs"]["value"] == "GvrsHuffman|GvrsDeflate|GvrsFloat"
    assert md["mShort"]["value"] == [-1, 0, 1, 2, 3]
    assert md["mUnsShort"]["value"] == [65535, 0, 1, 2, 3]
    assert md["mInt"]["value"] == [-1, 0, 1, 2, 3]
    assert md["mDbl"]["value"][:3] == [-1.0, 0.0, 0.5]
    assert md["mFlt"]["value"] == []


@needs_samples
def test_spark_cells_read(spark):
    from pyspark.sql import functions as F

    from gridfour_spark.gvrsfile import gvrs_cells

    df = gvrs_cells(spark, os.path.join(SAMPLES, "Sample04_ShortComp.gvrs"))
    row = df.agg(
        F.count("*").alias("n"),
        F.sum("z").alias("s"),
        F.count(F.when(F.col("z").isNull(), 1)).alias("nulls"),
    ).collect()[0]
    assert row["n"] == 10000
    assert row["s"] == sum(r * 100 + c - 1 for r in range(100) for c in range(100))
    assert row["nulls"] == 0


def test_lsop8_reference_decode_path():
    """lsop.decode_lsop's LSOP-8 branch: symbol counts per
    LsDecoder08.unpackInitializers ((nc-1)+nc+2*(nr-2)) and unpackInterior
    ((nr-2)*(nc-2)) — an engine LSOP-8 packing decodes exactly through the
    GVRS reader's dispatch (code-review round 3 regression)."""
    from gridfour_spark import compress as C
    from gridfour_spark import lsop as L

    nr, nc = 20, 30
    r, c = np.meshgrid(np.arange(nr), np.arange(nc), indexing="ij")
    v = (1000 * np.sin(r * 0.2) * np.cos(c * 0.15)).astype(np.int32)
    res = L.encode_lsop8(v.ravel(), nr, nc)
    assert res is not None
    back = C.decode_packing("LSOP08", bytes(res["payload"]), nr, nc)
    np.testing.assert_array_equal(back.astype(np.int32), v)


def test_extended_tile_directory_raw_offsets(tmp_path):
    """Extended-form tile directories store RAW int64 positions
    (TileDirectoryExtended.writeTilePositions), unlike the compact form's
    pos/8 u32 — synthesize one directory record of each form and parse."""
    import struct

    from gridfour_spark.gvrsfile import GvrsInfo, _read_tile_directory

    info = GvrsInfo(
        path="", version=1, subversion=4, n_rows=20, n_cols=20,
        tile_rows=10, tile_cols=10, n_rows_of_tiles=2, n_cols_of_tiles=2,
        checksum_enabled=False, raster_space=0, coord_system=0,
        x0=0, y0=0, x1=1, y1=1, cell_size_x=1, cell_size_y=1,
        m2r=(0,) * 6, r2m=(0,) * 6,
    )
    for extended, stored in ((False, 123456 // 8), (True, 123456)):
        p = tmp_path / f"dir_{extended}.bin"
        buf = bytearray()
        buf += bytes([0, 1 if extended else 0]) + b"\x00" * 6
        buf += struct.pack("<4i", 0, 0, 1, 2)  # row0 col0 1x2 tiles
        fmt = "<2q" if extended else "<2I"
        buf += struct.pack(fmt, stored, 0)
        p.write_bytes(bytes(buf))
        with open(p, "rb") as f:
            pos = _read_tile_directory(f, 0, info)
        assert pos == {0: 123456}, (extended, pos)


def test_tile_directory_bytes_extended_round_trip():
    """Round-5: write_gvrs no longer refuses stores past the 32 GB compact
    range — _tile_directory_bytes switches to the extended raw-int64 form
    (the reference's automatic switch) and _read_tile_directory parses it
    back exactly. Compact form stays byte-stable for in-range positions."""
    import io
    import struct as _s

    from gridfour_spark.gvrsfile import (
        GvrsInfo, _read_tile_directory, _tile_directory_bytes,
    )

    info = GvrsInfo(
        path="", version=1, subversion=4, n_rows=20, n_cols=20,
        tile_rows=10, tile_cols=10, n_rows_of_tiles=2, n_cols_of_tiles=2,
        checksum_enabled=False, raster_space=0, coord_system=0,
        x0=0, y0=0, x1=1, y1=1, cell_size_x=1, cell_size_y=1,
        m2r=(0,) * 6, r2m=(0,) * 6,
    )

    # giant positions (a ~100 GB store) -> extended form
    big = {0: 48, 1: 40_000_000_000, 3: 99_999_999_992}
    content = _tile_directory_bytes(big, info.n_cols_of_tiles)
    assert content[1] == 1  # extended flag
    got = _read_tile_directory(io.BytesIO(content), 0, info)
    assert got == big

    # in-range positions -> compact form, /8-coded u32
    small = {0: 48, 2: 1024, 3: 0xFFFFFFFF * 8}
    content = _tile_directory_bytes(small, info.n_cols_of_tiles)
    assert content[1] == 0
    n = _s.unpack_from("<i", content, 16)[0] * _s.unpack_from("<i", content, 20)[0]
    assert len(content) == 24 + 4 * n
    got = _read_tile_directory(io.BytesIO(content), 0, info)
    assert got == small


def _truncation_cases():
    """(name, element type, cells, packing)."""
    from gridfour_spark import canonhuffman as CH
    from gridfour_spark import compress as C
    from gridfour_spark import floatcodec as FC
    from gridfour_spark import lsop as L

    nr = nc = 40
    r, c = np.meshgrid(np.arange(nr), np.arange(nc), indexing="ij")
    smooth = np.floor(3000 * np.sin(r * 0.07) * np.cos(c * 0.05)).astype(np.int64)
    steps = np.cumsum(np.random.default_rng(11).integers(-1, 2, nr * nc)).astype(np.int64)

    deflate = C.encode_tile(smooth, nr, nc)
    huff = C.encode_tile(steps, nr, nc)
    assert (deflate["codec"], huff["codec"]) == ("deflate", "huffman_gvrs")
    return [
        ("GvrsDeflate", "int", smooth, deflate["payload"]),
        ("GvrsHuffman", "int", steps, huff["payload"]),
        ("LSOP12-deflate", "int", smooth,
         L.encode_lsop(smooth, nr, nc, use_canon_residuals=False)["payload"]),
        ("LSOP12-canonical", "int", steps, L.encode_lsop(steps, nr, nc)["payload"]),
        ("GvrsCanonicalHuffman", "int", smooth, CH.encode_tile_packing(smooth, nr, nc)["payload"]),
        ("GvrsFloat", "float", smooth / 7.0, FC.encode_float_tile(smooth / 7.0, nr, nc)),
    ]


@pytest.mark.parametrize("keep", ["half", "all_but_one"])
def test_truncated_packing_raises_value_error(tmp_path, keep):
    """A packing cut short in the file fails loudly with ValueError, for
    every codec the reader dispatches (the intact packing reads back)."""
    from gridfour_spark import gvrsfile as G
    from gridfour_spark.lsop import parse_ls_header
    from gridfour_spark.spec import GridSpec

    spec = GridSpec(
        n_rows=40, n_cols=40, n_rows_in_tile=40, n_cols_in_tile=40,
        x0=0.0, y0=0.0, cell_size_x=1.0, cell_size_y=1.0,
    )
    cases = _truncation_cases()
    # Deflate and canonical residuals
    assert [parse_ls_header(p)["comp_type"] for n, _, _, p in cases if n.startswith("LSOP")] == [1, 2]
    for name, etype, cells, packing in cases:
        element = G.default_element("z", etype)
        cut = len(packing) // 2 if keep == "half" else len(packing) - 1
        for block, ok in ((packing, True), (packing[:cut], False)):
            path = str(tmp_path / f"{name}-{ok}.gvrs")
            G.write_gvrs(path, spec, element, [{"tile_index": 0, "block": block}])
            info = parse_gvrs_header(path)
            if ok:
                ((_, (vals,)),) = read_tile_arrays(path, info, [0])
                np.testing.assert_array_equal(vals, cells.astype(np.float32).ravel(), err_msg=name)
            else:
                with pytest.raises(ValueError):
                    read_tile_arrays(path, info, [0])


@pytest.mark.parametrize("fault", ["short_read", "empty_packing", "codec_byte"])
def test_malformed_record_raises_value_error(tmp_path, fault):
    """A record cut short by the end of the file, a zero-length packing or a
    codec byte outside the file's codec list fails loudly with ValueError."""
    import struct

    from gridfour_spark import gvrsfile as G
    from gridfour_spark.spec import GridSpec

    nr = nc = 40
    spec = GridSpec(
        n_rows=nr, n_cols=nc, n_rows_in_tile=nr, n_cols_in_tile=nc,
        x0=0.0, y0=0.0, cell_size_x=1.0, cell_size_y=1.0,
    )
    element = G.default_element("z", "int")
    r, c = np.meshgrid(np.arange(nr), np.arange(nc), indexing="ij")
    # a short read of a raw record must not return a short array
    compressed = fault != "short_read"
    block = G.encode_tile_payload((r * 3 + c).astype(np.float64).ravel(), nr, nc, element, compressed)
    path = str(tmp_path / "t.gvrs")
    G.write_gvrs(path, spec, element, [{"tile_index": 0, "block": block}])
    info = parse_gvrs_header(path)
    pos = info.tile_positions[0]  # [tile index][length][packing]
    with open(path, "r+b") as f:
        if fault == "short_read":
            f.truncate(pos + 8 + len(block) // 2)  # a whole number of cells
        elif fault == "empty_packing":
            f.seek(pos + 4)
            f.write(struct.pack("<i", 0))
        else:
            f.seek(pos + 8)
            f.write(bytes([len(info.codec_ids)]))
    with pytest.raises(ValueError):
        read_tile_arrays(path, info, [0])
