"""Tile store round trips, fill semantics, all-fill-tile drop.

Mirrors GvrsElementSimpleWriteAndReadTest and
GvrsElementWriteAndReadMultiTileTest: write/read equality, reads from
unpopulated tiles return fill, all-fill tiles never materialize."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gridfour_spark import store
from gridfour_spark.spec import GridSpec
from gridfour_spark.synth import grid_df, value_rule_sql

SPEC = GridSpec(n_rows=10, n_cols=10, n_rows_in_tile=6, n_cols_in_tile=6, fill_int=-9999)


def test_build_tiles_and_round_trip(spark):
    cells = grid_df(spark, SPEC, value="rule")
    tiles = store.build_tiles(cells, SPEC, value_col="z")
    tl = {t.tile_index: t for t in tiles.collect()}
    # 10x10 grid, 6x6 tiles -> 2x2 tile grid, all 4 materialize (no all-fill)
    assert set(tl) == {0, 1, 2, 3}
    assert all(t.n_cells == 36 for t in tl.values())
    # partial tiles carry fill in ragged cells: tile 3 covers rows 6-9, cols 6-9
    assert tl[0].n_filled == 36 and tl[3].n_filled == 16

    back = store.tiles_to_cells(tiles, SPEC).collect()
    assert len(back) == 100
    for r in back:
        assert r.z == r.row * 10 + r.col - 1, (r.row, r.col)


def test_all_fill_tiles_dropped(spark):
    """Writing only fill into a tile never materializes it
    (RecordManager.writeTile:413-419; GvrsElementWriteAndReadMultiTileTest:102-116)."""
    cells = grid_df(spark, SPEC, value="rule").withColumn(
        "z", F.when((F.col("row") < 6) & (F.col("col") < 6), F.lit(float(SPEC.fill_int))).otherwise(F.col("z"))
    )
    tiles = store.build_tiles(cells, SPEC)
    assert {t.tile_index for t in tiles.collect()} == {1, 2, 3}


def test_point_read_fill_for_missing_tiles(spark):
    # populate only tile 0 (rows<6, cols<6); read points everywhere
    cells = grid_df(spark, SPEC, value="rule").filter((F.col("row") < 6) & (F.col("col") < 6))
    tiles = store.build_tiles(cells, SPEC)
    assert [t.tile_index for t in tiles.collect()] == [0]

    pts = grid_df(spark, SPEC, value=None)
    got = store.point_read(pts, tiles, SPEC)
    for r in got.collect():
        expect = r.row * 10 + r.col - 1 if (r.row < 6 and r.col < 6) else float(SPEC.fill_int)
        assert r.z == expect, (r.row, r.col)


def test_block_read_matches_direct(spark):
    spec = GridSpec(n_rows=40, n_cols=50, n_rows_in_tile=12, n_cols_in_tile=17)
    cells = grid_df(spark, spec, value="rule")
    tiles = store.build_tiles(cells, spec)
    windows = spark.createDataFrame(
        [(0, 0, 0, 5, 5), (1, 10, 15, 13, 20), (2, 35, 45, 5, 5), (3, 11, 16, 1, 1)],
        "win_id int, row0 int, col0 int, n_rows int, n_cols int",
    )
    got = store.block_read(windows, tiles, spec).collect()
    seen: dict[int, int] = {}
    for r in got:
        assert r.z == r.row * spec.n_cols + r.col - 1
        seen[r.win_id] = seen.get(r.win_id, 0) + 1
    assert seen == {0: 25, 1: 13 * 20, 2: 25, 3: 1}


def test_point_read_out_of_grid_rows_dropped(spark):
    """Out-of-range access throws in the reference (TileAccessIndices:79-84);
    the batch engine filters them out instead."""
    cells = grid_df(spark, SPEC, value="rule")
    tiles = store.build_tiles(cells, SPEC)
    pts = spark.createDataFrame([(0, 0), (9, 9), (10, 0), (0, -1)], "row int, col int")
    got = store.point_read(pts, tiles, SPEC).collect()
    assert {(r.row, r.col) for r in got} == {(0, 0), (9, 9)}


def test_write_points_merge(spark):
    """S4 write path: update existing cells, materialize new tiles, never
    materialize all-fill tiles (GvrsElementWriteAndReadMultiTileTest)."""
    from gridfour_spark.synth import grid_df

    # store initially holds only tile 0 (rows<6, cols<6)
    cells = grid_df(spark, SPEC, value="rule").filter((F.col("row") < 6) & (F.col("col") < 6))
    tiles = store.build_tiles(cells, SPEC)

    writes = spark.createDataFrame(
        [
            (0, 0, 999.0),            # overwrite existing cell in tile 0
            (7, 7, 123.0),            # materializes tile 3
            (0, 7, float(SPEC.fill_int)),  # fill-only write -> tile 1 must NOT materialize
        ],
        "row int, col int, z double",
    )
    merged = store.write_points(writes, tiles, SPEC)
    by_tile = {t.tile_index: t for t in merged.collect()}
    assert set(by_tile) == {0, 3}

    got = store.point_read(
        spark.createDataFrame([(0, 0), (1, 1), (7, 7), (0, 7), (9, 9)], "row int, col int"),
        merged,
        SPEC,
    )
    vals = {(r.row, r.col): r.z for r in got.collect()}
    assert vals[(0, 0)] == 999.0          # updated
    assert vals[(1, 1)] == 1 * 10 + 1 - 1  # untouched original
    assert vals[(7, 7)] == 123.0          # new tile
    assert vals[(0, 7)] == float(SPEC.fill_int)  # fill write reads back as fill
    assert vals[(9, 9)] == float(SPEC.fill_int)  # absent tile -> fill


def test_multi_element_store(spark):
    """Multi-band store: one cell array per (element, tile) —
    columnar-within-tile (gvrs/TileElement.java:53-89, MultiElementTest)."""
    from gridfour_spark.synth import grid_df

    base = grid_df(spark, SPEC, value="rule")
    cells = base.withColumn("element", F.lit("z")).unionByName(
        base.withColumn("z", F.col("z") * 2).withColumn("element", F.lit("z2"))
    )
    tiles = store.build_tiles(cells, SPEC, element_col="element")
    assert tiles.count() == 8  # 4 tiles x 2 elements
    pts = spark.createDataFrame([(0, 5), (7, 3)], "row int, col int")
    a = {(r.row, r.col): r.z for r in store.point_read(pts, tiles, SPEC, element="z").collect()}
    b = {(r.row, r.col): r.z for r in store.point_read(pts, tiles, SPEC, element="z2").collect()}
    for (r, c), v in a.items():
        assert v == r * 10 + c - 1
        assert b[(r, c)] == 2 * v


def test_multi_element_tiles_round_trip(spark):
    """T-multi: 2-element store -> one [length][data] record set per tile
    (RecordManager.writeTile:386-406) -> exact recovery; an element absent
    from a tile reads back as fill."""
    import numpy as np
    from pyspark.sql import functions as F

    from gridfour_spark import tilecodec
    from gridfour_spark.spec import GridSpec
    from gridfour_spark.store import build_tiles, tiles_to_cells
    from gridfour_spark.synth import grid_df

    spec = GridSpec(n_rows=40, n_cols=50, n_rows_in_tile=16, n_cols_in_tile=16)
    g = grid_df(spark, spec, value="dem")
    # element "b" only exists in the top-left corner -> most tiles lack it
    cells = g.select("row", "col", F.lit("a").alias("element"), "z").unionByName(
        g.filter((F.col("row") < 10) & (F.col("col") < 10)).select(
            "row", "col", F.lit("b").alias("element"), (F.col("z") * 2).alias("z")
        )
    )
    tiles = build_tiles(cells, spec, element_col="element")
    comp = tilecodec.compress_tiles_multi(tiles, spec, elements=["a", "b"])
    rows = comp.collect()
    assert all(r.n_elements == 2 for r in rows)
    # every payload is smaller than 2x standard (element 'a' compresses)
    assert all(r.n_bytes <= r.standard_bytes for r in rows)
    back = tilecodec.decompress_tiles_multi(comp, spec, elements=["a", "b"])
    a = {(r.row, r.col): r.z for r in tiles_to_cells(back.filter(F.col("element") == "a"), spec).collect()}
    b = {(r.row, r.col): r.z for r in tiles_to_cells(back.filter(F.col("element") == "b"), spec).collect()}
    expected = {(r.row, r.col): r.z for r in g.collect()}
    assert len(a) == 40 * 50
    fill = float(spec.fill_int)
    for k, v in expected.items():
        assert a[k] == v
        if k[0] < 10 and k[1] < 10:
            assert b[k] == 2 * v
        else:
            assert b[k] == fill


def test_decompress_tiles_raw_payload_of_wrong_size_raises(spark):
    """A raw record must hold exactly the standard payload."""
    from gridfour_spark import tilecodec
    from gridfour_spark.spec import GridSpec

    spec = GridSpec(n_rows=4, n_cols=4, n_rows_in_tile=4, n_cols_in_tile=4)
    comp = spark.createDataFrame(
        [(0, 0, 0, 16, "raw", 0, 60, 64, False, bytes(60), 0)], tilecodec.COMPRESSED_SCHEMA
    )
    with pytest.raises(Exception, match="ValueError: tile 0: raw payload of 60 bytes"):
        tilecodec.decompress_tiles(comp, spec).collect()


@pytest.mark.parametrize(
    "tail,message", [(b"\x00", "1 bytes after the last element"), (None, "runs past")]
)
def test_decompress_tiles_multi_walk_must_end_at_record_end(spark, tail, message):
    """The [length][data] walk must stay inside the record and end at its end."""
    from gridfour_spark import tilecodec
    from gridfour_spark.spec import GridSpec

    spec = GridSpec(n_rows=4, n_cols=4, n_rows_in_tile=4, n_cols_in_tile=4)
    record = 2 * ((64).to_bytes(4, "little") + bytes(64))
    record = record + tail if tail else record[:-1]
    comp = spark.createDataFrame(
        [(0, 0, 0, 2, len(record), 128, "a:raw,b:raw", record, 0)], tilecodec.MULTI_SCHEMA
    )
    with pytest.raises(Exception, match=f"ValueError: tile 0: .*{message}"):
        tilecodec.decompress_tiles_multi(comp, spec, elements=["a", "b"]).collect()
