"""Tile assignment and coordinate transforms as native Spark column expressions.

The engine's partition/shuffle key is tile_index. Everything here is pure
pyspark.sql arithmetic — JVM-side, whole-stage-codegen'd, no UDFs — exactly
reproducing the reference's integer semantics:

    tileRow     = row / nRowsInTile          (Java int division)
    tileCol     = col / nColsInTile
    tileIndex   = tileRow * nColsOfTiles + tileCol
    rowInTile   = row - tileRow * nRowsInTile
    colInTile   = col - tileCol * nColsInTile
    indexInTile = rowInTile * nColsInTile + colInTile

Reference: core/src/main/java/org/gridfour/gvrs/TileAccessIndices.java:78-92.
Rows/cols are validated non-negative upstream, so Java truncating division ==
SQL `div` == floor division here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gridfour_spark.spec import GridSpec


def arrow_barrier(df: DataFrame) -> DataFrame:
    """Identity mapInArrow: materializes the current projection as Arrow data.

    Catalyst inlines withColumn chains into single generated methods; deep
    derived-column stacks (synthetic geometry -> wrap -> fringe -> tile keys
    -> salt hashes) can exceed janino's 64KB method limit and silently fall
    back to interpreted evaluation (~10x slower). Placing one barrier after
    the widest derivation point makes everything upstream leaf data for the
    code generators downstream. Cost: one Arrow round trip of the projected
    columns (no Python per-row work — the kernel yields batches untouched).
    """
    schema = df.schema

    def _identity(batches):
        yield from batches

    return df.mapInArrow(_identity, schema)


def with_tile_assignment(
    df: DataFrame,
    spec: GridSpec,
    row_col: str = "row",
    col_col: str = "col",
    out_prefix: str = "",
    mark_invalid: bool = False,
) -> DataFrame:
    """Append tile_row/tile_col/tile_index/index_in_tile columns.

    Exact TileAccessIndices.java:78-92 semantics via integer `div`.

    mark_invalid=True emits tile_index = -1 when row/col < 0 (the -1 sentinel
    produced by fringe rounding for out-of-grid points). This lets consumers
    DEFER the out-of-grid filter until after the tile aggregation: filtering
    before it on a UDF-derived column makes Catalyst extract the Python UDF
    into the Filter as a SECOND ArrowEvalPython node — the UDF then runs
    twice and the stage loses fusion (measured 1.7s -> 45s on 30M rows).
    Filter `tile_index >= 0` after the shuffle instead, where it's data.
    """
    r = F.col(row_col).cast("long")
    c = F.col(col_col).cast("long")
    trow = F.expr(f"CAST({row_col} AS BIGINT) div {spec.n_rows_in_tile}")
    tcol = F.expr(f"CAST({col_col} AS BIGINT) div {spec.n_cols_in_tile}")
    p = out_prefix
    # one analysis per dependency level: tile_row/tile_col, then the two
    # indices that read them
    df = df.withColumns({p + "tile_row": trow, p + "tile_col": tcol})
    tindex = (F.col(p + "tile_row") * F.lit(spec.n_cols_of_tiles) + F.col(p + "tile_col")).cast("long")
    if mark_invalid:
        tindex = F.when((r < 0) | (c < 0), F.lit(-1)).otherwise(tindex)
    row_in_tile = r - F.col(p + "tile_row") * F.lit(spec.n_rows_in_tile)
    col_in_tile = c - F.col(p + "tile_col") * F.lit(spec.n_cols_in_tile)
    return df.withColumns({
        p + "tile_index": tindex,
        p + "index_in_tile": (row_in_tile * F.lit(spec.n_cols_in_tile) + col_in_tile).cast("long"),
    })


def tile_assignment_sql(spec: GridSpec, row_expr: str = "row", col_expr: str = "col") -> dict[str, str]:
    """The same assignment as ANSI SQL snippets (shared with the DuckDB oracle)."""
    nct = spec.n_cols_of_tiles
    rt, ct = spec.n_rows_in_tile, spec.n_cols_in_tile
    return {
        "tile_row": f"CAST(({row_expr}) // {rt} AS BIGINT)",
        "tile_col": f"CAST(({col_expr}) // {ct} AS BIGINT)",
        "tile_index": f"CAST((({row_expr}) // {rt}) * {nct} + (({col_expr}) // {ct}) AS BIGINT)",
        "index_in_tile": (
            f"CAST((({row_expr}) - (({row_expr}) // {rt}) * {rt}) * {ct}"
            f" + (({col_expr}) - (({col_expr}) // {ct}) * {ct}) AS BIGINT)"
        ),
    }


# --- fringe rounding as column expressions -----------------------------------
#
# Expression-size discipline: Catalyst's CollapseProject inlines withColumn
# chains, so every extra reference to an input expression DUPLICATES its whole
# subtree in the generated code. A naive transcription of the reference's
# 3-candidate wrap + 5-reference fringe CASE produced a 23k-line generated
# class that janino refused to compile (-> interpreted fallback, 10x slower).
# The forms below are algebraically equivalent for every cell that ends up
# inside the grid (tests check them against the scalar oracle in spec.py) but
# reference each input subtree at most 3 times.

def fringe_round(v: Column, n: int, f0: float, f1: float) -> Column:
    """makeGridPointUsingFringe (GvrsFileSpecification.java:2198-2212), columnar.

    Reference semantics: i = floor(v+0.5); i==-1 clamps to 0 iff v >= f0;
    i==n clamps to n-1 iff v <= f1; out-of-fringe stays out of [0, n).
    Equivalent compact form (for consumers that filter to 0 <= i < n, which
    every engine path does — out-of-range is the reference's throw,
    TileAccessIndices.java:79-84):
        in fringe  -> clamp(floor(v+0.5), 0, n-1)
        out        -> -1
    """
    i = F.least(F.greatest(F.floor(v + F.lit(0.5)), F.lit(0)), F.lit(n - 1))
    return (
        F.when((v >= F.lit(f0)) & (v <= F.lit(f1)), i).otherwise(F.lit(-1)).cast("long")
    )


def with_geo_to_grid(
    df: DataFrame,
    spec: GridSpec,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """lat/lon -> fractional + integral grid coords, with longitude wrap.

    Exact reference algorithm
    (GvrsFileSpecification.mapGeographicToGridPoint:2159-2173 +
    makeGridPointUsingFringe:2198-2212 + Angle.to180/to360): the column
    candidate tries the raw delta first, then to180(delta), then to360(delta)
    — the raw-first preference is observable (lon=-180 maps to column 0,
    lon=+180 to column n-1 on a wrapping grid), so a mod-360 closed form
    can't replace it.

    Out-of-grid points get row/col = -1 (the reference throws on
    out-of-range access, TileAccessIndices.java:79-84; batch engines filter
    — but only AFTER the tile aggregation, see with_tile_assignment).
    """
    if not spec.geographic:
        raise ValueError("spec is not geographic")

    # Pure JVM columns, op-for-op with the Java reference (Spark's `%` on
    # doubles is IEEE fmod, exact, like Java's). An Arrow kernel was tried
    # here first and measured a 4-5x tax on the whole flagship pipeline
    # (python worker CPU + Arrow transfer); the column form stays inside
    # whole-stage codegen PROVIDED no downstream Filter references these
    # columns pre-aggregation (see with_tile_assignment docstring).
    delta = F.col(lon_col).cast("double") - F.lit(spec.x0)
    a = delta % F.lit(360.0)
    t180 = (
        F.when(a == 0, 0.0)
        .when(a < -180.0, a + F.lit(360.0))
        .when(a >= 180.0, a - F.lit(360.0))
        .otherwise(a)
    )
    t360 = F.when(a == 0, 0.0).when(a < 0, a + F.lit(360.0)).otherwise(a)
    c_raw = delta / F.lit(spec.cell_size_x)
    c_180 = t180 / F.lit(spec.cell_size_x)
    c_360 = t360 / F.lit(spec.cell_size_x)
    in_fringe = lambda c: (c >= F.lit(spec.col_fringe_0)) & (c <= F.lit(spec.col_fringe_1))  # noqa: E731
    col_f = F.when(in_fringe(c_raw), c_raw).when(in_fringe(c_180), c_180).otherwise(c_360)

    row_f = (F.col(lat_col).cast("double") - F.lit(spec.y0)) / F.lit(spec.cell_size_y)
    df = df.withColumns({"grid_row_f": row_f, "grid_col_f": col_f})
    return df.withColumns({
        "row": fringe_round(F.col("grid_row_f"), spec.n_rows, spec.row_fringe_0, spec.row_fringe_1),
        "col": fringe_round(F.col("grid_col_f"), spec.n_cols, spec.col_fringe_0, spec.col_fringe_1),
    })


def with_grid_to_model(df: DataFrame, spec: GridSpec, row_col: str = "row", col_col: str = "col") -> DataFrame:
    """Raster -> model. Axis-aligned: x = x0 + col*cellW, y = y0 + row*cellH
    (GvrsFileSpecification.java:2101-2105); with spec.r2m set, the full 2x3
    affine (rotation/skew) runs instead — same scalar math as
    GridSpec.grid_to_model, as columns."""
    r = F.col(row_col).cast("double")
    c = F.col(col_col).cast("double")
    if spec.r2m is not None:
        m00, m01, m02, m10, m11, m12 = spec.r2m
        x = c * F.lit(m00) + r * F.lit(m01) + F.lit(m02)
        y = c * F.lit(m10) + r * F.lit(m11) + F.lit(m12)
    else:
        x = F.lit(spec.x0) + c * F.lit(spec.cell_size_x)
        y = F.lit(spec.y0) + r * F.lit(spec.cell_size_y)
    return df.withColumn("x", x).withColumn("y", y)


def with_model_to_grid(
    df: DataFrame, spec: GridSpec, x_col: str = "x", y_col: str = "y"
) -> DataFrame:
    """Model -> fractional + fringe-rounded integral grid coords
    (mapModelToGridPoint, GvrsFileSpecification.java:2122-2126), columnar.
    Affine-aware: uses the exact-inverse m2r when spec.r2m is set."""
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    if spec.r2m is not None:
        i00, i01, i02, i10, i11, i12 = spec.m2r
        col_f = x * F.lit(i00) + y * F.lit(i01) + F.lit(i02)
        row_f = x * F.lit(i10) + y * F.lit(i11) + F.lit(i12)
    else:
        row_f = (y - F.lit(spec.y0)) / F.lit(spec.cell_size_y)
        col_f = (x - F.lit(spec.x0)) / F.lit(spec.cell_size_x)
    df = df.withColumn("grid_row_f", row_f).withColumn("grid_col_f", col_f)
    return df.withColumn(
        "row", fringe_round(F.col("grid_row_f"), spec.n_rows, spec.row_fringe_0, spec.row_fringe_1)
    ).withColumn(
        "col", fringe_round(F.col("grid_col_f"), spec.n_cols, spec.col_fringe_0, spec.col_fringe_1)
    )


def in_grid(spec: GridSpec, row_col: str = "row", col_col: str = "col") -> Column:
    """Range predicate matching TileAccessIndices' out-of-range throw (:79-84)."""
    return (
        (F.col(row_col) >= 0)
        & (F.col(row_col) < spec.n_rows)
        & (F.col(col_col) >= 0)
        & (F.col(col_col) < spec.n_cols)
    )
