"""Spark-side tile compression: the codec race as a grouped Arrow kernel.

The reference compresses each tile at write time, multithreaded across codecs
(gvrs/CodecMaster.encodeMultiThread:172-192); under Spark, task parallelism
replaces the thread pool and all codecs race inside ONE vectorized kernel per
tile (T9/T7 in SURVEY §2.2). Tiles whose best packing is not smaller than the
standard payload store raw (RecordManager.writeTile:448-461), and all-fill
tiles were already dropped upstream (store.build_tiles).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gridfour_spark import compress as C
from gridfour_spark import floatcodec as FC
from gridfour_spark.spec import GridSpec

COMPRESSED_SCHEMA = (
    "tile_index long, tile_row long, tile_col long, n_cells int, "
    "codec string, predictor int, n_bytes int, standard_bytes int, kept boolean, "
    "payload binary, crc32c long"
)


def compress_tiles(tiles: DataFrame, spec: GridSpec, use_lsop: bool = True) -> DataFrame:
    """tiles (from store.build_tiles) -> per-tile best packing.

    mapInPandas over tile rows: each Arrow batch carries whole tiles (cells
    arrays), the kernel runs the predictor race in numpy. No shuffle — tile
    rows are already the unit of work."""
    nr, nc = spec.n_rows_in_tile, spec.n_cols_in_tile

    def kernel(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                v = np.asarray(row["cells"], dtype=np.float64)
                vi = v.astype(np.int32)
                best = C.encode_tile(vi, nr, nc, use_lsop=use_lsop)
                kept = bool(best["kept"])
                payload = bytes(best["payload"]) if kept else vi.tobytes()
                rows.append(
                    {
                        "tile_index": row["tile_index"],
                        "tile_row": row["tile_row"],
                        "tile_col": row["tile_col"],
                        "n_cells": row["n_cells"],
                        "codec": best["codec"] if kept else "raw",
                        "predictor": int(best["predictor"]) if kept else 0,
                        "n_bytes": int(best["n_bytes"]) if kept else int(best["standard_bytes"]),
                        "standard_bytes": int(best["standard_bytes"]),
                        "kept": kept,
                        "payload": payload,
                        # per-record CRC32C (GvrsFileSpecification checksum
                        # flag :187; GvrsInspector verifies on scan)
                        "crc32c": FC.crc32c(payload),
                    }
                )
            yield pd.DataFrame(rows)

    return tiles.mapInPandas(kernel, COMPRESSED_SCHEMA)


def decompress_tiles(compressed: DataFrame, spec: GridSpec) -> DataFrame:
    """Inverse kernel: per-tile payload -> cells array (RecordManager.readTile
    dispatch on stored codec, :492-515). A raw payload of other than the
    standard size raises ValueError."""
    nr, nc = spec.n_rows_in_tile, spec.n_cols_in_tile
    standard = nr * nc * 4
    out_schema = "tile_index long, tile_row long, tile_col long, n_cells int, cells array<double>"

    def kernel(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                payload = bytes(row["payload"])
                if row["codec"] == "raw":
                    if len(payload) != standard:
                        raise ValueError(
                            f"tile {row['tile_index']}: raw payload of {len(payload)} bytes, "
                            f"standard size is {standard}"
                        )
                    v = np.frombuffer(payload, dtype=np.int32)
                else:  # byte 0 names the codec
                    v = C.decode_tile(payload, nr, nc).ravel()
                rows.append(
                    {
                        "tile_index": row["tile_index"],
                        "tile_row": row["tile_row"],
                        "tile_col": row["tile_col"],
                        "n_cells": row["n_cells"],
                        "cells": v.astype(np.float64),
                    }
                )
            yield pd.DataFrame(rows)

    return compressed.mapInPandas(kernel, out_schema)


MULTI_SCHEMA = (
    "tile_index long, tile_row long, tile_col long, n_elements int, "
    "n_bytes int, standard_bytes int, codecs string, payload binary, crc32c long"
)


def compress_tiles_multi(
    tiles: DataFrame, spec: GridSpec, elements: list[str], use_lsop: bool = True
) -> DataFrame:
    """Multi-element tile records: ONE record per tile holding every
    element's payload as [length i32 LE][data] sets in element-spec order —
    `length == standard size` means uncompressed data, `length < standard`
    means a codec packing (RecordManager.writeTile:386-406). Each element's
    cells race the codecs independently.

    tiles: build_tiles(..., element_col=...) output (one row per
    (element, tile)); elements absent for a tile read as all-fill."""
    nr, nc = spec.n_rows_in_tile, spec.n_cols_in_tile
    standard = nr * nc * 4
    fill = int(spec.fill_int)

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tile_index = int(key[0])
        by_el = {row["element"]: row for _, row in pdf.iterrows()}
        payload = bytearray()
        codecs = []
        for el in elements:
            if el in by_el:
                vi = np.asarray(by_el[el]["cells"], dtype=np.float64).astype(np.int32)
            else:
                vi = np.full(nr * nc, fill, dtype=np.int32)
            best = C.encode_tile(vi, nr, nc, use_lsop=use_lsop)
            if best["kept"]:
                data = bytes(best["payload"])
                codecs.append(f"{el}:{best['codec']}")
            else:
                data = vi.tobytes()  # length == standard signals raw
                codecs.append(f"{el}:raw")
            payload += len(data).to_bytes(4, "little") + data
        payload = bytes(payload)
        first = pdf.iloc[0]
        return pd.DataFrame(
            {
                "tile_index": [tile_index],
                "tile_row": [first["tile_row"]],
                "tile_col": [first["tile_col"]],
                "n_elements": [len(elements)],
                "n_bytes": [len(payload)],
                "standard_bytes": [standard * len(elements)],
                "codecs": [",".join(codecs)],
                "payload": [payload],
                "crc32c": [FC.crc32c(payload)],
            }
        )

    return tiles.groupBy("tile_index").applyInPandas(kernel, MULTI_SCHEMA)


def decompress_tiles_multi(
    compressed: DataFrame, spec: GridSpec, elements: list[str]
) -> DataFrame:
    """Inverse of compress_tiles_multi: walk the [length][data] sets
    (RecordManager.readTile dispatch: standard length = raw copy, shorter =
    codec decode), one output row per (element, tile). A walk that leaves
    the payload or does not end at its end raises ValueError."""
    nr, nc = spec.n_rows_in_tile, spec.n_cols_in_tile
    standard = nr * nc * 4
    out_schema = "element string, tile_index long, tile_row long, tile_col long, cells array<double>"

    def kernel(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                payload = bytes(row["payload"])
                pos = 0
                for el in elements:
                    ln = int.from_bytes(payload[pos : pos + 4], "little")
                    pos += 4
                    data = payload[pos : pos + ln]
                    pos += ln
                    if pos > len(payload):
                        raise ValueError(
                            f"tile {row['tile_index']}: element {el} runs past the "
                            f"{len(payload)}-byte record"
                        )
                    if ln == standard:
                        v = np.frombuffer(data, dtype=np.int32)
                    else:
                        v = C.decode_tile(data, nr, nc).ravel()
                    rows.append(
                        {
                            "element": el,
                            "tile_index": row["tile_index"],
                            "tile_row": row["tile_row"],
                            "tile_col": row["tile_col"],
                            "cells": v.astype(np.float64),
                        }
                    )
                if pos != len(payload):
                    raise ValueError(
                        f"tile {row['tile_index']}: {len(payload) - pos} bytes after the "
                        f"last element"
                    )
            yield pd.DataFrame(rows)

    return compressed.mapInPandas(kernel, out_schema)


def inspect(compressed: DataFrame) -> DataFrame:
    """Integrity scan (S12, gvrs/GvrsInspector.inspect:100-209): walk every
    stored record, recompute CRC32C, compare against the stored checksum."""
    out_schema = "tile_index long, crc_ok boolean"

    def kernel(batches):
        for pdf in batches:
            ok = [
                FC.crc32c(bytes(p)) == int(c)
                for p, c in zip(pdf["payload"], pdf["crc32c"])
            ]
            yield pd.DataFrame({"tile_index": pdf["tile_index"], "crc_ok": ok})

    return compressed.mapInPandas(kernel, out_schema)


def compression_report(compressed: DataFrame) -> DataFrame:
    """Aggregate codec mix + bits/sample (PackageData.java:546-549 metric)."""
    return (
        compressed.groupBy("codec", "predictor")
        .agg(
            F.count("*").alias("n_tiles"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("n_cells").alias("total_cells"),
            F.round(8.0 * F.sum("n_bytes") / F.sum("n_cells"), 4).alias("bits_per_sample"),
        )
        .orderBy("codec", "predictor")
    )
