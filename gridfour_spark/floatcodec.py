"""C9 float codec + int-coded-float quantization + CRC32C integrity.

- Float codec (compress/CodecFloat.java:328-430): split IEEE-754 bits into
  planes — sign bits, exponent byte, mantissa 7+8+8 bits — horizontal byte
  deltas on the mantissa planes (re-seeded per row from the row above,
  :300-313), Deflate each plane, length-prefixed packing. All plane math is
  vectorized numpy (view float32 as int32, shift/mask).
- ICF quantization (gvrs/GvrsElementIntCodedFloat.java:203-227):
  i = floor((v - offset) * scale + 0.5);  v = i / scale + offset.
  Round-trip tolerance |delta| <= 1.01/scale (PackageData.java:619-629).
- CRC32C (Castagnoli, poly 0x82f63b78 reflected — util/GridfourCRC32C.java:38-52):
  Spark's F.crc32 implements plain CRC32 (wrong polynomial), so the engine
  carries a table-driven kernel for the inspector (GvrsInspector.java:100-209).
"""

from __future__ import annotations

import zlib

import numpy as np

from gridfour_spark.compress import CODECS

FLOAT_CODEC_INDEX = CODECS.index("GvrsFloat")


def _delta_encode(plane: np.ndarray) -> np.ndarray:
    """Per-row horizontal byte deltas, row seeded from the row above
    (CodecFloat.encodeDeltas:300-313). plane: (nr, nc) int16 workspace."""
    out = plane.astype(np.int16)
    out[:, 1:] = plane[:, 1:] - plane[:, :-1]
    out[1:, 0] = plane[1:, 0] - plane[:-1, 0]
    # row 0 col 0: test - 0 == value itself
    return out.astype(np.int8)


def _delta_decode(d: np.ndarray) -> np.ndarray:
    """Inverse of _delta_encode: cumulative sums with byte wraparound —
    col 0 chains down rows, the rest chains across each row."""
    acc0 = np.cumsum(d[:, 0].astype(np.int64))
    rows = np.cumsum(d.astype(np.int64), axis=1) - d[:, 0].astype(np.int64)[:, None]
    full = acc0[:, None] + rows
    return (full & 0xFF).astype(np.uint8)


def encode_float_tile(values: np.ndarray, nr: int, nc: int) -> bytes:
    v = np.ascontiguousarray(values.reshape(nr, nc), dtype=np.float32)
    c = v.view(np.int32)
    sign = ((c >> 31) & 1).astype(np.uint8)
    # LSB-first within bytes: BitOutputStore order (CodecFloat.encode) — the
    # engine payload is byte-identical in structure to the reference format
    sign_bytes = np.packbits(sign.ravel(), bitorder="little").tobytes()
    exp = ((c >> 23) & 0xFF).astype(np.uint8)
    m1 = ((c >> 16) & 0x7F).astype(np.uint8)
    m2 = ((c >> 8) & 0xFF).astype(np.uint8)
    m3 = (c & 0xFF).astype(np.uint8)
    sections = [
        zlib.compress(sign_bytes, 9),
        zlib.compress(exp.tobytes(), 9),
        zlib.compress(_delta_encode(m1).tobytes(), 9),
        zlib.compress(_delta_encode(m2).tobytes(), 9),
        zlib.compress(_delta_encode(m3).tobytes(), 9),
    ]
    out = bytearray([FLOAT_CODEC_INDEX, 0])
    for s in sections:
        out += len(s).to_bytes(4, "little") + s
    return bytes(out)


def decode_float_tile(packing: bytes, nr: int, nc: int) -> np.ndarray:
    """Inverse of encode_float_tile; byte-compatible with the reference's
    CodecFloat payloads (decodeFloats:395-457), so compress.decode_packing
    decodes GvrsFloat tiles of engine frames and GVRS files with it. Byte 0
    (the codec index) is the caller's. Sections may be over-allocated in
    foreign payloads; every plane is clipped to n = nr*nc."""
    pos = 2
    sections = []
    for _ in range(5):
        ln = int.from_bytes(packing[pos : pos + 4], "little")
        pos += 4
        sections.append(zlib.decompress(packing[pos : pos + ln]))
        pos += ln
    n = nr * nc
    sign = np.unpackbits(np.frombuffer(sections[0], dtype=np.uint8), bitorder="little")[:n]
    exp = np.frombuffer(sections[1], dtype=np.uint8).astype(np.int64)[:n]
    m1 = _delta_decode(np.frombuffer(sections[2], dtype=np.int8)[:n].reshape(nr, nc)).ravel().astype(np.int64)
    m2 = _delta_decode(np.frombuffer(sections[3], dtype=np.int8)[:n].reshape(nr, nc)).ravel().astype(np.int64)
    m3 = _delta_decode(np.frombuffer(sections[4], dtype=np.int8)[:n].reshape(nr, nc)).ravel().astype(np.int64)
    bits = (sign.astype(np.int64) << 31) | (exp << 23) | ((m1 & 0x7F) << 16) | (m2 << 8) | m3
    return bits.astype(np.uint32).view(np.float32).reshape(nr, nc).copy()


# --- int-coded-float ----------------------------------------------------------

def icf_encode(v: np.ndarray, scale: float, offset: float = 0.0) -> np.ndarray:
    """i = floor((v - offset) * scale + 0.5) (GvrsElementIntCodedFloat.java:203-207)."""
    return np.floor((v.astype(np.float64) - offset) * scale + 0.5).astype(np.int32)


def icf_decode(i: np.ndarray, scale: float, offset: float = 0.0) -> np.ndarray:
    """v = i / scale + offset (:220-227), float32 like the reference."""
    return (i.astype(np.float64) / scale + offset).astype(np.float32)


def icf_encode_sql(v: str, scale: float, offset: float = 0.0) -> str:
    # CAST to DOUBLE first: the numpy kernel promotes float32->float64 before
    # the arithmetic (like Java's float->double widening in the reference);
    # without it DuckDB keeps REAL precision through the product
    return f"CAST(floor((CAST(({v}) AS DOUBLE) - {offset!r}) * {scale!r} + 0.5) AS INTEGER)"


def icf_decode_sql(i: str, scale: float, offset: float = 0.0) -> str:
    return f"CAST(CAST(({i}) AS DOUBLE) / {scale!r} + {offset!r} AS FLOAT)"


# --- CRC32C -------------------------------------------------------------------

def _crc32c_table() -> np.ndarray:
    poly = 0x82F63B78
    table = np.zeros(256, dtype=np.uint32)
    for i in range(256):
        crc = i
        for _ in range(8):
            crc = (crc >> 1) ^ poly if crc & 1 else crc >> 1
        table[i] = crc
    return table


_CRC_TABLE = _crc32c_table()


def crc32c(data: bytes, crc: int = 0) -> int:
    """Castagnoli CRC (util/GridfourCRC32C.java). Table-driven; the per-byte
    chain is inherently sequential — fine for audit-time integrity scans."""
    crc = ~crc & 0xFFFFFFFF
    tab = _CRC_TABLE
    for b in np.frombuffer(data, dtype=np.uint8):
        crc = tab[(crc ^ int(b)) & 0xFF] ^ (crc >> 8)
    return (~crc) & 0xFFFFFFFF
