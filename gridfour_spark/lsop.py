"""LSOP-12: Lewis & Smith (1994) optimal predictor as a columnar numpy kernel.

Re-expression of the reference encoder (lsop/LsOptimalPredictor12.java):

- initialization streams (:117-210): row 0 + column 0 by differencing;
  row 1, column 1 and the last two columns by the triangle predictor
  (4*nRows + 2*nColumns - 9 symbols, M32-coded separately from the interior)
- normal-equation solve (:311-385): 13x13 Lagrange-multiplier least squares
  over the 12-neighbor stencil
      row i:      u6   u1   S(i,j)
      row i-1:    u7   u2   u3   u4   u5
      row i-2:    u8   u9   u10  u11  u12
  accumulated in doubles. All sums here are exact integers < 2^53, so the
  numpy Gram matrix is BIT-IDENTICAL to the Java accumulation; the LU solve
  (LAPACK vs JAMA) can differ in final ulps, which vanishes when coefficients
  are stored as float32 (:216-222).
- interior prediction (:252-281) in strictfp FLOAT: Java computes the
  12-term dot product left-to-right entirely in binary32. numpy float32 ops
  are IEEE binary32, so the kernel accumulates stepwise in float32 in the
  same order, then StrictMath.round == floor(p + 0.5f).
- packing: legacy LsHeader layout (lsop/LsHeader.java:104-133):
  [codecIndex][n=12][seed int32 LE][12 x float32 LE][nInitCodes int32]
  [nInteriorCodes int32][method: 1=deflate] + deflate(init M32) +
  deflate(interior M32), or the revised layout with canonical-Huffman
  residuals when that is smaller (encode_lsop).
- decode: decode_lsop is the one LSOP decoder, for engine frames and GVRS
  files alike — either LsHeader layout (parse_ls_header), 12 or 8
  coefficients, Deflate, GVRS-Huffman or canonical residuals.

Grids smaller than 6x6 are not encodable (reference returns null, :114-116).
"""

from __future__ import annotations

import zlib

import numpy as np

from gridfour_spark import canonhuffman as CH
from gridfour_spark import gvrshuffman as GH
from gridfour_spark.compress import CODECS, m32_decode, m32_encode

LSOP_CODEC_INDEX = CODECS.index("LSOP12")
_F32 = np.float32


def _wrap32(a):
    return ((a + 2**31) % 2**32) - 2**31


def _init_symbols(v64: np.ndarray) -> np.ndarray:
    """The initialization residual stream, in the reference's exact order."""
    nr, nc = v64.shape
    parts = [
        v64[0, 1:] - v64[0, :-1],                       # row 0 differencing
        v64[1:, 0] - v64[:-1, 0],                       # col 0 differencing
        # row 1 triangle: test - ((left + above) - above_left)
        v64[1, 1:] - ((v64[1, :-1] + v64[0, 1:]) - v64[0, :-1]),
        # col 1 triangle for rows >= 2
        v64[2:, 1] - ((v64[2:, 0] + v64[1:-1, 1]) - v64[1:-1, 0]),
        # last two columns, rows >= 2, interleaved (col nc-2 then nc-1 per row)
        np.stack(
            [
                v64[2:, nc - 2] - ((v64[2:, nc - 3] + v64[1:-1, nc - 2]) - v64[1:-1, nc - 3]),
                v64[2:, nc - 1] - ((v64[2:, nc - 2] + v64[1:-1, nc - 1]) - v64[1:-1, nc - 2]),
            ],
            axis=1,
        ).ravel(),
    ]
    return _wrap32(np.concatenate(parts)).astype(np.int32)


def _stencil_views(v: np.ndarray):
    """The 13 shifted views (z0..z12) over interior cells
    (rows 2.., cols 2..nc-3), each flattened, column order as :316-333."""
    nr, nc = v.shape
    sl = lambda dr, dc: v[2 + dr : nr + dr, 2 + dc : nc - 2 + dc]  # noqa: E731
    cols = [
        sl(0, 0),    # z0  target
        sl(0, -1),   # z1  left
        sl(-1, -1),  # z2
        sl(-1, 0),   # z3
        sl(-1, 1),   # z4
        sl(-1, 2),   # z5
        sl(0, -2),   # z6
        sl(-1, -2),  # z7
        sl(-2, -2),  # z8
        sl(-2, -1),  # z9
        sl(-2, 0),   # z10
        sl(-2, 1),   # z11
        sl(-2, 2),   # z12
    ]
    return [c.ravel() for c in cols]


def compute_coefficients(values: np.ndarray, nr: int, nc: int) -> np.ndarray | None:
    """13x13 normal-equation solve (LsOptimalPredictor12.computeCoefficients)."""
    if nr < 6 or nc < 6:
        return None
    v = values.reshape(nr, nc).astype(np.float64)
    Z = np.stack(_stencil_views(v), axis=1)  # (n_samples, 13)
    s = Z.sum(axis=0)
    C = Z.T @ Z
    m = np.zeros((13, 13))
    m[:12, :12] = C[1:, 1:]
    m[:12, 12] = s[1:]
    m[12, :12] = s[1:]
    b = np.zeros(13)
    b[:12] = C[0, 1:]
    b[12] = s[0]
    try:
        sol = np.linalg.solve(m, b)
    except np.linalg.LinAlgError:
        return None
    if not np.all(np.isfinite(sol)):
        return None
    return sol[:12]


def _predict_f32(v: np.ndarray, u: np.ndarray) -> np.ndarray:
    """Interior predictions in strictfp float32, left-to-right accumulation
    (LsOptimalPredictor12.java:252-272)."""
    views = _stencil_views(v)
    zf = [w.astype(_F32) for w in views[1:]]  # z1..z12
    acc = (_F32(u[0]) * zf[0]).astype(_F32)
    for i in range(1, 12):
        acc = (acc + (_F32(u[i]) * zf[i]).astype(_F32)).astype(_F32)
    return acc


def encode_lsop(
    values: np.ndarray, nr: int, nc: int, use_canon_residuals: bool = True
) -> dict | None:
    if nr < 6 or nc < 6:
        return None
    v = values.reshape(nr, nc)
    v64 = v.astype(np.int64)
    ud = compute_coefficients(values, nr, nc)
    if ud is None:
        return None
    u = ud.astype(np.float32)

    init_syms = _init_symbols(v64)
    assert len(init_syms) == 4 * nr + 2 * nc - 9

    p = _predict_f32(v64, u)
    # StrictMath.round(float) == (long) floor(p + 0.5f) with a float32 add
    est = np.floor((p + _F32(0.5)).astype(_F32)).astype(np.int64)
    target = _stencil_views(v64)[0]
    interior = _wrap32(target - est).astype(np.int32)

    init_m32 = m32_encode(init_syms)
    interior_m32 = m32_encode(interior)
    header = (
        bytes([LSOP_CODEC_INDEX, 12])
        + int(np.int64(v64[0, 0]) & 0xFFFFFFFF).to_bytes(4, "little")
        + u.astype("<f4").tobytes()
        + len(init_m32).to_bytes(4, "little")
        + len(interior_m32).to_bytes(4, "little")
        + bytes([1])  # method: deflate
    )
    payload = header + zlib.compress(init_m32, 6) + zlib.compress(interior_m32, 6)
    if use_canon_residuals:
        # the CURRENT reference's LsEncoder12 ALWAYS races canonical-Huffman
        # residuals against deflate and keeps the smaller
        # (LsEncoder12.encode:122-161, COMPRESSION_TYPE_CANON_HUFFMAN);
        # mirror it: the canonical form codes the residual INTEGERS
        # directly (no M32 layer) in the revised header layout with
        # implicit counts (LsHeader.packHeader:220-244 — 55-byte header)
        w = CH._BitWriter()
        CH.encode_block(np.asarray(init_syms, dtype=np.int64), w)
        CH.encode_block(interior.astype(np.int64), w)
        canon_payload = (
            bytes([LSOP_CODEC_INDEX, 0x40 | 2, 12])
            + int(np.int64(v64[0, 0]) & 0xFFFFFFFF).to_bytes(4, "little")
            + u.astype("<f4").tobytes()
            + w.getvalue()
        )
        if len(canon_payload) < len(payload):
            payload = canon_payload
    return {
        "predictor": 12,
        "payload": payload,
        "n_bytes": len(payload),
        "coefficients": u,
        "mean_abs_err": float(np.abs(target - p.astype(np.float64)).mean()),
        "pct_zero_residuals": float((interior == 0).mean() * 100.0),
    }


# 12-neighbor stencil offsets, u-coefficient order (LsOptimalPredictor12:252-272)
_STENCIL = [
    (0, -1), (-1, -1), (-1, 0), (-1, 1), (-1, 2), (0, -2),
    (-1, -2), (-2, -2), (-2, -1), (-2, 0), (-2, 1), (-2, 2),
]


def parse_ls_header(packing: bytes) -> dict:
    """LsHeader.java:104-190 — legacy and revised layouts."""
    pos = 1  # byte 0 is the codec index
    flags = packing[pos]
    out: dict = {}
    if flags & 0x40:  # revised format
        comp_type = flags & 0x0F
        has_checksum = bool(flags & 0x80)
        pos += 1
        n_coeff = packing[pos]; pos += 1
        out["seed"] = int.from_bytes(packing[pos : pos + 4], "little", signed=True); pos += 4
        out["u"] = np.frombuffer(packing[pos : pos + 4 * n_coeff], dtype="<f4"); pos += 4 * n_coeff
        if comp_type == 2:  # canonical huffman: counts are implicit
            out["n_init"] = 0
            out["n_interior"] = 0
        else:
            out["n_init"] = int.from_bytes(packing[pos : pos + 4], "little"); pos += 4
            out["n_interior"] = int.from_bytes(packing[pos : pos + 4], "little"); pos += 4
        if has_checksum:
            out["checksum"] = int.from_bytes(packing[pos : pos + 4], "little"); pos += 4
    else:  # legacy format
        n_coeff = flags; pos += 1
        out["seed"] = int.from_bytes(packing[pos : pos + 4], "little", signed=True); pos += 4
        out["u"] = np.frombuffer(packing[pos : pos + 4 * n_coeff], dtype="<f4"); pos += 4 * n_coeff
        out["n_init"] = int.from_bytes(packing[pos : pos + 4], "little"); pos += 4
        out["n_interior"] = int.from_bytes(packing[pos : pos + 4], "little"); pos += 4
        method = packing[pos]; pos += 1
        comp_type = method & 0x0F
        if method & 0x80:
            out["checksum"] = int.from_bytes(packing[pos : pos + 4], "little"); pos += 4
    out["n_coeff"] = n_coeff
    out["comp_type"] = comp_type  # 0 huffman, 1 deflate, 2 canonical huffman
    out["header_size"] = pos
    return out


def decode_lsop(payload: bytes, nr: int, nc: int) -> np.ndarray:
    """Decode an LSOP packing (LsDecoder12/LsDecoder08.decode): either header
    layout, 12 or 8 coefficients, and Deflate, GVRS-Huffman or canonical
    residuals. A corrupt packing raises ValueError (zlib.error for a broken
    Deflate stream)."""
    h = parse_ls_header(payload)
    if len(payload) < h["header_size"]:
        raise ValueError(f"LSOP packing of {len(payload)} bytes has no header")
    if h["n_coeff"] == 12:
        n_init, n_interior, core = 4 * nr + 2 * nc - 9, (nr - 2) * (nc - 4), decode_lsop_parsed
    elif h["n_coeff"] == 8:
        # LsDecoder08.unpackInitializers: (nc-1) + nc + 2*(nr-2) symbols;
        # unpackInterior: rows 2..nr-1 x cols 2..nc-1
        n_init, n_interior, core = 2 * nr + 2 * nc - 5, (nr - 2) * (nc - 2), decode_lsop8_parsed
    else:
        raise ValueError(f"LSOP packing with {h['n_coeff']} coefficients")
    body = payload[h["header_size"]:]
    if h["comp_type"] == 2:
        # canonical Huffman (LsDecoder12.decode:107-117): the residual
        # INTEGERS themselves, two blocks back to back, no M32 layer; the
        # reference pre-zeroes its arrays, so a block that ends early leaves
        # trailing zeros
        init, p = CH.decode_block(body, 0, n_init)
        interior, _ = CH.decode_block(body, p, n_interior)
        init = np.pad(init, (0, n_init - init.size))
        interior = np.pad(interior, (0, n_interior - interior.size))
        return core(h["seed"], h["u"], init, interior, nr, nc)
    if h["comp_type"] == 1:  # deflate: two concatenated streams
        d = zlib.decompressobj()
        init_m32 = d.decompress(body)
        interior_m32 = zlib.decompress(d.unused_data)
    elif h["comp_type"] == 0:
        # GVRS tree-in-stream Huffman: TWO sequences decoded back to back from
        # one bit store (LsDecoder12.decode:123-128)
        bits = np.unpackbits(np.frombuffer(body, dtype=np.uint8), bitorder="little")
        init_m32, p = GH.decode_stream(bits, 0, h["n_init"])
        interior_m32, _ = GH.decode_stream(bits, p, h["n_interior"])
    else:
        raise ValueError(f"LSOP packing with residual coding {h['comp_type']}")
    if (len(init_m32), len(interior_m32)) != (h["n_init"], h["n_interior"]):
        raise ValueError(
            f"LSOP streams hold {len(init_m32)}/{len(interior_m32)} M32 bytes, "
            f"header says {h['n_init']}/{h['n_interior']}"
        )
    init = m32_decode(init_m32, n_init)
    interior = m32_decode(interior_m32, n_interior)
    return core(h["seed"], h["u"], init, interior, nr, nc)


def decode_lsop_parsed(
    seed: int, u: np.ndarray, init: np.ndarray, interior: np.ndarray, nr: int, nc: int
) -> np.ndarray:
    """Core wavefront decode over already-parsed header arrays
    (LsDecoder12.java:98-148).

    The interior recurrence reads (r, c-1..c-2), (r-1, c-2..c+2) and
    (r-2, c-2..c+2): every dependency of cell (r, c) has a strictly smaller
    skewed diagonal d = 3r + c, so cells on the same skewed diagonal are
    independent and decode as one vectorized step — O(3*nr + nc) numpy passes
    instead of nr*nc Python iterations. Per-cell float32 accumulation order
    is unchanged (u0*z0, +u1*z1, ...), so results are bit-identical to the
    strictfp reference (LsOptimalPredictor12.java:252-281)."""
    init = np.asarray(init, dtype=np.int64)
    interior = np.asarray(interior, dtype=np.int64)
    v = np.zeros((nr, nc), dtype=np.int64)
    k = 0
    v[0, 0] = seed
    v[0, 1:] = _wrap32(seed + np.cumsum(init[k : k + nc - 1])); k += nc - 1
    v[1:, 0] = _wrap32(seed + np.cumsum(init[k : k + nr - 1])); k += nr - 1
    # row 1 triangle: D[c] = v[1,c] - v[0,c] satisfies D[c] = D[c-1] + s —
    # one cumsum (linear mod 2^32)
    row1 = init[k : k + nc - 1]; k += nc - 1
    v[1, 1:] = _wrap32(v[0, 1:] + (v[1, 0] - v[0, 0]) + np.cumsum(row1))
    col1 = init[k : k + nr - 2]; k += nr - 2
    last2 = init[k:].reshape(nr - 2, 2)

    uf = u.astype(_F32)
    int_grid = interior.reshape(nr - 2, nc - 4)
    # float32 mirror of v for neighbor gathers: identical to casting each
    # neighbor at use time (the reference casts to float before the dot)
    vf = v.astype(_F32).ravel()
    vflat = v.ravel()
    for edges, base, gather_idx, int_idx in _wavefronts(nr, nc):
        # triangle edge columns (at most one cell of each kind per wavefront)
        for r_e, c_e in edges:
            if c_e == 1:
                pred = (v[r_e, 0] + v[r_e - 1, 1]) - v[r_e - 1, 0]
                v[r_e, 1] = _wrap32(pred + col1[r_e - 2])
            else:
                pred = (v[r_e, c_e - 1] + v[r_e - 1, c_e]) - v[r_e - 1, c_e - 1]
                v[r_e, c_e] = _wrap32(pred + last2[r_e - 2, c_e - (nc - 2)])
            vf[r_e * nc + c_e] = v[r_e, c_e]
        if base is None:
            continue
        # one gather for all 12 neighbors: flat indices (12, n) into the mirror
        z = vf[gather_idx]
        acc = (uf[0] * z[0]).astype(_F32)
        for i in range(1, 12):
            acc = (acc + uf[i] * z[i]).astype(_F32)
        est = np.floor((acc + _F32(0.5)).astype(_F32)).astype(np.int64)
        got = _wrap32(est + interior[int_idx])
        vflat[base] = got
        vf[base] = got
    return v.astype(np.int32)


_WAVEFRONT_CACHE: dict = {}


def _wavefronts(nr: int, nc: int) -> list:
    """Precomputed skewed-diagonal schedule for (nr, nc): per wavefront the
    edge cells, interior flat positions, 12-neighbor gather indices, and
    interior-symbol indices. Tiles share shapes, so this is computed once per
    shape per worker."""
    key = (nr, nc)
    if key in _WAVEFRONT_CACHE:
        return _WAVEFRONT_CACHE[key]
    stf = np.array([dr * nc + dc for dr, dc in _STENCIL], dtype=np.int64)
    out = []
    for dgl in range(3 * 2 + 1, 3 * (nr - 1) + nc):
        r_lo = max(2, -(-(dgl - (nc - 1)) // 3))
        r_hi = min(nr - 1, (dgl - 1) // 3)
        if r_lo > r_hi:
            continue
        rs = np.arange(r_lo, r_hi + 1, dtype=np.int64)
        cs = dgl - 3 * rs
        emask = (cs == 1) | (cs >= nc - 2)
        edges = list(zip(rs[emask].tolist(), cs[emask].tolist()))
        mask = (cs >= 2) & (cs <= nc - 3)
        ri, ci = rs[mask], cs[mask]
        if len(ri) == 0:
            out.append((edges, None, None, None))
            continue
        base = ri * nc + ci
        gather_idx = (base[None, :] + stf[:, None]).reshape(12, len(ri))
        int_idx = (ri - 2) * (nc - 4) + (ci - 2)
        out.append((edges, base, gather_idx, int_idx))
    if len(_WAVEFRONT_CACHE) > 64:  # bound worker memory across many shapes
        _WAVEFRONT_CACHE.clear()
    _WAVEFRONT_CACHE[key] = out
    return out


# ---------------------------------------------------------------------------
# LSOP-8: the 8-coefficient variant (lsop/LsOptimalPredictor08.java,
# LsDecoder08.java). The reference ships it DISABLED (LsCodecUtility.java:73
# comments out its registration), so the engine never races it; decode_lsop
# reads it from files, and encode_lsop8 is the test oracle of that decode.
# Differences from LSOP-12: initialization is plain differencing over row 0,
# row 1 and the first TWO columns (no triangle rows, no trailing columns);
# the 8-neighbor stencil has NO forward references, so the interior
# decodes on plain anti-diagonals; rounding is (int)(p + 0.5f) TRUNCATION,
# not StrictMath.round.
# ---------------------------------------------------------------------------

_STENCIL8 = [  # u-coefficient order (LsOptimalPredictor08.java:135-148)
    (0, -1), (-1, -1), (-1, 0), (0, -2), (-1, -2), (-2, -2), (-2, -1), (-2, 0),
]


def _init_symbols8(v64: np.ndarray) -> np.ndarray:
    nr, nc = v64.shape
    parts = [
        v64[0, 1:] - v64[0, :-1],            # row 0 differencing from seed
        np.concatenate([[v64[1, 0] - v64[0, 0]], v64[1, 1:] - v64[1, :-1]]),  # row 1, prior=v[0,0]
        # rows >= 2: cols 0 and 1, prior = first cell of the row above
        np.stack(
            [v64[2:, 0] - v64[1:-1, 0], v64[2:, 1] - v64[2:, 0]], axis=1
        ).ravel(),
    ]
    return _wrap32(np.concatenate(parts)).astype(np.int32)


def _stencil_views8(v: np.ndarray):
    """z0 (target) + 8 shifted neighbor views over interior cells
    (rows 2.., cols 2..), order as computeCoefficients :190-199."""
    nr, nc = v.shape
    cols = [v[2:, 2:]] + [v[2 + dr : nr + dr, 2 + dc : nc + dc] for dr, dc in _STENCIL8]
    return [c.ravel() for c in cols]


def compute_coefficients8(values: np.ndarray, nr: int, nc: int) -> np.ndarray | None:
    """9x9 Lagrange normal-equation solve (computeCoefficients :179-246)."""
    if nr < 4 or nc < 4:
        return None
    v = values.reshape(nr, nc).astype(np.float64)
    Z = np.stack(_stencil_views8(v), axis=1)  # (n, 9): z0 target + 8 neighbors
    s = Z.sum(axis=0)
    C = Z.T @ Z
    m = np.zeros((9, 9))
    m[:8, :8] = C[1:, 1:]
    m[:8, 8] = s[1:]
    m[8, :8] = s[1:]
    b = np.zeros(9)
    b[:8] = C[0, 1:]
    b[8] = s[0]
    try:
        sol = np.linalg.solve(m, b)
    except np.linalg.LinAlgError:
        return None
    if not np.all(np.isfinite(sol)):
        return None
    return sol[:8]


def encode_lsop8(values: np.ndarray, nr: int, nc: int) -> dict | None:
    if nr < 4 or nc < 4:
        return None
    v = values.reshape(nr, nc)
    v64 = v.astype(np.int64)
    ud = compute_coefficients8(values, nr, nc)
    if ud is None:
        return None
    u = ud.astype(np.float32)

    init_syms = _init_symbols8(v64)
    assert len(init_syms) == 2 * nc + 2 * nr - 5

    views = _stencil_views8(v64)
    zf = [w.astype(_F32) for w in views[1:]]
    acc = (_F32(u[0]) * zf[0]).astype(_F32)
    for i in range(1, 8):
        acc = (acc + _F32(u[i]) * zf[i]).astype(_F32)
    # (int)(p + 0.5f): float32 add then TRUNCATION toward zero
    est = np.trunc((acc + _F32(0.5)).astype(_F32)).astype(np.int64)
    interior = _wrap32(views[0] - est).astype(np.int32)

    init_m32 = m32_encode(init_syms)
    interior_m32 = m32_encode(interior)
    header = (
        bytes([LSOP_CODEC_INDEX, 8])
        + int(np.int64(v64[0, 0]) & 0xFFFFFFFF).to_bytes(4, "little")
        + u.astype("<f4").tobytes()
        + len(init_m32).to_bytes(4, "little")
        + len(interior_m32).to_bytes(4, "little")
        + bytes([1])
    )
    payload = header + zlib.compress(init_m32, 6) + zlib.compress(interior_m32, 6)
    return {"predictor": 8, "payload": payload, "n_bytes": len(payload)}


def decode_lsop8_parsed(
    seed: int, u: np.ndarray, init: np.ndarray, interior: np.ndarray, nr: int, nc: int
) -> np.ndarray:
    """Core LSOP-8 wavefront decode over parsed arrays (LsDecoder08.java)."""
    init = np.asarray(init, dtype=np.int64)
    interior = np.asarray(interior, dtype=np.int64)
    v = np.zeros((nr, nc), dtype=np.int64)
    k = 0
    v[0, 0] = seed
    v[0, 1:] = _wrap32(seed + np.cumsum(init[k : k + nc - 1])); k += nc - 1
    v[1, :] = _wrap32(seed + np.cumsum(init[k : k + nc])); k += nc
    two = init[k:].reshape(nr - 2, 2)
    v[2:, 0] = _wrap32(v[1, 0] + np.cumsum(two[:, 0]))
    v[2:, 1] = _wrap32(v[2:, 0] + two[:, 1])

    uf = u.astype(_F32)
    vf = v.astype(_F32).ravel()
    vflat = v.ravel()
    int_grid = interior.reshape(nr - 2, nc - 2)
    stf = np.array([dr * nc + dc for dr, dc in _STENCIL8], dtype=np.int64)
    for dgl in range(4, nr + nc - 1):
        r_lo = max(2, dgl - (nc - 1))
        r_hi = min(nr - 1, dgl - 2)
        if r_lo > r_hi:
            continue
        ri = np.arange(r_lo, r_hi + 1, dtype=np.int64)
        ci = dgl - ri
        base = ri * nc + ci
        z = vf[(base[None, :] + stf[:, None]).ravel()].reshape(8, len(ri))
        acc = (uf[0] * z[0]).astype(_F32)
        for i in range(1, 8):
            acc = (acc + uf[i] * z[i]).astype(_F32)
        est = np.trunc((acc + _F32(0.5)).astype(_F32)).astype(np.int64)
        got = _wrap32(est + int_grid[ri - 2, ci - 2])
        vflat[base] = got
        vf[base] = got
    return v.astype(np.int32)
