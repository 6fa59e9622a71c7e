"""Predictor-based lossless tile compression — Gridfour's codecs as numpy kernels.

Re-expresses the reference compression stack (the "bits-per-sample" half of
the baseline metric) as columnar Arrow kernels over tile rows:

- C1 differencing predictor  (compress/PredictorModelDifferencing.java:102-140)
- C2 linear (2nd-order)      (compress/PredictorModelLinear.java:104-141)
- C3 triangle predictor      (compress/PredictorModelTriangle.java:101-145)
- C5 M32 variable-length int (compress/CodecM32.java:55-312: +/-126 one byte,
  +/-127 introducer, -128 = Integer.MIN_VALUE, thresholds 126/254/16638/
  2113790/270549246, big-endian 7-bit continuation groups)
- C6 Deflate codec packing   (compress/CodecDeflate.java:109-152:
  [codecIndex][predictorType][seed int32 LE][nM32 int32 LE][deflate body])
- C11 codec race             (CodecMaster.encodeSingleThread:150-168 +
  RecordManager.writeTile:448-461: all predictors tried, smallest kept, and
  kept only if smaller than the standard uncompressed payload)

Integer semantics: all residuals are Java 32-bit int arithmetic (wrapping).
numpy int32 ops wrap identically; the linear/triangle predictors compute the
prediction in int64 then truncate to int32, exactly like the reference's
`(int)(2L*b - a)` casts.

Both directions are fully vectorized. Encoding scatters with cumsum offsets;
decoding (the RecordManager.readTile:492-515 hot path) recovers symbol starts
with pointer-doubling list ranking (_orbit) and reconstructs the predictors
with double-cumulative-sum closed forms (every predictor recurrence is linear
mod 2^32). The streaming M32 walk (m32_decode_scalar) is kept as the test
oracle of the vectorized M32 decode.
"""

from __future__ import annotations

import zlib

import numpy as np

PREDICTOR_DIFFERENCING = 1  # PredictorModelType codes (PredictorModelType.java:51-63)
PREDICTOR_LINEAR = 2
PREDICTOR_TRIANGLE = 3
PREDICTOR_DIFFERENCING_NULLS = 4

INT32_MIN = -(2**31)  # INT4_NULL_CODE (GridfourConstants)


def _i32(a):
    return a.astype(np.int32, copy=False)


# ---------------------------------------------------------------------------
# predictors: values (nr x nc int32, row-major) -> residual symbol stream
# ---------------------------------------------------------------------------

def residuals_differencing(v: np.ndarray) -> tuple[int, np.ndarray]:
    """seed = v[0,0]; row 0: horizontal deltas; rows >= 1: first symbol is the
    vertical delta from the cell above, then horizontal deltas (the reference
    re-seeds each row from `values[index - nColumns]`,
    PredictorModelDifferencing.java:120-135)."""
    v = _i32(v)
    nr, nc = v.shape
    out = []
    with np.errstate(over="ignore"):
        out.append(v[0, 1:] - v[0, :-1])
        if nr > 1:
            first = v[1:, 0] - v[:-1, 0]
            rows = v[1:, 1:] - v[1:, :-1]
            inter = np.concatenate([first[:, None], rows], axis=1).ravel()
            out.append(inter)
    return int(v[0, 0]), _i32(np.concatenate(out)) if out else np.empty(0, np.int32)


def residuals_linear(v: np.ndarray) -> tuple[int, np.ndarray]:
    """Second-order along rows: pred = (int)(2L*b - a); the first two columns
    are seeded by a vertical/horizontal differencing chain
    (PredictorModelLinear.java:108-141)."""
    v = _i32(v)
    v64 = v.astype(np.int64)
    nr, nc = v.shape
    syms = [np.array([v64[0, 1] - v64[0, 0]], dtype=np.int64)]
    if nr > 1:
        d0 = v64[1:, 0] - v64[:-1, 0]         # col-0 vertical chain
        d1 = v64[1:, 1] - v64[1:, 0]          # col-1 minus col-0 per row
        syms.append(np.stack([d0, d1], axis=1).ravel())
    if nc > 2:
        a = v64[:, :-2]
        b = v64[:, 1:-1]
        c = v64[:, 2:]
        # (int)(2L*b - a): int64 math truncated to int32, then int residual
        pred32 = ((2 * b - a + 2**31) % 2**32) - 2**31
        res = ((c - pred32 + 2**31) % 2**32) - 2**31
        syms.append(res.ravel())
    stream = _i32(np.concatenate(syms))
    return int(v[0, 0]), stream


def residuals_triangle(v: np.ndarray) -> tuple[int, np.ndarray]:
    """pred = (int)(zc + zb - za) (left + above - above-left); row 0 and
    column 0 are simple difference chains (PredictorModelTriangle.java:101-145).
    Grids smaller than 2x2 are not encodable (reference returns -1)."""
    v = _i32(v)
    v64 = v.astype(np.int64)
    nr, nc = v.shape
    if nr < 2 or nc < 2:
        raise ValueError("triangle predictor requires at least 2x2")
    row0 = v64[0, 1:] - v64[0, :-1]
    col0 = v64[1:, 0] - v64[:-1, 0]
    za = v64[:-1, :-1]
    zb = v64[1:, :-1]
    zc = v64[:-1, 1:]
    pred = zc + zb - za
    pred32 = ((pred + 2**31) % 2**32 - 2**31)
    interior = (v64[1:, 1:] - pred32)
    stream = _i32(np.concatenate([row0, col0, interior.ravel()]))
    return int(v[0, 0]), stream


def residuals_differencing_nulls(v: np.ndarray) -> tuple[int, np.ndarray] | None:
    """C4: differencing with embedded null cells
    (compress/PredictorModelDifferencingWithNulls.java:66-134).

    Two passes, both vectorized:
    1. seed = round(mean of every non-null value that immediately follows a
       null in row-major order); the scan state re-seeds per row from the
       FIRST cell of the row above (`nullFlag = values[rowOffset] == NULL`).
    2. per-cell symbols: null cells emit NULL_DATA_CODE; non-null cells emit
       the wrapped int32 delta from their prior (left neighbor; col 0 takes
       the first cell of the row above; a null prior resets to the seed).

    Unlike the standard predictors this emits ONE symbol per cell (nr*nc
    symbols, no implicit seed cell). Returns None when the tile has no valid
    data, or when a wrapped delta would collide with the null code (a latent
    ambiguity in the reference bitstream; declining keeps round-trips exact).
    """
    v = _i32(v)
    nr, nc = v.shape
    v64 = v.astype(np.int64)
    null = v == INT32_MIN

    # nullFlag entering each cell: left neighbor null; col 0 inherits from
    # the first cell of the row above; the very first cell starts flagged.
    flag = np.empty((nr, nc), dtype=bool)
    if nc > 1:
        flag[:, 1:] = null[:, :-1]
    flag[0, 0] = True
    if nr > 1:
        flag[1:, 0] = null[:-1, 0]
    contrib = (~null) & flag
    n_start = int(contrib.sum())
    if n_start == 0:
        return None
    seed = int(math_floor_half_up(v64[contrib].sum(), n_start))

    # prior per cell (encode pass starts prior=seed, nullFlag=false)
    prior = np.empty((nr, nc), dtype=np.int64)
    prior_null = np.zeros((nr, nc), dtype=bool)
    if nc > 1:
        prior[:, 1:] = v64[:, :-1]
        prior_null[:, 1:] = null[:, :-1]
    prior[0, 0] = seed
    if nr > 1:
        prior[1:, 0] = v64[:-1, 0]
        prior_null[1:, 0] = null[:-1, 0]
    prior = np.where(prior_null, np.int64(seed), prior)
    delta = ((v64 - prior + 2**31) % 2**32) - 2**31
    syms = np.where(null, np.int64(INT32_MIN), delta)
    if bool(np.any(~null & (syms == INT32_MIN))):
        return None
    return seed, syms.ravel().astype(np.int32)


def math_floor_half_up(total: int, n: int) -> int:
    """(int) Math.floor(sum / n + 0.5) — the reference's seed rounding."""
    import math

    return int(math.floor(total / n + 0.5))


def _unpredict_differencing_nulls(seed: int, syms: np.ndarray, nr: int, nc: int) -> np.ndarray:
    """Inverse of residuals_differencing_nulls
    (PredictorModelDifferencingWithNulls.decode:137-166), vectorized:
    column 0 chains down rows (cheap nr-loop), then every row reconstructs
    via a segmented cumulative sum anchored at null resets (anchor=seed) and
    at column 0."""
    s = syms.astype(np.int64).reshape(nr, nc)
    null = s == INT32_MIN

    col0 = np.zeros(nr, dtype=np.int64)
    prior = np.int64(seed)
    prior_is_null = True
    for r in range(nr):
        if null[r, 0]:
            col0[r] = INT32_MIN
            prior_is_null = True
        else:
            base = np.int64(seed) if prior_is_null else prior
            col0[r] = ((base + s[r, 0] + 2**31) % 2**32) - 2**31
            prior_is_null = False
        prior = col0[r]

    cs = np.cumsum(np.where(null, 0, s), axis=1)
    col_idx = np.arange(nc, dtype=np.int64)
    reset = null.copy()
    reset[:, 0] = True
    last_reset = np.maximum.accumulate(np.where(reset, col_idx, 0), axis=1)
    anchor = np.where(null, np.int64(seed), np.int64(0))
    anchor[:, 0] = np.where(null[:, 0], np.int64(seed), col0)
    rr = np.arange(nr)[:, None]
    vals = ((anchor[rr, last_reset] + cs - cs[rr, last_reset] + 2**31) % 2**32) - 2**31
    vals = np.where(null, np.int64(INT32_MIN), vals)
    vals[:, 0] = col0
    return vals.astype(np.int32)


def _unpredict_differencing(seed: int, syms: np.ndarray, nr: int, nc: int) -> np.ndarray:
    v = np.zeros((nr, nc), dtype=np.int64)
    v[0, 0] = seed
    k = 0
    with np.errstate(over="ignore"):
        row0 = np.concatenate([[np.int32(seed)], syms[: nc - 1]])
        v[0, :] = np.cumsum(row0.astype(np.int64))
        k = nc - 1
        for r in range(1, nr):
            row = syms[k : k + nc].astype(np.int64)
            row[0] += v[r - 1, 0]
            v[r, :] = np.cumsum(row)
            k += nc
    return ((v + 2**31) % 2**32 - 2**31).astype(np.int32)


def _wrap32_i64(a: np.ndarray) -> np.ndarray:
    return ((a + 2**31) % 2**32) - 2**31


def _unpredict_linear(seed: int, syms: np.ndarray, nr: int, nc: int) -> np.ndarray:
    """Vectorized second-order decode: pred = 2b - a means the first
    difference E[c] = v[c] - v[c-1] satisfies E[c] = E[c-1] + s[c], so the
    row reconstructs as TWO cumulative sums. Every step is linear mod 2^32,
    so int64 cumsums with a wrap between passes are exact."""
    s = syms.astype(np.int64)
    v = np.zeros((nr, nc), dtype=np.int64)
    v[0, 0] = seed
    v[0, 1] = seed + s[0]
    if nr > 1:
        pairs = s[1 : 1 + 2 * (nr - 1)].reshape(nr - 1, 2)
        v[1:, 0] = seed + np.cumsum(pairs[:, 0])
        v[1:, 1] = v[1:, 0] + pairs[:, 1]
    if nc > 2:
        interior = s[1 + 2 * (nr - 1) :].reshape(nr, nc - 2)
        e1 = v[:, 1] - v[:, 0]
        e = _wrap32_i64(e1[:, None] + np.cumsum(interior, axis=1))
        v[:, 2:] = v[:, 1:2] + np.cumsum(e, axis=1)
    return _wrap32_i64(v).astype(np.int32)


def _unpredict_triangle(seed: int, syms: np.ndarray, nr: int, nc: int) -> np.ndarray:
    """Vectorized triangle decode: the vertical difference
    D[r,c] = v[r,c] - v[r-1,c] satisfies D[r,c] = D[r,c-1] + s[r,c], so the
    interior is a row cumsum of symbols followed by a column cumsum of D —
    two passes, no per-cell Python. Linear mod 2^32 throughout."""
    s = syms.astype(np.int64)
    v = np.zeros((nr, nc), dtype=np.int64)
    v[0, :] = seed + np.concatenate([[0], np.cumsum(s[: nc - 1])])
    if nr > 1:
        col0_d = s[nc - 1 : nc - 1 + nr - 1]
        v[1:, 0] = v[0, 0] + np.cumsum(col0_d)
        if nc > 1:
            interior = s[nc - 1 + nr - 1 :].reshape(nr - 1, nc - 1)
            d = _wrap32_i64(col0_d[:, None] + np.cumsum(interior, axis=1))
            v[1:, 1:] = v[0, 1:][None, :] + np.cumsum(d, axis=0)
    return _wrap32_i64(v).astype(np.int32)


PREDICTORS = {
    PREDICTOR_DIFFERENCING: (residuals_differencing, _unpredict_differencing),
    PREDICTOR_LINEAR: (residuals_linear, _unpredict_linear),
    PREDICTOR_TRIANGLE: (residuals_triangle, _unpredict_triangle),
}

# the nulls predictor never joins the no-null race (CodecDeflate.encode:178-186)
# but shares the decode dispatch table; it emits nr*nc symbols (no seed cell)
ALL_PREDICTORS = {
    **PREDICTORS,
    PREDICTOR_DIFFERENCING_NULLS: (residuals_differencing_nulls, _unpredict_differencing_nulls),
}


def n_symbols_for(ptype: int, nr: int, nc: int) -> int:
    return nr * nc if ptype == PREDICTOR_DIFFERENCING_NULLS else nr * nc - 1


# ---------------------------------------------------------------------------
# M32 varint (CodecM32.java) — vectorized encode, streaming decode
# ---------------------------------------------------------------------------

_M32_BASES = np.array([127, 255, 16639, 2113791, 270549247], dtype=np.int64)


def m32_encode(values: np.ndarray) -> bytes:
    """Vectorized M32 encoding of an int32 symbol stream."""
    v = values.astype(np.int64)
    absv = np.abs(v)
    is_min = v == INT32_MIN
    single = (~is_min) & (absv <= 126)
    multi = (~is_min) & (~single)

    # bytes needed per value
    nbytes = np.ones(len(v), dtype=np.int64)
    if multi.any():
        a = absv
        nb = np.select(
            [a <= 254, a <= 16638, a <= 2113790, a <= 270549246],
            [2, 3, 4, 5],
            default=6,
        )
        nbytes = np.where(multi, nb, nbytes)

    offsets = np.zeros(len(v) + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    out = np.zeros(offsets[-1], dtype=np.uint8)

    # singles (incl. MIN_VALUE = -128)
    out[offsets[:-1][single]] = v[single].astype(np.int8).view(np.uint8)
    out[offsets[:-1][is_min]] = 0x80

    if multi.any():
        mi = np.flatnonzero(multi)
        mo = offsets[:-1][mi]
        neg = v[mi] < 0
        # introducer: -127 (0x81 unsigned) for negative, 127 for positive
        out[mo] = np.where(neg, 0x81, 0x7F)
        a = absv[mi]
        nb = nbytes[mi]
        base = _M32_BASES[nb - 2]
        delta = a - base
        # write continuation bytes big-endian: positions 1..nb-1 after intro
        maxcont = 5
        for j in range(maxcont):
            sel = nb - 1 >= (j + 1)  # has at least j+1 content bytes
            if not sel.any():
                continue
            idx = np.flatnonzero(sel)
            shift = (nb[idx] - 2 - j) * 7
            valid = shift >= 0
            idx = idx[valid]
            shift = shift[valid]
            frag = ((delta[idx] >> shift) & 0x7F).astype(np.uint8)
            is_last = shift == 0
            frag = np.where(is_last, frag, frag | 0x80)
            out[mo[idx] + 1 + j] = frag
    return out.tobytes()


def m32_decode_scalar(buf: bytes, n_symbols: int) -> np.ndarray:
    """Streaming M32 decode (exact port of CodecM32.decode:318-360).

    Kept as the test oracle for the vectorized decode below."""
    out = np.empty(n_symbols, dtype=np.int32)
    b = np.frombuffer(buf, dtype=np.uint8)
    pos = 0
    for i in range(n_symbols):
        s = b[pos]
        pos += 1
        sym = s - 256 if s >= 128 else int(s)
        if sym == -128:
            out[i] = INT32_MIN
            continue
        if -127 < sym < 127:
            out[i] = sym
            continue
        delta = 0
        for k in range(5):
            sample = int(b[pos]); pos += 1
            delta = (delta << 7) | (sample & 0x7F)
            if (sample & 0x80) == 0:
                if sym == -127:
                    delta = -delta - int(_M32_BASES[k])
                else:
                    delta += int(_M32_BASES[k])
                break
        out[i] = delta
    return out


def _orbit(nxt: np.ndarray, n_steps: int) -> np.ndarray:
    """Positions visited by iterating p -> nxt[p] from 0, n_steps entries.

    Vectorized list ranking by pointer doubling: after pass j the first 2^j
    positions are known and `jump` is nxt composed 2^j times — O(n log n)
    gathers, no per-element Python. This is the trick that makes the
    variable-length decode paths (M32, GvrsHuffman) columnar."""
    starts = np.empty(n_steps, dtype=np.int64)
    starts[0] = 0
    filled = 1
    jump = nxt
    while filled < n_steps:
        take = min(filled, n_steps - filled)
        starts[filled : filled + take] = jump[starts[:take]]
        filled += take
        if filled < n_steps:
            jump = jump[jump]
    return starts


def m32_decode(buf: bytes, n_symbols: int) -> np.ndarray:
    """Vectorized M32 decode (semantics of CodecM32.decode:318-360).

    The read-path hot loop (RecordManager.readTile:492-515 equivalent):
    1. classify every byte position as if a symbol started there — length is
       1 unless the byte is an introducer (0x7F/0x81), in which case the
       symbol ends at the next byte with the high bit clear;
    2. recover the true symbol starts with pointer doubling (_orbit);
    3. decode singles and multi-byte groups with masked gathers.
    """
    if n_symbols == 0:
        return np.empty(0, np.int32)
    b = np.frombuffer(buf, dtype=np.uint8)
    n = len(b)
    if n == n_symbols:  # every symbol is one byte — no start-finding needed
        sym8 = b.astype(np.int8).astype(np.int32)
        return np.where(sym8 == -128, np.int32(INT32_MIN), sym8).astype(np.int32)
    idx = np.arange(n, dtype=np.int64)
    intro = (b == 0x7F) | (b == 0x81)
    clear_pos = np.flatnonzero((b & 0x80) == 0)
    # first clear byte strictly after p (continuation terminator)
    nc_i = np.searchsorted(clear_pos, idx, side="right")
    next_clear = np.where(
        nc_i < len(clear_pos), clear_pos[np.minimum(nc_i, len(clear_pos) - 1)], n - 1
    )
    nxt = np.where(intro, next_clear + 1, idx + 1)
    nxt = np.append(np.minimum(nxt, n), n)  # position n is a fixed point

    starts = _orbit(nxt, n_symbols)
    if starts[-1] >= n:
        raise ValueError(f"M32 stream of {n} bytes holds fewer than {n_symbols} symbols")
    first = b[starts]
    sym8 = first.astype(np.int8).astype(np.int32)
    out = np.where(sym8 == -128, np.int32(INT32_MIN), sym8)

    multi = intro[starts]
    if multi.any():
        mp = starts[multi]
        n_cont = next_clear[mp] - mp  # continuation bytes incl. terminator (1..5)
        delta = np.zeros(len(mp), dtype=np.int64)
        for j in range(5):
            has = n_cont >= j + 1
            if not has.any():
                break
            pos = np.minimum(mp + 1 + j, n - 1)
            shift = 7 * np.maximum(n_cont - 1 - j, 0)
            delta += np.where(has, (b[pos] & 0x7F).astype(np.int64) << shift, 0)
        base = _M32_BASES[n_cont - 1]
        val = np.where(first[multi] == 0x81, -delta - base, delta + base)
        out[multi] = val.astype(np.int32)
    return out.astype(np.int32)


# ---------------------------------------------------------------------------
# codec table, codec race and the one decode dispatch
# ---------------------------------------------------------------------------

# packing byte 0 -> codec: the GVRS writer declares this list as the file's
# codec table, so an engine packing is the block write_gvrs stores, byte for
# byte. The order is the reference's DEFAULT codec list
# (GvrsFileSpecification ctor order Huffman, Deflate, Float, CanonHuffman)
# + LSOP12, so the indexes hold even if a reader ignores the GvrsJavaCodecs
# metadata.
CODECS = ["GvrsHuffman", "GvrsDeflate", "GvrsFloat", "GvrsCanonicalHuffman", "LSOP12"]
CODEC_DEFLATE_INDEX = CODECS.index("GvrsDeflate")
CODEC_CANON_INDEX = CODECS.index("GvrsCanonicalHuffman")


def encode_tile(values: np.ndarray, nr: int, nc: int, use_lsop: bool = False) -> dict:
    """Race all predictors through M32+Deflate and M32+GvrsHuffman; keep the
    smallest packing (CodecMaster.encodeSingleThread:150-168).

    Returns {predictor, payload, n_bytes, standard_bytes, kept} where kept is
    False when compression did not beat the standard payload
    (RecordManager.writeTile:448-461). A uniform tile without nulls takes the
    reference's 6-byte canonical-Huffman special form
    (CodecCanonHuffman.encode:100-115), which no raced packing beats. With
    use_lsop=True the LSOP-12 codec joins the race (the reference's opt-in
    registration, lsop/LsCodecUtility.java:53-69)."""
    from gridfour_spark import gvrshuffman as _g

    v = values.reshape(nr, nc)
    standard = nr * nc * 4
    has_nulls = bool((v == INT32_MIN).any())
    if not has_nulls and int(v.min()) == int(v.max()):
        seed = int(v.flat[0]) & 0xFFFFFFFF
        return {
            "predictor": 0,
            "payload": bytes([CODEC_CANON_INDEX, 0]) + seed.to_bytes(4, "little"),
            "n_bytes": 6,
            "n_symbols": nr * nc - 1,
            "codec": "canon_gvrs",
            "standard_bytes": standard,
            "kept": 6 < standard,
        }
    best = None
    if use_lsop and not has_nulls:
        from gridfour_spark import lsop as _lsop

        r = _lsop.encode_lsop(values.astype(np.int32), nr, nc)
        if r is not None:
            best = {
                "predictor": r["predictor"],
                "payload": r["payload"],
                "n_bytes": r["n_bytes"],
                "n_symbols": nr * nc - 1,
                "codec": "lsop12",
            }
    # null gating mirrors CodecDeflate.encode:158-186: tiles with embedded
    # nulls race ONLY the null-supporting predictor; tiles without race the
    # standard three
    if has_nulls:
        race = {PREDICTOR_DIFFERENCING_NULLS: (residuals_differencing_nulls, None)}
    else:
        race = PREDICTORS
    for ptype, (enc, _dec) in race.items():
        if ptype == PREDICTOR_TRIANGLE and (nr < 2 or nc < 2):
            continue
        try:
            r = enc(v)
        except (ValueError, IndexError):
            # degenerate shapes (e.g. 1x1 tiles, permitted by GridSpec) fall
            # back to raw instead of crashing the kernel (ADVICE round 2)
            continue
        if r is None:  # all-null tile or null-code delta collision
            continue
        seed, syms = r
        m32 = m32_encode(syms)
        header = (
            bytes([ptype])
            + int(np.int64(seed) & 0xFFFFFFFF).to_bytes(4, "little")
            + len(m32).to_bytes(4, "little")
        )
        candidates = [
            ("deflate", bytes([CODEC_DEFLATE_INDEX]) + header + zlib.compress(m32, 6)),
        ]
        if len(m32):  # a 1x1 tile has no symbols, so Huffman has no tree
            candidates.append(
                ("huffman_gvrs", bytes([_g.GVRS_HUFFMAN_CODEC_INDEX]) + header + _g.encode(m32)[1])
            )
        for codec_name, packing in candidates:
            if best is None or len(packing) < best["n_bytes"]:
                best = {
                    "predictor": ptype,
                    "payload": packing,
                    "n_bytes": len(packing),
                    "n_symbols": len(syms),
                    "codec": codec_name,
                }
    if best is None:  # no predictor could encode (e.g. all-null tile): store raw
        best = {"predictor": 0, "payload": b"", "n_bytes": standard, "n_symbols": 0, "codec": "raw"}
    best["standard_bytes"] = standard
    best["kept"] = best["n_bytes"] < standard
    return best


def decode_tile(packing: bytes, nr: int, nc: int) -> np.ndarray:
    """Inverse of encode_tile: byte 0 names the codec through CODECS."""
    if not packing:
        raise ValueError("empty packing has no codec byte")
    if packing[0] >= len(CODECS):
        raise ValueError(f"unknown codec index {packing[0]}")
    return decode_packing(CODECS[packing[0]], packing, nr, nc)


def decode_packing(codec: str, packing: bytes, nr: int, nc: int) -> np.ndarray:
    """One decoder per reference codec name (CodecMaster.decode:195-202) for
    engine frames and GVRS files alike -> (nr, nc) cells: integers, or
    float32 for GvrsFloat. A corrupt packing raises ValueError."""
    try:
        if codec in ("GvrsDeflate", "GvrsHuffman"):
            v = _decode_m32_packing(codec, packing, nr, nc)
        elif codec in ("LSOP12", "LSOP08"):
            from gridfour_spark import lsop as _l

            v = _l.decode_lsop(packing, nr, nc)
        elif codec == "GvrsCanonicalHuffman":
            from gridfour_spark import canonhuffman as _ch

            v = _ch.decode_tile(packing, nr, nc)
        elif codec == "GvrsFloat":
            from gridfour_spark import floatcodec as _fc

            v = _fc.decode_float_tile(packing, nr, nc)
        else:
            raise NotImplementedError(f"codec {codec!r} is not supported")
    except (zlib.error, IndexError) as exc:
        # a Deflate stream or a header byte read that runs past the packing
        raise ValueError(f"corrupt {codec} packing: {exc}") from exc
    return v.reshape(nr, nc)


def _decode_m32_packing(codec: str, packing: bytes, nr: int, nc: int) -> np.ndarray:
    """[codec][predictor][seed i32 LE][nM32 i32 LE][body]: the body codes the
    M32 bytes with Deflate (CodecDeflate.decode:109-152) or GVRS
    tree-in-stream Huffman (CodecHuffman.decode)."""
    if len(packing) < 10:
        raise ValueError(f"{codec} packing of {len(packing)} bytes has no header")
    ptype = packing[1]
    seed = int.from_bytes(packing[2:6], "little", signed=True)
    n_m32 = int.from_bytes(packing[6:10], "little")
    body = packing[10:]
    if codec == "GvrsDeflate":
        m32 = zlib.decompress(body)
    else:
        from gridfour_spark import gvrshuffman as _g

        m32 = _g.decode(8 * len(body), body, n_m32)
    if len(m32) != n_m32:
        raise ValueError(f"{codec} packing holds {len(m32)} M32 bytes, header says {n_m32}")
    return unpredict(ptype, seed, m32_decode(m32, n_symbols_for(ptype, nr, nc)), nr, nc)


def unpredict(ptype: int, seed: int, syms: np.ndarray, nr: int, nc: int) -> np.ndarray:
    """Residual symbols -> cells through predictor `ptype`'s inverse."""
    if ptype not in ALL_PREDICTORS:
        raise ValueError(f"unknown predictor {ptype}")
    return ALL_PREDICTORS[ptype][1](seed, syms, nr, nc)


def bits_per_sample(total_bytes: int, n_cells: int) -> float:
    """storage bits/sample = 8*bytes/nCells (PackageData.java:546-549)."""
    return 8.0 * total_bytes / n_cells
