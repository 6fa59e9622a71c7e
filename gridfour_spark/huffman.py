"""C7/C8: length-limited canonical Huffman codec for M32 residual byte streams.

Re-expression of compress/CodecHuffman.java + canonicalHuffman/
CanonicalHuffman.java: predictor residuals -> M32 bytes -> Huffman-coded
bitstream. The reference serializes its tree inside the bitstream with a
compact walk (HuffmanEncoder.java:40-80); this engine stores CANONICAL code
lengths (one byte per symbol, Deflate'd), which decode with the standard
first-code/offset method (the canonical-Huffman property the reference's
canonicalHuffman package exploits, CanonicalHuffman.java).

C8 complete: code lengths come from the boundary package-merge algorithm
(Larmore-Hirschberg), giving OPTIMAL codes under a 16-bit length cap. The
cap is what makes the decoder columnar: a single 2^16-entry (symbol, length)
lookup table turns bit-walking into

  window ints -> table gather -> pointer-doubling over bit positions

with no per-symbol Python (see _orbit in compress.py — the same list-ranking
trick as the vectorized M32 decode).

Where Deflate "essentially devolves into a Huffman encoder" on pattern-free
residuals (LsEncoder12.java:40-52 commentary), a dedicated Huffman with a
small table wins on short tiles — it joins the codec race like every other
codec and is kept only when smallest.
"""

from __future__ import annotations

import zlib

import numpy as np

from gridfour_spark.compress import CODECS, _orbit

HUFFMAN_CODEC_INDEX = CODECS.index("Huffman")
MAX_CODE_LEN = 16  # enables the single-level decode table (2^16 entries)


def code_lengths(counts: np.ndarray, max_len: int = MAX_CODE_LEN) -> np.ndarray:
    """Optimal length-limited Huffman code lengths via boundary package-merge
    (the length-limiting the reference's canonicalHuffman package leaves to
    its tree shape; package-merge makes the 16-bit cap lossless-optimal)."""
    sym = np.flatnonzero(counts)
    out = np.zeros(256, dtype=np.uint8)
    if len(sym) == 0:
        return out
    if len(sym) == 1:
        out[sym[0]] = 1
        return out
    if len(sym) > (1 << max_len):
        raise ValueError("alphabet too large for length cap")
    # items: (weight, tiebreak, [symbols]) — leaves sorted by weight
    leaves = sorted((int(counts[s]), int(s), [int(s)]) for s in sym)
    prev: list = []
    for _level in range(max_len):
        merged = []
        for i in range(0, len(prev) - 1, 2):
            a, b = prev[i], prev[i + 1]
            merged.append((a[0] + b[0], 256 + min(a[1], b[1]), a[2] + b[2]))
        prev = sorted(leaves + merged)
    for _w, _t, syms in prev[: 2 * len(sym) - 2]:
        for s in syms:
            out[s] += 1
    return out


def canonical_codes(lengths: np.ndarray) -> np.ndarray:
    """Canonical code assignment: symbols sorted by (length, value)."""
    codes = np.zeros(256, dtype=np.uint64)
    order = sorted((int(l), s) for s, l in enumerate(lengths) if l > 0)
    code = 0
    prev_len = 0
    for l, s in order:
        code <<= l - prev_len
        codes[s] = code
        code += 1
        prev_len = l
    return codes


def huff_encode(data: bytes) -> bytes:
    """bytes -> [RLE'd length table][n_bits u32][bitstream]."""
    b = np.frombuffer(data, dtype=np.uint8)
    counts = np.bincount(b, minlength=256)
    lengths = code_lengths(counts)
    codes = canonical_codes(lengths)

    lens = lengths[b].astype(np.int64)
    total_bits = int(lens.sum())
    offsets = np.zeros(len(b) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    bits = np.zeros(total_bits, dtype=np.uint8)
    for s in np.flatnonzero(counts):
        l = int(lengths[s])
        c = int(codes[s])
        cbits = np.array([(c >> (l - 1 - k)) & 1 for k in range(l)], dtype=np.uint8)
        pos = offsets[:-1][b == s]
        bits[(pos[:, None] + np.arange(l)[None, :]).ravel()] = np.tile(cbits, len(pos))
    stream = np.packbits(bits, bitorder="big").tobytes()

    table = zlib.compress(lengths.tobytes(), 9)
    return (
        len(table).to_bytes(2, "little")
        + table
        + total_bits.to_bytes(4, "little")
        + len(b).to_bytes(4, "little")
        + stream
    )


def _decode_tables(lengths: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """2^MAX_CODE_LEN lookup: window int -> (symbol, code length).

    Canonical codes fill the table contiguously — for a code c of length l,
    entries [c << (16-l), (c+1) << (16-l)) map to it, so one vectorized
    np.repeat fills all 65536 slots."""
    order = sorted((int(l), s) for s, l in enumerate(lengths) if l > 0)
    codes = canonical_codes(lengths)
    syms = np.array([s for _l, s in order], dtype=np.uint8)
    lens = np.array([l for l, _s in order], dtype=np.int64)
    spans = np.int64(1) << (MAX_CODE_LEN - lens)
    if len(order) == 1:  # single 1-bit code: pad the other half-table too
        spans = np.array([1 << MAX_CODE_LEN], dtype=np.int64)
    table_sym = np.repeat(syms, spans)
    table_len = np.repeat(lens.astype(np.uint8), spans)
    # sanity: complete canonical tree fills the table exactly
    base = (codes[syms].astype(np.int64) << (MAX_CODE_LEN - lens))[0] if len(order) else 0
    if len(table_sym) != (1 << MAX_CODE_LEN) or base != 0:
        raise ValueError("corrupt Huffman length table")
    return table_sym, table_len


def _decode_slow(lengths: np.ndarray, bits: np.ndarray, n_syms: int) -> bytes:
    """Compatibility path for payloads whose code lengths exceed
    MAX_CODE_LEN (the pre-package-merge encoder emitted heap-built codes up
    to 32 bits; ADVICE round 2). First-code/offset canonical walk — scalar,
    but only legacy payloads ever reach it."""
    order = sorted((int(l), s) for s, l in enumerate(lengths) if l > 0)
    max_l = order[-1][0]
    first_code = [0] * (max_l + 2)
    first_idx = [0] * (max_l + 2)
    count = [0] * (max_l + 2)
    for i, (l, _s) in enumerate(order):
        if count[l] == 0:
            first_idx[l] = i
        count[l] += 1
    code = 0
    for l in range(1, max_l + 1):
        code <<= 1
        first_code[l] = code
        code += count[l]
    syms = bytearray(n_syms)
    out_i = 0
    acc = 0
    l = 0
    for bit in bits.tolist():
        acc = (acc << 1) | bit
        l += 1
        if count[l] and (off := acc - first_code[l]) < count[l] and off >= 0:
            syms[out_i] = order[first_idx[l] + off][1]
            out_i += 1
            if out_i == n_syms:
                break
            acc = 0
            l = 0
    if out_i != n_syms:
        raise ValueError("truncated Huffman bitstream")
    return bytes(syms)


def huff_decode(packed: bytes) -> bytes:
    """Vectorized table-driven decode: sliding 16-bit windows over the
    bitstream, symbol length per position from the canonical table, then
    pointer doubling recovers the symbol start positions."""
    tlen = int.from_bytes(packed[0:2], "little")
    lengths = np.frombuffer(zlib.decompress(packed[2 : 2 + tlen]), dtype=np.uint8)
    pos = 2 + tlen
    total_bits = int.from_bytes(packed[pos : pos + 4], "little")
    n_syms = int.from_bytes(packed[pos + 4 : pos + 8], "little")
    if n_syms == 0:
        return b""
    bits = np.unpackbits(
        np.frombuffer(packed[pos + 8 :], dtype=np.uint8), bitorder="big"
    )[:total_bits]

    if int(lengths.max(initial=0)) > MAX_CODE_LEN:
        return _decode_slow(lengths, bits, n_syms)

    table_sym, table_len = _decode_tables(lengths)

    padded = np.concatenate([bits, np.zeros(MAX_CODE_LEN, dtype=np.uint8)])
    windows = np.lib.stride_tricks.sliding_window_view(padded, MAX_CODE_LEN)[:total_bits]
    pw = (np.int64(1) << np.arange(MAX_CODE_LEN - 1, -1, -1)).astype(np.int64)
    w = windows @ pw  # 16-bit window int at every bit position

    nxt = np.append(
        np.minimum(np.arange(total_bits, dtype=np.int64) + table_len[w], total_bits),
        total_bits,
    )
    starts = _orbit(nxt, n_syms)
    return table_sym[w[starts]].tobytes()
