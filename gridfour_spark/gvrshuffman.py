"""Reference-bitstream Huffman: bit-exact port of the GVRS tree-in-stream
format (compress/HuffmanEncoder.java + HuffmanDecoder.java over
io/BitOutputStore LSB-first bit packing).

Layout (all bits LSB-first within bytes):
  [8 bits: nLeafNodes - 1]
  [pre-order tree walk: 0 = branch (left subtree, right subtree follow);
   1 = leaf, followed by the 8-bit symbol]
  [text: for each input symbol, its root->leaf path bits (left=0, right=1)]
Single-symbol streams use nLeaf-1 = 0, bit 1, 8-bit symbol (17 bits total)
and no text (HuffmanEncoder.encode:147-157).

Tree construction is the reference's exact sorted-linked-list merge
(HuffmanEncoder.encode:159-195) — NOT a generic heap: new branches insert
BEFORE existing nodes of equal count, which fixes the tree shape and makes
the bitstream reproducible. Encode parity is pinned by golden vectors
generated from the compiled reference classes (tests/test_gvrshuffman.py).

Every codec race (compress.encode_tile) runs it over each predictor's M32
bytes. A GvrsHuffman tile packing, in engine frames and files alike, is the
CodecHuffman layout: the 10-byte M32 header, then this bitstream with no
bit count, so decode_stream stops after n_symbols.
"""

from __future__ import annotations

import numpy as np

from gridfour_spark.compress import CODECS, _orbit

GVRS_HUFFMAN_CODEC_INDEX = CODECS.index("GvrsHuffman")


def _build_tree(counts: np.ndarray):
    """The reference's linked-list Huffman merge (HuffmanEncoder:159-195).

    Nodes are dicts {sym, count, left, right}. Returns (root, n_leaves) or
    (leaf_symbol, 1) for single-symbol input."""
    order = sorted(range(256), key=lambda s: (int(counts[s]), s))
    first_index = next((i for i, s in enumerate(order) if counts[s] > 0), -1)
    if first_index == 255:
        return int(order[255]), 1
    chain = [
        {"sym": s, "count": int(counts[s]), "left": None, "right": None}
        for s in order[first_index:]
    ]
    n_leaves = len(chain)
    while True:
        left, right = chain[0], chain[1]
        chain = chain[2:]
        branch = {"sym": -1, "count": left["count"] + right["count"], "left": left, "right": right}
        if not chain:
            return branch, n_leaves
        if chain[0]["count"] >= branch["count"]:
            chain.insert(0, branch)
        else:
            i = 1
            while i < len(chain) and chain[i]["count"] < branch["count"]:
                i += 1
            chain.insert(i, branch)


def _walk(root) -> tuple[list[int], dict[int, list[int]]]:
    """Pre-order serialization bits + per-symbol code paths
    (HuffmanEncoder.encodeTree:225-295, iterative like the reference)."""
    tree_bits: list[int] = []
    codes: dict[int, list[int]] = {}
    stack = [(root, [])]
    while stack:
        node, path = stack.pop()
        if node["left"] is None:
            tree_bits.append(1)
            s = node["sym"]
            tree_bits.extend((s >> k) & 1 for k in range(8))  # appendBits: LSB first
            codes[s] = path
        else:
            tree_bits.append(0)
            # pre-order: left first -> push right, then left (stack pops left)
            stack.append((node["right"], path + [1]))
            stack.append((node["left"], path + [0]))
    return tree_bits, codes


def encode(data: bytes) -> tuple[int, bytes]:
    """-> (n_bits, packed bytes): the exact BitOutputStore content."""
    if len(data) == 0:
        # an empty symbol stream has no tree; let the codec race fall back
        # (encode_tile catches ValueError) rather than IndexError-crash in
        # _build_tree (ADVICE round 2)
        raise ValueError("empty symbol stream")
    b = np.frombuffer(data, dtype=np.uint8)
    counts = np.bincount(b, minlength=256)
    root, n_leaves = _build_tree(counts)
    if n_leaves == 1:
        sym = root
        bits = np.zeros(17, dtype=np.uint8)
        bits[8] = 1
        for k in range(8):
            bits[9 + k] = (sym >> k) & 1
        return 17, np.packbits(bits, bitorder="little").tobytes()

    tree_bits, codes = _walk(root)
    header = np.zeros(8, dtype=np.uint8)
    for k in range(8):
        header[k] = ((n_leaves - 1) >> k) & 1

    # vectorized text-section scatter: one cumsum of code lengths gives
    # every symbol's bit offset
    lengths = np.zeros(256, dtype=np.int64)
    for s, c in codes.items():
        lengths[s] = len(c)
    lens = lengths[b]
    offsets = np.zeros(len(b) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    text = np.zeros(int(offsets[-1]), dtype=np.uint8)
    for s, c in codes.items():
        pos = offsets[:-1][b == s]
        if len(pos) == 0:
            continue
        cb = np.array(c, dtype=np.uint8)
        text[(pos[:, None] + np.arange(len(c))[None, :]).ravel()] = np.tile(cb, len(pos))
    bits = np.concatenate([header, np.array(tree_bits, dtype=np.uint8), text])
    return len(bits), np.packbits(bits, bitorder="little").tobytes()


def decode(n_bits: int, packed: bytes, n_symbols: int) -> bytes:
    """Parse the in-stream tree, then decode the text section — a 2^16
    window table plus pointer doubling (compress._orbit) when the max code
    length is <= 16, a per-symbol walk otherwise (HuffmanDecoder semantics
    either way)."""
    bits = np.unpackbits(np.frombuffer(packed, dtype=np.uint8), bitorder="little")[:n_bits]
    out, _ = decode_stream(bits, 0, n_symbols)
    return out


def decode_stream(bits: np.ndarray, start: int, n_symbols: int) -> tuple[bytes, int]:
    """Decode one Huffman-coded sequence starting at bit ``start`` of an
    LSB-first unpacked bit array; returns (symbols, next-bit position). The
    reference decodes several sequences from ONE BitInputStore back to back
    (LsDecoder12.decode:123-128), so the caller needs the resume position.
    A stream that ends before n_symbols raises ValueError."""
    bits = bits[start:]
    if len(bits) < 17:
        raise ValueError("Huffman stream too short for a tree")
    n_leaves = int(bits[:8] @ (1 << np.arange(8))) + 1
    pos = 8
    if n_leaves == 1:
        if bits[pos] != 1:
            raise ValueError("corrupt single-leaf Huffman tree")
        sym = int(bits[pos + 1 : pos + 9] @ (1 << np.arange(8)))
        return bytes([sym]) * n_symbols, start + pos + 9

    # parse pre-order tree
    codes: dict[int, list[int]] = {}
    stack: list[list[int]] = [[]]
    while stack:
        path = stack.pop()
        if pos + 9 > len(bits):
            raise ValueError("Huffman tree runs past the end of the stream")
        flag = int(bits[pos]); pos += 1
        if flag:
            sym = int(bits[pos : pos + 8] @ (1 << np.arange(8))); pos += 8
            codes[sym] = path
        else:
            stack.append(path + [1])
            stack.append(path + [0])
    if len(codes) != n_leaves:
        raise ValueError("corrupt tree")

    text = bits[pos:]
    max_len = max(len(c) for c in codes.values())
    if max_len <= 16:
        # windowed table decode: entry for every 16-bit window whose LOW
        # bits match a code (codes are prefix-free, spans partition the table)
        table_sym = np.zeros(1 << 16, dtype=np.uint8)
        table_len = np.zeros(1 << 16, dtype=np.uint8)
        for s, c in codes.items():
            l = len(c)
            cval = 0
            for k, bit in enumerate(c):
                cval |= bit << k
            idx = cval + (np.arange(1 << (16 - l), dtype=np.int64) << l)
            table_sym[idx] = s
            table_len[idx] = l
        padded = np.concatenate([text, np.zeros(16, dtype=np.uint8)])
        w = np.lib.stride_tricks.sliding_window_view(padded, 16)[: len(text)] @ (
            np.int64(1) << np.arange(16)
        )
        nxt = np.append(
            np.minimum(np.arange(len(text), dtype=np.int64) + table_len[w], len(text)),
            len(text),
        )
        starts = _orbit(nxt, n_symbols)
        if starts[-1] >= len(text):  # the walk reached the end's fixed point
            raise ValueError("Huffman text ends before n_symbols")
        end = int(starts[-1]) + int(table_len[w[starts[-1]]])
        if end > len(text):
            raise ValueError("Huffman text ends before n_symbols")
        return table_sym[w[starts]].tobytes(), start + pos + end

    # deep-tree fallback: sequential walk (rare; fibonacci-like counts only)
    root: dict = {}
    for s, c in codes.items():
        node = root
        for bit in c:
            node = node.setdefault(bit, {})
        node["sym"] = s
    out = np.empty(n_symbols, dtype=np.uint8)
    p = 0
    for i in range(n_symbols):
        node = root
        while "sym" not in node:
            if p >= len(text):
                raise ValueError("Huffman text ends before n_symbols")
            node = node[int(text[p])]
            p += 1
        out[i] = node["sym"]
    return out.tobytes(), start + pos + p
