"""Property-based round-trip tests over the codec kernels (hypothesis).

The fixed-vector suites (test_compress / test_gvrshuffman / test_lsop /
test_sample_parity) pin parity against the reference; these sweep RANDOM
inputs through the same kernels to catch edge cases no fixed vector covers
(degenerate alphabets, extreme int32 values, odd tile shapes, NaN/inf float
bit patterns). Pure numpy — no SparkSession, so the file runs in seconds.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gridfour_spark import compress as C
from gridfour_spark import floatcodec as FC
from gridfour_spark import gvrsfile as G
from gridfour_spark import gvrshuffman as GH
from gridfour_spark.spec import GridSpec

_SETTINGS = dict(max_examples=40, deadline=None)


@given(
    st.lists(
        st.integers(min_value=-(2**31), max_value=2**31 - 1), min_size=1, max_size=400
    )
)
@settings(**_SETTINGS)
def test_m32_round_trip(values):
    s = np.asarray(values, dtype=np.int64)
    buf = C.m32_encode(s.astype(np.int32))
    got = C.m32_decode(buf, len(s))
    np.testing.assert_array_equal(got.astype(np.int64), s.astype(np.int32))
    # vectorized decode must agree with the scalar oracle twin
    np.testing.assert_array_equal(got, C.m32_decode_scalar(buf, len(s)))


@given(st.binary(min_size=1, max_size=600))
@settings(**_SETTINGS)
def test_gvrs_huffman_round_trip(data):
    n_bits, packed = GH.encode(data)
    assert GH.decode(n_bits, packed, len(data)) == data


@given(
    st.integers(min_value=2, max_value=12),
    st.integers(min_value=2, max_value=12),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.floats(min_value=0.0, max_value=1.0),
)
@settings(**_SETTINGS)
def test_tile_race_round_trip_with_nulls(nr, nc, seed, null_frac):
    """The winning packing decodes to the tile through C.decode_tile, is the
    very block the GVRS export writes for the tile, and reads back to the
    same cells through the GVRS reader's dispatch (read_tile_arrays on a
    one-tile file)."""
    rng = np.random.default_rng(seed)
    v = rng.integers(-(10**6), 10**6, size=nr * nc, dtype=np.int64)
    nulls = rng.random(nr * nc) < null_frac
    v[nulls] = C.INT32_MIN
    r = C.encode_tile(v, nr, nc, use_lsop=True)
    element = G.default_element("z", "int")
    block = G.encode_tile_payload(np.where(nulls, np.nan, v), nr, nc, element)
    if not r["kept"]:
        assert block == v.astype("<i4").tobytes()
        return
    p = bytes(r["payload"])
    assert block == p
    got = C.decode_tile(p, nr, nc).ravel()
    np.testing.assert_array_equal(got.astype(np.int64), v)
    spec = GridSpec(
        n_rows=nr, n_cols=nc, n_rows_in_tile=nr, n_cols_in_tile=nc,
        x0=0.0, y0=0.0, cell_size_x=1.0, cell_size_y=1.0,
    )
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "tile.gvrs")
        G.write_gvrs(path, spec, element, [{"tile_index": 0, "block": block}])
        ((_, (cells,)),) = G.read_tile_arrays(path, G.parse_gvrs_header(path), [0])
    np.testing.assert_array_equal(cells, np.where(nulls, np.nan, got))


@given(
    st.integers(min_value=2, max_value=10),
    st.integers(min_value=2, max_value=10),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(**_SETTINGS)
def test_float_codec_preserves_all_bit_patterns(nr, nc, seed):
    """The bit-plane float codec must be a bijection on raw float32 bits —
    including NaN payloads, infinities, and denormals."""
    rng = np.random.default_rng(seed)
    bits = rng.integers(0, 2**32, size=nr * nc, dtype=np.uint32)
    v = bits.view(np.float32)
    p = FC.encode_float_tile(v, nr, nc)
    got = FC.decode_float_tile(p, nr, nc).ravel().astype(np.float32)
    np.testing.assert_array_equal(got.view(np.uint32), bits)


@given(
    st.lists(
        st.integers(min_value=-(2**31) + 1, max_value=2**31 - 1),
        min_size=4,
        max_size=64,
    )
)
@settings(**_SETTINGS)
def test_predictor_inverses(values):
    """Each vectorized un-predictor is the exact inverse of its residual
    encoder at int32 wraparound semantics."""
    n = len(values)
    nc = max(2, int(np.sqrt(n)))
    nr = max(2, n // nc)
    v = np.asarray(values[: nr * nc], dtype=np.int64).reshape(nr, nc)
    for enc, (ptype, dec) in (
        (C.residuals_differencing, (1, C.ALL_PREDICTORS[1][1])),
        (C.residuals_linear, (2, C.ALL_PREDICTORS[2][1])),
        (C.residuals_triangle, (3, C.ALL_PREDICTORS[3][1])),
    ):
        seed, syms = enc(v.ravel().reshape(nr, nc))
        got = dec(seed, syms.astype(np.int64), nr, nc)
        np.testing.assert_array_equal(got.reshape(nr, nc).astype(np.int64), v)


@given(
    st.lists(
        st.one_of(
            st.integers(min_value=-(2**31), max_value=2**31 - 1),
            st.integers(min_value=-600, max_value=600),   # escape-tier boundary bias
            st.just(-(2**31)),                            # INT4_NULL_CODE
        ),
        min_size=1, max_size=500,
    )
)
@settings(**_SETTINGS)
def test_reference_canonical_huffman_block_round_trip(values):
    """Round-5 codec: the reference-format canonical Huffman integer block
    (escape-extended symbols, END_OF_TEXT framing) must round-trip any
    int32 stream, including null codes and every escape tier."""
    from gridfour_spark import canonhuffman as CH

    v = np.asarray(values, dtype=np.int64)
    packed = CH.encode_block(v)
    got, _pos = CH.decode_block(
        np.unpackbits(np.frombuffer(packed, np.uint8), bitorder="little"), 0, v.size
    )
    np.testing.assert_array_equal(got, v)


@given(
    st.integers(min_value=2, max_value=9),
    st.integers(min_value=2, max_value=9),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(**_SETTINGS)
def test_reference_canonical_tile_round_trip(nr, nc, seed):
    """encode_tile_packing -> decode_tile over random small tiles with
    nulls mixed in (predictor race + canonical body); every packing cut
    short raises ValueError instead of decoding to other cells."""
    from gridfour_spark import canonhuffman as CH

    rng = np.random.default_rng(seed)
    v = rng.integers(-3000, 3000, nr * nc).astype(np.int64)
    v[rng.random(nr * nc) < 0.15] = CH.INT4_NULL_CODE
    if not (v != CH.INT4_NULL_CODE).any():
        v[0] = 7  # encoder returns None for all-null tiles by contract
    r = CH.encode_tile_packing(v, nr, nc)
    got = CH.decode_tile(r["payload"], nr, nc)
    np.testing.assert_array_equal(got, v)
    for cut in range(len(r["payload"])):
        with pytest.raises(ValueError):
            C.decode_packing("GvrsCanonicalHuffman", r["payload"][:cut], nr, nc)


# --- PNG codec (round 7) ---------------------------------------------------

@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.sampled_from([1, 3, 4]),
    st.integers(min_value=0, max_value=2**31 - 1),
    st.one_of(st.none(), st.integers(min_value=0, max_value=4)),
)
@settings(**_SETTINGS)
def test_png_round_trip(h, w, ch, seed, filt):
    from gridfour_spark import pngcodec as P

    rng = np.random.default_rng(seed)
    shape = (h, w) if ch == 1 else (h, w, ch)
    a = rng.integers(0, 256, size=shape, dtype=np.uint8)
    got = P.decode_png(P.encode_png(a, filters=filt))
    np.testing.assert_array_equal(got, a)


@given(st.integers(min_value=0, max_value=2**31 - 1))
@settings(**_SETTINGS)
def test_png_per_row_filter_vectors(seed):
    """Random per-row filter assignments (the corpus uses rotating ones)."""
    from gridfour_spark import pngcodec as P

    rng = np.random.default_rng(seed)
    h, w = int(rng.integers(1, 32)), int(rng.integers(1, 32))
    a = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    filters = rng.integers(0, 5, size=h)
    np.testing.assert_array_equal(P.decode_png(P.encode_png(a, filters=filters)), a)


@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.sampled_from([1, 3]),
    st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(**_SETTINGS)
def test_png16_round_trip(h, w, ch, seed):
    from gridfour_spark import pngcodec as P

    rng = np.random.default_rng(seed)
    shape = (h, w) if ch == 1 else (h, w, ch)
    a = rng.integers(0, 65536, size=shape, dtype=np.uint16)
    got = P.decode_png(P.encode_png(a, filters=int(rng.integers(0, 5))))
    assert got.dtype == np.uint16
    np.testing.assert_array_equal(got, a)
