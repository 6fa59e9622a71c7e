"""Compression kernel round-trips (mirrors PredictorModel*Test, CodecM32Test)."""

from __future__ import annotations

import numpy as np
import pytest

from gridfour_spark import compress as C


def _grids():
    rng = np.random.default_rng(42)
    # smooth DEM-like grid
    r, c = np.meshgrid(np.arange(12), np.arange(17), indexing="ij")
    smooth = np.floor(4000 * np.sin(r * 0.2) * np.cos(c * 0.17)).astype(np.int32)
    # value-rule grid (SampleFiles)
    rule = (r * 17 + c - 1).astype(np.int32)
    # random noise incl. large magnitudes (int-overflow edge cases,
    # PredictorModelDifferencingTest)
    noise = rng.integers(-(2**31) + 1, 2**31 - 1, size=(12, 17), dtype=np.int64).astype(np.int32)
    small = rng.integers(-50, 50, size=(2, 2), dtype=np.int64).astype(np.int32)
    return {"smooth": smooth, "rule": rule, "noise": noise, "small": small}


@pytest.mark.parametrize("ptype", list(C.PREDICTORS))
@pytest.mark.parametrize("gname", ["smooth", "rule", "noise", "small"])
def test_predictor_round_trip(ptype, gname):
    v = _grids()[gname]
    nr, nc = v.shape
    enc, dec = C.PREDICTORS[ptype]
    seed, syms = enc(v)
    assert len(syms) == nr * nc - 1
    back = dec(seed, syms, nr, nc)
    np.testing.assert_array_equal(back, v)


def test_m32_thresholds_and_boundaries():
    """CodecM32Test: threshold/boundary values, each encodes to the documented
    byte count and round-trips (CodecM32.java:55-111)."""
    cases = {
        0: 1, 126: 1, -126: 1,
        127: 2, 254: 2, -127: 2, -254: 2,
        255: 3, 16638: 3,
        16639: 4, 2113790: 4,
        2113791: 5, 270549246: 5,
        270549247: 6, 2**31 - 1: 6, -(2**31) + 1: 6,
        -(2**31): 1,  # special -128 code
    }
    vals = np.array(list(cases), dtype=np.int32)
    buf = C.m32_encode(vals)
    assert len(buf) == sum(cases.values())
    back = C.m32_decode(buf, len(vals))
    np.testing.assert_array_equal(back, vals)


def test_m32_documented_examples():
    """Spec examples (CodecM32.java:81-90): 126 -> [126]; 127 -> [127, 0];
    128 -> [127, 1]; 255 -> [127, 0x80, 0x00]; 16638 -> [127, 0xFF, 0x7F]."""
    def b(v):
        return list(C.m32_encode(np.array([v], dtype=np.int32)))

    assert b(126) == [126]
    assert b(127) == [127, 0]
    assert b(128) == [127, 1]
    assert b(255) == [127, 0x80, 0x00]
    assert b(16638) == [127, 0xFF, 0x7F]
    assert b(16639) == [127, 0x80, 0x80, 0x00]


def test_m32_random_round_trip():
    rng = np.random.default_rng(7)
    mags = np.concatenate(
        [
            rng.integers(-126, 127, 5000),
            rng.integers(-20000, 20000, 2000),
            rng.integers(-(2**31), 2**31 - 1, 2000),
        ]
    ).astype(np.int32)
    rng.shuffle(mags)
    back = C.m32_decode(C.m32_encode(mags), len(mags))
    np.testing.assert_array_equal(back, mags)


def test_encode_tile_race_and_round_trip():
    v = _grids()["smooth"]
    nr, nc = v.shape
    res = C.encode_tile(v.ravel(), nr, nc)
    assert res["kept"] and res["n_bytes"] < res["standard_bytes"]
    back = C.decode_tile(res["payload"], nr, nc)
    np.testing.assert_array_equal(back, v.reshape(nr, nc))


def test_encode_tile_incompressible_not_kept():
    v = _grids()["noise"]
    nr, nc = v.shape
    res = C.encode_tile(v.ravel(), nr, nc)
    assert not res["kept"]  # random int32 noise cannot beat 4 bytes/cell


def test_encode_tile_uniform_tile_takes_canonical_special_form():
    """A constant tile without nulls is the 6-byte CodecCanonHuffman form
    (encode:100-115); a constant all-null tile is not encodable and stays raw."""
    res = C.encode_tile(np.full(480, -773, np.int64), 20, 24, use_lsop=True)
    assert (res["codec"], res["n_bytes"], res["kept"]) == ("canon_gvrs", 6, True)
    assert res["payload"][0] == C.CODECS.index("GvrsCanonicalHuffman")
    np.testing.assert_array_equal(C.decode_tile(res["payload"], 20, 24), np.full((20, 24), -773))
    assert C.encode_tile(np.full(480, C.INT32_MIN, np.int64), 20, 24)["codec"] == "raw"


@pytest.mark.parametrize("packing", [b"", bytes([len(C.CODECS)]) + bytes(20)], ids=["empty", "codec"])
def test_decode_tile_malformed_packing_raises_value_error(packing):
    with pytest.raises(ValueError):
        C.decode_tile(packing, 4, 4)


def test_bits_per_sample_smooth_dem():
    """Smooth synthetic DEM should land in the few-bits-per-sample regime the
    reference reports for real DEMs (README.md:111-112 ~5.5 b/s on GEBCO)."""
    r, c = np.meshgrid(np.arange(120), np.arange(180), indexing="ij")
    v = np.floor(
        4000 * np.sin(r * 0.021) * np.cos(c * 0.017) + 2000 * np.sin(r * 0.005 + c * 0.003)
    ).astype(np.int32)
    res = C.encode_tile(v.ravel(), 120, 180)
    bps = C.bits_per_sample(res["n_bytes"], v.size)
    assert res["kept"]
    assert bps < 8.0, bps


# --- C4: differencing-with-nulls -------------------------------------------

NULL = -(2**31)


def _scalar_nulls_encode(v):
    """Direct scalar port of PredictorModelDifferencingWithNulls.encode
    (:66-134) — the test oracle for the vectorized kernel."""
    nr, nc = v.shape
    vals = v.astype(np.int64).ravel()
    sum_start, n_start = 0, 0
    null_flag = True
    for ir in range(nr):
        off = ir * nc
        for ic in range(nc):
            t = vals[off + ic]
            if t == NULL:
                null_flag = True
            else:
                if null_flag:
                    sum_start += t
                    n_start += 1
                null_flag = False
        null_flag = vals[off] == NULL
    if n_start == 0:
        return None
    import math

    seed = int(math.floor(sum_start / n_start + 0.5))
    out = []
    prior = seed
    null_flag = False
    for ir in range(nr):
        idx = ir * nc
        for ic in range(nc):
            t = vals[idx]
            idx += 1
            if t == NULL:
                null_flag = True
                out.append(NULL)
            else:
                if null_flag:
                    prior = seed
                    null_flag = False
                d = int(t - prior)
                d = ((d + 2**31) % 2**32) - 2**31  # (int) cast
                out.append(d)
                prior = t
        prior = vals[ir * nc]
        null_flag = prior == NULL
    return seed, np.array(out, dtype=np.int32)


def _scalar_nulls_decode(seed, syms, nr, nc):
    """Direct scalar port of decode (:137-166)."""
    out = np.zeros(nr * nc, dtype=np.int64)
    prior = seed
    null_flag = True
    k = 0
    for ir in range(nr):
        idx = ir * nc
        for ic in range(nc):
            t = int(syms[k]); k += 1
            if t == NULL:
                null_flag = True
                out[idx] = NULL
            else:
                if null_flag:
                    null_flag = False
                    prior = seed
                prior = ((prior + t + 2**31) % 2**32) - 2**31
                out[idx] = prior
            idx += 1
        prior = out[ir * nc]
        null_flag = prior == NULL
    return out.reshape(nr, nc).astype(np.int32)


def _null_grids():
    rng = np.random.default_rng(11)
    r, c = np.meshgrid(np.arange(14), np.arange(19), indexing="ij")
    smooth = np.floor(3000 * np.sin(r * 0.2) * np.cos(c * 0.15)).astype(np.int32)
    cases = {}
    g = smooth.copy(); g[(r * 7 + c * 3) % 11 < 2] = NULL
    cases["scattered"] = g
    g = smooth.copy(); g[0, 0] = NULL
    cases["null_origin"] = g
    g = smooth.copy(); g[:, 0] = NULL
    cases["null_col0"] = g
    g = smooth.copy(); g[3:6, :] = NULL
    cases["null_rows"] = g
    g = smooth.copy(); g[rng.random((14, 19)) < 0.5] = NULL
    cases["half_null"] = g
    g = np.full((14, 19), NULL, dtype=np.int32); g[7, 9] = 123
    cases["one_value"] = g
    noise = rng.integers(-(2**31) + 1, 2**31 - 1, size=(14, 19), dtype=np.int64).astype(np.int32)
    noise[(r + c) % 5 == 0] = NULL
    cases["noise_nulls"] = noise
    return cases


@pytest.mark.parametrize("gname", list(_null_grids()))
def test_nulls_predictor_matches_scalar_port(gname):
    v = _null_grids()[gname]
    nr, nc = v.shape
    expected = _scalar_nulls_encode(v)
    got = C.residuals_differencing_nulls(v)
    if got is None:
        # vectorized kernel declines only on null-code delta collision;
        # verify the scalar port would indeed produce an ambiguous symbol
        assert expected is None or np.any(
            (expected[1] == NULL) != (v.ravel() == NULL)
        )
        return
    seed, syms = got
    assert expected is not None
    assert seed == expected[0]
    np.testing.assert_array_equal(syms, expected[1])
    assert len(syms) == nr * nc
    # vectorized decode == scalar decode == original
    back_vec = C.ALL_PREDICTORS[C.PREDICTOR_DIFFERENCING_NULLS][1](seed, syms, nr, nc)
    back_scalar = _scalar_nulls_decode(seed, syms, nr, nc)
    np.testing.assert_array_equal(back_vec, back_scalar)
    np.testing.assert_array_equal(back_vec, v)


def test_nulls_predictor_all_null_declines():
    v = np.full((8, 9), NULL, dtype=np.int32)
    assert C.residuals_differencing_nulls(v) is None
    res = C.encode_tile(v.ravel(), 8, 9)
    assert not res["kept"] and res["codec"] == "raw"


def test_encode_tile_with_nulls_round_trip():
    """Tiles with embedded nulls race only the nulls predictor
    (CodecDeflate.encode:158-186) and round-trip exactly."""
    for gname, v in _null_grids().items():
        nr, nc = v.shape
        res = C.encode_tile(v.ravel(), nr, nc, use_lsop=True)
        if res["kept"]:
            assert res["predictor"] in (0, C.PREDICTOR_DIFFERENCING_NULLS), gname
            back = C.decode_tile(res["payload"], nr, nc)
            np.testing.assert_array_equal(back, v, err_msg=gname)


def test_nulls_predictor_compresses_hole_punched_dem():
    """The point of C4: residuals near holes stay small, so a hole-punched
    smooth DEM still compresses far below 32 bits/sample."""
    r, c = np.meshgrid(np.arange(120), np.arange(180), indexing="ij")
    v = np.floor(4000 * np.sin(r * 0.021) * np.cos(c * 0.017)).astype(np.int32)
    v[(r * 13 + c * 7) % 29 < 3] = NULL
    res = C.encode_tile(v.ravel(), 120, 180)
    assert res["kept"]
    assert C.bits_per_sample(res["n_bytes"], v.size) < 8.0


# --- vectorized read path ----------------------------------------------------

def test_m32_vectorized_decode_matches_scalar():
    """The columnar decode (pointer-doubling start recovery) must agree with
    the op-for-op scalar port of CodecM32.decode on every byte-length class."""
    rng = np.random.default_rng(99)
    streams = [
        rng.integers(-126, 127, 4000),                      # all singles
        rng.integers(-(2**31), 2**31 - 1, 4000),            # mostly 6-byte
        np.where(rng.random(6000) < 0.7,
                 rng.integers(-126, 127, 6000),
                 rng.integers(-(10**7), 10**7, 6000)),       # mixed
        np.array([127, -127, 0x7F, 0x81 - 256, 126, -126, 0, -(2**31)] * 50),
    ]
    for s in streams:
        s = s.astype(np.int32)
        buf = C.m32_encode(s)
        np.testing.assert_array_equal(
            C.m32_decode(buf, len(s)), C.m32_decode_scalar(buf, len(s))
        )
        np.testing.assert_array_equal(C.m32_decode(buf, len(s)), s)


def test_nulls_predictor_reference_test_vector():
    """Exact port of PredictorModelDifferencingWithNullsTest.testRoundTrip
    (:53-83): even-column ramp with a diagonal of nulls, byte-level M32
    round trip."""
    nr, nc = 10, 10
    v = np.zeros((nr, nc), dtype=np.int64)
    for ir in range(nr):
        val = ir
        for ic in range(0, 10, 2):
            v[ir, ic] = val
            val += 1
        v[ir, ir] = NULL
    v = v.astype(np.int32)
    r = C.residuals_differencing_nulls(v)
    assert r is not None
    seed, syms = r
    buf = C.m32_encode(syms)
    back_syms = C.m32_decode(buf, nr * nc)
    back = C.ALL_PREDICTORS[C.PREDICTOR_DIFFERENCING_NULLS][1](seed, back_syms, nr, nc)
    np.testing.assert_array_equal(back, v)
