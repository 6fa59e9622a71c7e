"""LSOP-8 variant (lsop/LsOptimalPredictor08.java + LsDecoder08.java;
shipped disabled in the reference, LsCodecUtility.java:73 — the engine never
races it, and encode_lsop8 is the oracle of lsop.decode_lsop's LSOP-8 path)."""

from __future__ import annotations

import numpy as np
import pytest

from gridfour_spark import lsop as L

F32 = np.float32


def _grid(nr, nc, noise=0.0, seed=3):
    rng = np.random.default_rng(seed)
    r, c = np.meshgrid(np.arange(nr), np.arange(nc), indexing="ij")
    return np.floor(
        4000 * np.sin(r * 0.021) * np.cos(c * 0.017) + rng.normal(0, noise, (nr, nc))
    ).astype(np.int32)


def _scalar_decode8(payload, nr, nc):
    """Scalar port of LsDecoder08.unpackInitializers/unpackInterior."""
    import zlib

    seed = int.from_bytes(payload[2:6], "little", signed=True)
    u = np.frombuffer(payload[6:38], dtype="<f4")
    d = zlib.decompressobj()
    init_m32 = d.decompress(payload[47:])
    interior_m32 = zlib.decompress(d.unused_data)
    init = L.m32_decode(init_m32, 2 * nr + 2 * nc - 5).astype(np.int64)
    interior = L.m32_decode(interior_m32, (nr - 2) * (nc - 2)).astype(np.int64)

    v = np.zeros(nr * nc, dtype=np.int64)
    k = 0
    v[0] = seed
    val = seed
    for i in range(1, nc):
        val = ((val + init[k] + 2**31) % 2**32) - 2**31; k += 1
        v[i] = val
    val = seed
    for i in range(nc):
        val = ((val + init[k] + 2**31) % 2**32) - 2**31; k += 1
        v[nc + i] = val
    for r in range(2, nr):
        off = r * nc
        v[off] = ((v[off - nc] + init[k] + 2**31) % 2**32) - 2**31; k += 1
        v[off + 1] = ((v[off] + init[k] + 2**31) % 2**32) - 2**31; k += 1
    it = 0
    for r in range(2, nr):
        for c in range(2, nc):
            i = r * nc + c
            p = F32(u[0] * F32(v[i - 1]))
            terms = [
                v[i - nc - 1], v[i - nc], v[i - 2], v[i - nc - 2],
                v[i - 2 * nc - 2], v[i - 2 * nc - 1], v[i - 2 * nc],
            ]
            for j, t in enumerate(terms, start=1):
                p = F32(p + F32(u[j] * F32(t)))
            est = int(np.trunc(F32(p + F32(0.5))))
            v[i] = ((est + interior[it] + 2**31) % 2**32) - 2**31; it += 1
    return v.reshape(nr, nc).astype(np.int32)


@pytest.mark.parametrize("shape,noise", [((6, 7), 1), ((12, 17), 2), ((40, 55), 0), ((120, 180), 3)])
def test_lsop8_round_trip_and_scalar_twin(shape, noise):
    nr, nc = shape
    v = _grid(nr, nc, noise)
    res = L.encode_lsop8(v.ravel(), nr, nc)
    assert res is not None and res["predictor"] == 8
    back = L.decode_lsop(res["payload"], nr, nc)
    np.testing.assert_array_equal(back, _scalar_decode8(res["payload"], nr, nc))
    np.testing.assert_array_equal(back, v)


def test_lsop8_too_small_declines():
    v = _grid(3, 9)
    assert L.encode_lsop8(v.ravel(), 3, 9) is None
    # 4x4 meets the reference's size floor but has too few interior samples
    # for the 9x9 normal equations — declining beats the reference's
    # undefined behavior on a singular system
    r = L.encode_lsop8(_grid(4, 4).ravel(), 4, 4)
    if r is not None:
        np.testing.assert_array_equal(L.decode_lsop(r["payload"], 4, 4), _grid(4, 4))


def test_lsop8_compresses_smooth_dem():
    v = _grid(120, 180)
    res = L.encode_lsop8(v.ravel(), 120, 180)
    assert res["n_bytes"] * 8.0 / v.size < 8.0  # few bits/sample on smooth data
