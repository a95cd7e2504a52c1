"""EWM guards: exc_zero, max_move, observation weights — semantics mirror
the reference's tests (tests/test_ts_ewm.py:19-32, 132-151)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyg_timeseries_spark.kernels import cnative
from pyg_timeseries_spark.kernels import ewm_numpy as K
from pyg_timeseries_spark.operators.ewm import ewmrms


def test_max_move_uses_unrestricted_vol():
    """Reference test_ts_ewm.py:132-141: after a regime change the clipped
    estimate must keep moving because the clip bound tracks UNRESTRICTED
    vol."""
    a = np.array([0.1] * 100 + [1.0] * 100)
    base, _ = K.ewmrms(a, 3)
    res, _ = K.ewmrms(a, 3, max_move=1)
    assert round(res[100], 5) == 0.1
    assert res[101] - res[100] > 0.1 * 1
    assert (res[101] - res[100]) / base[101] < 0.33
    assert (res[101] - res[100]) / base[101] > 0.2


def test_max_move_scalar_equals_array_and_bounds():
    """Reference test_ts_ewm.py:143-151."""
    a = np.array([1, 2, 3, 4, 5, 10, 17, 18, 9, 10], dtype=float)
    res0, _ = K.ewmrms(a, 3)
    res1, _ = K.ewmrms(a, 3, max_move=1)
    res1arr, _ = K.ewmrms(a, 3, max_move=[1] * 10)
    assert np.array_equal(res1, res1arr, equal_nan=True)
    assert np.all(res0 >= res1)
    res12, _ = K.ewmrms(a, 3, max_move=[1, 1, 1, 1, 1, 2, 2, 2, 2, 2])
    assert np.all(res12[5:] > res1[5:])


def test_exc_zero_skips_state():
    """Zeros from forward-filling must not dilute the estimate."""
    rng = np.random.default_rng(0)
    dense = np.abs(rng.normal(1, 0.1, 200))
    with_zeros = np.repeat(dense, 2).astype(float)
    with_zeros[1::2] = 0.0  # every other row a fake zero
    res_dense, _ = K.ewmrms(dense, 10)
    res_z, _ = K.ewmrms(with_zeros, 10, exc_zero=True)
    # the non-zero positions see exactly the dense estimates
    assert np.allclose(res_z[0::2], res_dense, equal_nan=True)
    # the zero positions carry the running estimate forward
    assert np.allclose(res_z[1::2], res_dense, equal_nan=True)


def test_guarded_state_split():
    rng = np.random.default_rng(1)
    a = rng.normal(0, 1, 400)
    a[rng.random(400) < 0.15] = np.nan
    for kw in [dict(max_move=2.0), dict(exc_zero=True),
               dict(max_move=3.0, exc_zero=True)]:
        full, _ = K.ewmrms(a, 10, **kw)
        head, s = K.ewmrms(a[:150], 10, **kw)
        tail, _ = K.ewmrms(a[150:], 10, state=s, **kw)
        assert np.array_equal(np.concatenate([head, tail]), full,
                              equal_nan=True), kw
        fulls, _ = K.ewmstd(a, 10, **kw)
        heads, ss = K.ewmstd(a[:150], 10, **kw)
        tails, _ = K.ewmstd(a[150:], 10, state=ss, **kw)
        assert np.array_equal(np.concatenate([heads, tails]), fulls,
                              equal_nan=True), kw


def test_guarded_plain_equivalence():
    """With no zeros in the data and a huge max_move the guarded path must
    agree with the plain path (not bit-for-bit — the guarded loop carries
    extra terms — but to float tolerance)."""
    rng = np.random.default_rng(2)
    a = rng.normal(5, 1, 300)
    plain, _ = K.ewmrms(a, 10)
    guarded, _ = K.ewmrms(a, 10, max_move=1e9)
    assert np.allclose(plain, guarded, atol=1e-12, equal_nan=True)


def test_wgt_weights():
    """Constant weights cancel; zero-weight rows contribute nothing to the
    mean (reference _wgt, _ewm.py:1162-1170)."""
    rng = np.random.default_rng(3)
    a = rng.normal(0, 1, 200)
    base, _ = K.ewma(a, 10)
    scaled, _ = K.ewma(a, 10, wgt=np.full(200, 7.0))
    assert np.allclose(base, scaled, atol=1e-12, equal_nan=True)
    # zero-weight rows: value ignored in the weighted mean
    wgt = np.ones(200)
    wgt[50] = 0.0
    res, _ = K.ewma(a, 10, wgt=wgt)
    a2 = a.copy()
    a2[50] = 12345.0  # value at a zero-weight row is irrelevant
    res2, _ = K.ewma(a2, 10, wgt=wgt)
    assert np.allclose(res[51:], res2[51:], atol=1e-12)


def test_wgt_col_spark(spark, series_df):
    df = series_df.withColumn("w", F.lit(3.0))
    got = ewmrms(df, 10, wgt_col="w").toPandas().sort_values(["key", "ts"])
    base = ewmrms(series_df, 10).toPandas().sort_values(["key", "ts"])
    g = got["ewmrms"].to_numpy(float)
    b = base["ewmrms"].to_numpy(float)
    assert np.allclose(g, b, atol=1e-12, equal_nan=True)


@pytest.mark.skipif(not cnative.available(), reason="no C compiler")
def test_array_twin_bit_parity():
    """The compiled sweep the dispatcher picks must be bit-identical to the
    canonical list-based loop, with clocks (bucketed) and weights."""
    from pyg_timeseries_spark.kernels.ewm_numpy import _ewm_sweep, decay_weight

    rng = np.random.default_rng(7)
    a = rng.normal(0, 1, 500)
    a[rng.random(500) < 0.2] = np.nan
    time = np.floor(np.arange(500) / 3).astype(float)  # clock with buckets
    wgt = np.abs(rng.normal(1, 0.1, 500))
    w = decay_weight(10)
    for kw in [
        dict(),
        dict(time=time),
        dict(wgt=wgt),
        dict(time=time, wgt=wgt, upto=3, track_w2=True),
    ]:
        with cnative.disabled():
            t1, s1 = _ewm_sweep(a, w, **kw)
        t2, s2 = _ewm_sweep(a, w, **kw)
        assert np.array_equal(t1, t2, equal_nan=True), kw
        assert np.array_equal(s1, s2, equal_nan=True), kw
