"""Bit-parity of the compiled C twins' raw array entry points
(kernels/cnative.py ``*_arrays``), called directly with the normalized
inputs the dispatchers build (time all-NaN == no clock, wgt all-1,
max_move all-0 == off), with the plain-python loops.  tests/test_cnative.py
checks the same twins through the kernels' own dispatch."""

import numpy as np
import pytest

from pyg_timeseries_spark.kernels import cnative
from pyg_timeseries_spark.kernels import ewm_numpy as EW
from pyg_timeseries_spark.kernels import pairwise_numpy as PK
from pyg_timeseries_spark.kernels import recurrence_numpy as RK

pytestmark = pytest.mark.skipif(
    not cnative.available(), reason="no C compiler on this host"
)


def _series(n=400, seed=0, nan_frac=0.2, with_zeros=False):
    rng = np.random.default_rng(seed)
    a = rng.normal(0, 1, n)
    a[rng.random(n) < nan_frac] = np.nan
    if with_zeros:
        a[rng.random(n) < 0.1] = 0.0
    return a


def _clock(n, seed=1):
    rng = np.random.default_rng(seed)
    t = np.cumsum(rng.integers(0, 3, n)).astype(float)  # repeats + gaps
    return t


@pytest.mark.parametrize("upto,track_w2", [(1, False), (2, True), (3, True)])
@pytest.mark.parametrize("with_time", [False, True])
def test_ewm_sweep_twin_parity(upto, track_w2, with_time):
    a = _series(seed=2)
    time = _clock(len(a)) if with_time else None
    w = 10 / 11
    with cnative.disabled():
        trail_ref, s_ref = EW._ewm_sweep(a, w, time=time, upto=upto, track_w2=track_w2)
    s_tw = EW.fresh_state()
    trail_tw = np.zeros((len(a), 8))
    t_arr = np.full(len(a), np.nan) if time is None else time
    cnative.ewm_sweep_arrays(a, w, t_arr, np.ones(len(a)), s_tw, upto,
                             track_w2, trail_tw)
    assert np.array_equal(trail_ref, trail_tw, equal_nan=True)
    assert np.array_equal(s_ref, s_tw, equal_nan=True)


@pytest.mark.parametrize("with_time", [False, True])
def test_xsweep_twin_parity(with_time):
    a, b = _series(seed=3), _series(seed=4)
    time = _clock(len(a), seed=5) if with_time else None
    w = 10 / 11
    with cnative.disabled():
        trail_ref, s_ref = PK._xsweep(a, b, w, time=time)
    s = PK.fresh_xstate()
    trail_tw = np.zeros((len(a), 10))
    t_arr = np.full(len(a), np.nan) if time is None else time
    cnative.xsweep_arrays(a, b, w, t_arr, s, trail_tw)
    assert np.array_equal(trail_ref, trail_tw, equal_nan=True)
    assert np.array_equal(s_ref, s, equal_nan=True)


def test_zmooth_twin_parity():
    a = _series(seed=6, nan_frac=0.1) * 3
    smooth = _series(seed=7, nan_frac=0.3)
    with cnative.disabled():
        res_ref, s_ref = RK.zmooth(a, 10, smooth=smooth, max_move=2.0)
    w = 10 / 11
    s = np.array([0.0, 0.0, np.nan])
    res_tw = np.full(len(a), np.nan)
    cnative.zmooth_arrays(a, smooth, w, 2.0, False, s, res_tw)
    assert np.array_equal(res_ref, res_tw, equal_nan=True)
    assert np.array_equal(s_ref, s, equal_nan=True)


@pytest.mark.parametrize("unit,rounding", [(0.0, 0.0), (1.0, 0.0), (0.5, 0.3)])
def test_buffer_twin_parity(unit, rounding):
    a = _series(seed=8, nan_frac=0.1) * 5
    band = np.abs(_series(seed=9, nan_frac=0.2))
    with cnative.disabled():
        res_ref, s_ref = RK.buffer(a, band, unit=unit, rounding_band=rounding)
    s = np.array([0.0, 0.0])
    res_tw = np.full(len(a), np.nan)
    cnative.buffer_arrays(a, band, unit, rounding, s, res_tw)
    assert np.array_equal(res_ref, res_tw, equal_nan=True)
    assert np.array_equal(s_ref, s, equal_nan=True)


@pytest.mark.parametrize("mode,bias", [("rms", False), ("std", False), ("std", True)])
@pytest.mark.parametrize("exc_zero,max_move", [(False, 3.0), (True, None), (True, 2.5)])
@pytest.mark.parametrize("with_time", [False, True])
def test_guarded_twin_parity(mode, bias, exc_zero, max_move, with_time):
    a = _series(seed=10, with_zeros=True)
    time = _clock(len(a), seed=11) if with_time else None
    args = dict(time=time, wgt=None, state=None, exc_zero=exc_zero,
                max_move=max_move, min_periods=3, min_sample=0.25,
                mode=mode, bias=bias)
    with cnative.disabled():
        res_ref, s_ref = EW._guarded_sweep(a, 10, **args)
    # call the twin directly with the same normalized inputs
    w = EW.decay_weight(10)
    s = EW._guard_state(None)
    res_tw = np.full(len(a), np.nan)
    t_arr = np.full(len(a), np.nan) if time is None else time
    mm = (np.zeros(len(a)) if max_move is None
          else np.full(len(a), float(max_move)))
    cnative.guarded_sweep_arrays(a, t_arr, np.ones(len(a)), w, exc_zero, mm,
                                 3.0, 0.25, mode == "std", bias, s, res_tw)
    assert np.array_equal(res_ref, res_tw, equal_nan=True)
    assert np.array_equal(s_ref, s, equal_nan=True)


def test_guarded_twin_resume_parity():
    a = _series(seed=12, with_zeros=True)
    res_full, _ = EW._guarded_sweep(a, 10, None, None, None, True, 2.0,
                                    3, 0.25, "std", bias=False)
    _, s_head = EW._guarded_sweep(a[:200], 10, None, None, None, True, 2.0,
                                  3, 0.25, "std", bias=False)
    res_tail, _ = EW._guarded_sweep(a[200:], 10, None, None, s_head, True,
                                    2.0, 3, 0.25, "std", bias=False)
    assert np.array_equal(np.concatenate([res_full[:200], res_tail]),
                          res_full, equal_nan=True)
