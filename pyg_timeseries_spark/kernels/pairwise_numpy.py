"""Pairwise EWM kernels: correlation, covariance, linear regression of two
aligned series.

Reference: `_ewmx` /root/reference/src/pyg_timeseries/_ewm.py:195-291 with
cor_calculation_ewm / LR_calculation_ewm / covariance_calculation
(_math.py:86-120).  Alignment semantics here: a row updates the moment state
only when BOTH values are valid (the reference's inner alignment of the two
panels); every both-valid row emits.  Same sequential-recurrence design as
ewm_numpy — resumable bit-for-bit.

State layout (XSTATE_LEN float64):
  [t, t0, a1, a2, b1, b2, ab, w2, n0, n1, pa, pb]
where (pa, pb) are the previous valid row's values — carried so a row in the
SAME time unit replaces the previous contribution (reference _ewmx in-bucket
refresh, _ewm.py:247-263) and a resume split inside a time bucket still
replaces the right contribution.
"""

from __future__ import annotations

import numpy as np

from pyg_timeseries_spark.kernels import cnative as _cnative
from pyg_timeseries_spark.kernels.ewm_numpy import decay_weight

XSTATE_LEN = 12


def fresh_xstate() -> np.ndarray:
    s = np.zeros(XSTATE_LEN)
    s[0] = np.nan
    s[10] = np.nan
    s[11] = np.nan
    return s


def _xsweep(a, b, w, time=None, state=None):
    """Pairwise moment-trail sweep: the C twin (kernels/cnative.py:xsweep)
    when available, else the loop below.  Returns (trail, state)."""
    s = fresh_xstate() if state is None else np.asarray(state, float).copy()
    n_rows = a.shape[0]
    trail = np.zeros((n_rows, 10))
    if _cnative.available():
        time_arr = (np.full(n_rows, np.nan) if time is None
                    else np.ascontiguousarray(time, float))
        _cnative.xsweep_arrays(np.ascontiguousarray(a, float),
                               np.ascontiguousarray(b, float), w, time_arr,
                               s, trail)
        return trail, s
    t, t0, a1, a2, b1, b2, ab, w2, n0, n1, pa, pb = s
    one_minus_w = 1.0 - w
    have_time = time is not None
    for i in range(n_rows):
        ai, bi = a[i], b[i]
        if ai != ai or bi != bi:
            continue
        ti = time[i] if have_time else np.nan
        if have_time and ti == t:
            # same time unit: REPLACE the previous row's contribution
            # (t0/w2/n0/n1/t untouched — the per-row weight is constant
            # one_minus_w, so the mass terms cancel; reference _ewmx:247-263)
            a1 = a1 + one_minus_w * (ai - pa)
            a2 = a2 + one_minus_w * (ai * ai - pa * pa)
            b1 = b1 + one_minus_w * (bi - pb)
            b2 = b2 + one_minus_w * (bi * bi - pb * pb)
            ab = ab + one_minus_w * (ai * bi - pa * pb)
        else:
            p = w if (not have_time or ti != ti or t != t) else w ** (ti - t)
            n1 += 1.0
            n0 = n0 * p + one_minus_w
            t0 = t0 * p + one_minus_w
            a1 = a1 * p + one_minus_w * ai
            a2 = a2 * p + one_minus_w * ai * ai
            b1 = b1 * p + one_minus_w * bi
            b2 = b2 * p + one_minus_w * bi * bi
            ab = ab * p + one_minus_w * ai * bi
            w2 = w2 * p * p + one_minus_w * one_minus_w
            t = ti
        pa, pb = ai, bi
        row = trail[i]
        row[0], row[1], row[2], row[3], row[4] = t0, a1, a2, b1, b2
        row[5], row[6], row[7], row[8], row[9] = ab, w2, n0, n1, 1.0
    out = np.array([t, t0, a1, a2, b1, b2, ab, w2, n0, n1, pa, pb])
    return trail, out


def _stdev_ewm(t0, t1, t2, w2, bias):
    """stdev_calculation_ewm (_math.py:32-47), vectorized."""
    with np.errstate(invalid="ignore", divide="ignore"):
        t0s = np.where(t0 <= 0, np.nan, t0)
        var = t2 / t0s - (t1 / t0s) ** 2
        var = np.where(var < 0, np.nan, var)
        if bias:
            return np.sqrt(var)
        r = 1.0 - w2 / (t0s * t0s)
        return np.where(r > 0, np.sqrt(var / r), np.nan)


def ewmxcor(a, b, n, time=None, state=None, bias=False, min_periods=0, min_sample=0.0):
    """Pairwise EWM correlation (cor_calculation_ewm, _math.py:86-98)."""
    w = decay_weight(n)
    trail, s = _xsweep(a, b, w, time, state)
    t0, a1, a2 = trail[:, 0], trail[:, 1], trail[:, 2]
    b1, b2, ab, w2 = trail[:, 3], trail[:, 4], trail[:, 5], trail[:, 6]
    n0, n1, valid = trail[:, 7], trail[:, 8], trail[:, 9]
    with np.errstate(invalid="ignore", divide="ignore"):
        t0s = np.where(t0 <= 0, np.nan, t0)
        num = ab / t0s - (a1 / t0s) * (b1 / t0s)
        denom = _stdev_ewm(t0, a1, a2, w2, bias) * _stdev_ewm(t0, b1, b2, w2, bias)
        res = np.where(denom > 0, num / denom, np.nan)
    res = np.where((n0 < min_sample) | (n1 < min_periods), np.nan, res)
    out = np.full(a.shape[0], np.nan)
    out[valid == 1.0] = res[valid == 1.0]
    return out, s


def ewmxcovar(a, b, n, time=None, state=None, min_periods=0):
    """Pairwise EWM covariance (covariance_calculation, _math.py:100-106)."""
    w = decay_weight(n)
    trail, s = _xsweep(a, b, w, time, state)
    t0, a1, b1, ab = trail[:, 0], trail[:, 1], trail[:, 3], trail[:, 5]
    n1, valid = trail[:, 8], trail[:, 9]
    with np.errstate(invalid="ignore", divide="ignore"):
        t0s = np.where(t0 <= 0, np.nan, t0)
        res = ab / t0s - (a1 / t0s) * (b1 / t0s)
    res = np.where(n1 < min_periods, np.nan, res)
    out = np.full(a.shape[0], np.nan)
    out[valid == 1.0] = res[valid == 1.0]
    return out, s


def ewmxLR(a, b, n, time=None, state=None, bias=False, min_periods=0):
    """Pairwise EWM linear regression b ~ c + m·a (LR_calculation_ewm,
    _math.py:108-120).  Returns (c, m, state)."""
    w = decay_weight(n)
    trail, s = _xsweep(a, b, w, time, state)
    t0, a1, a2 = trail[:, 0], trail[:, 1], trail[:, 2]
    b1, ab, w2 = trail[:, 3], trail[:, 5], trail[:, 6]
    n1, valid = trail[:, 8], trail[:, 9]
    with np.errstate(invalid="ignore", divide="ignore"):
        t0s = np.where(t0 <= 0, np.nan, t0)
        Ea, Eb, Eab = a1 / t0s, b1 / t0s, ab / t0s
        var = a2 / t0s - Ea ** 2
        var = np.where(var < 0, np.nan, var)
        if not bias:
            r = 1.0 - w2 / (t0s * t0s)
            var = np.where(r > 0, var / r, np.nan)
        m = np.where(var > 0, (Eab - Ea * Eb) / var, np.nan)
        c = Eb - m * Ea
    mask = (valid == 1.0) & ~(n1 < min_periods)
    mo = np.full(a.shape[0], np.nan)
    co = np.full(a.shape[0], np.nan)
    mo[mask] = m[mask]
    co[mask] = c[mask]
    return co, mo, s
