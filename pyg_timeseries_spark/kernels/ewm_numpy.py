"""Exponentially-weighted recurrence kernels — fresh NumPy implementations of
the reference's EWM semantics (/root/reference/src/pyg_timeseries/_ewm.py:
_ewma :30-52, _ewmrms :55-108, _ewmstd :112-183, _ewmskew :1128-1159; decay
convention _w in _math.py:5-12).

Semantics reproduced (no code copied; the loop below is a single generic
moment-trail sweep, a different construction from the reference's five
specialized kernels):

* decay weight ``w = n/(n+1)`` for n >= 1, else ``n`` as a raw fraction;
* NaN rows emit NaN and leave the state untouched;
* a row in a *new* time unit decays all moments by ``p = w**(Δtime)`` (p = w
  when no clock) then adds its contribution ``v_i = (1-w)*wgt_i``;
* a row in the *same* time unit REPLACES the previous row's contribution —
  the in-bucket-refresh semantics the rollup tiers rely on;
* emission gates: ``min_periods`` on the count of time units ``n1`` and
  ``min_sample`` on the decayed mass ``n0`` (std/skew).

The kernel is a sequential left-to-right scalar recurrence ON PURPOSE: float
rounding then makes resumption exact — running (head, then tail from the
head's state) is bit-identical to running the full series, the reference's
central invariant (tests/test_ts_states.py:94-125).  A vectorized closed form
(w**i * cumsum(v/w**j)) is numerically unstable and breaks bit-exact resume.

The loop stores the moment trail per row and computes outputs vectorized
afterwards — identical floats to computing inside the loop, but the Python
loop body stays minimal.  State is 9 float64 scalars, packable to an
``array<double>`` Spark column (STATE_LEN).
"""

from __future__ import annotations

import numpy as np

from pyg_timeseries_spark.kernels import cnative as _cnative

STATE_LEN = 10
# state layout: [t, t0, t1, t2, t3, w2, n0, n1, pv, pa] where (pv, pa) are the
# previous valid row's (weight contribution, value) — carried so that a resume
# split inside a time bucket still replaces the right contribution.  (The
# reference's kernels reset i0=0 on resume, which makes an intra-bucket first
# row a no-op — _ewm.py:37,41-44; we fix that; splits at bucket boundaries are
# unaffected.)
_T, _T0, _T1, _T2, _T3, _W2, _N0, _N1, _PV, _PA = range(STATE_LEN)


def decay_weight(n: float) -> float:
    """w = n/(n+1) for n >= 1 else raw fraction n (reference _math.py:5-12)."""
    if n >= 1:
        return n / (n + 1.0)
    if 0 < n < 1:
        return float(n)
    raise ValueError("n must be >= 1 (days) or in (0,1) (raw fraction)")


def fresh_state() -> np.ndarray:
    s = np.zeros(STATE_LEN, dtype=np.float64)
    s[_T] = np.nan
    return s


def _ewm_sweep(
    a: np.ndarray,
    w: float,
    time: np.ndarray | None = None,
    wgt: np.ndarray | None = None,
    state: np.ndarray | None = None,
    upto: int = 1,
    track_w2: bool = False,
):
    """Generic moment-trail sweep.

    Returns (trail, state_out) where ``trail`` is an (n_rows, 8) float64 array
    holding [t0, t1, t2, t3, w2, n0, n1, valid] AFTER processing each row
    (NaN rows carry valid=0; their trail entries are unused).

    Dispatches to the ctypes-compiled C twin (kernels/cnative.py:ewm_sweep
    — identical arithmetic, asserted bit-equal in tests/test_cnative.py)
    when a system compiler exists; otherwise runs the python-float loop
    below, the reference the twin is checked against.
    """
    n_rows = a.shape[0]
    s = fresh_state() if state is None else np.asarray(state, dtype=np.float64).copy()
    if _cnative.available():
        trail = np.zeros((n_rows, 8))
        _cnative.ewm_sweep_arrays(
            np.ascontiguousarray(a, float), w,
            np.full(n_rows, np.nan) if time is None
            else np.ascontiguousarray(time, float),
            np.ones(n_rows) if wgt is None
            else np.ascontiguousarray(wgt, float),
            s, upto, track_w2, trail,
        )
        return trail, s
    t, t0, t1, t2, t3, w2, n0, n1 = (
        s[_T], s[_T0], s[_T1], s[_T2], s[_T3], s[_W2], s[_N0], s[_N1],
    )
    one_minus_w = 1.0 - w
    trail = np.zeros((n_rows, 8), dtype=np.float64)
    # previous valid row's contribution, for same-time replacement
    pv = float(s[_PV])
    pa = float(s[_PA])
    have_time = time is not None
    have_wgt = wgt is not None
    up2 = upto >= 2
    up3 = upto >= 3
    # loop over native python floats (ndarray scalar indexing is several
    # times slower); trail written via row lists and one bulk assign
    av = a.tolist()
    tv = time.tolist() if have_time else None
    wv = wgt.tolist() if have_wgt else None
    nan = float("nan")
    zeros = [0.0] * n_rows
    c0 = zeros[:]
    c1 = zeros[:]
    c2 = zeros[:]
    c3 = zeros[:]
    c4 = zeros[:]
    c5 = zeros[:]
    c6 = zeros[:]
    c7 = zeros[:]
    t = float(t)
    t0 = float(t0); t1 = float(t1); t2 = float(t2); t3 = float(t3)
    w2 = float(w2); n0 = float(n0); n1 = float(n1)
    for i in range(n_rows):
        ai = av[i]
        if ai != ai:  # NaN
            continue
        vi = one_minus_w * wv[i] if have_wgt else one_minus_w
        ti = tv[i] if have_time else nan
        if have_time and ti == t:
            # same time unit: replace the previous contribution
            t0 = t0 + vi - pv
            t1 = t1 + vi * ai - pv * pa
            if up2:
                t2 = t2 + vi * ai * ai - pv * pa * pa
            if up3:
                t3 = t3 + vi * ai * ai * ai - pv * pa * pa * pa
        else:
            p = w if (not have_time or ti != ti or t != t) else w ** (ti - t)
            n1 += 1.0
            n0 = n0 * p + one_minus_w
            t0 = t0 * p + vi
            t1 = t1 * p + vi * ai
            if up2:
                t2 = t2 * p + vi * ai * ai
            if up3:
                t3 = t3 * p + vi * ai * ai * ai
            if track_w2:
                w2 = w2 * p * p + vi * vi
            t = ti
        pv = vi
        pa = ai
        c0[i] = t0
        c1[i] = t1
        if up2:
            c2[i] = t2
        if up3:
            c3[i] = t3
        if track_w2:
            c4[i] = w2
        c5[i] = n0
        c6[i] = n1
        c7[i] = 1.0
    trail[:, 0] = c0
    trail[:, 1] = c1
    trail[:, 2] = c2
    trail[:, 3] = c3
    trail[:, 4] = c4
    trail[:, 5] = c5
    trail[:, 6] = c6
    trail[:, 7] = c7
    s[_T], s[_T0], s[_T1], s[_T2], s[_T3] = t, t0, t1, t2, t3
    s[_W2], s[_N0], s[_N1], s[_PV], s[_PA] = w2, n0, n1, pv, pa
    return trail, s


def _mask(res: np.ndarray, trail: np.ndarray) -> np.ndarray:
    out = np.full(trail.shape[0], np.nan)
    valid = trail[:, 7] == 1.0
    out[valid] = res[valid]
    return out


def ewma(a, n, time=None, wgt=None, state=None, min_periods=0):
    """EWM mean; reference _ewm.py:30-52.  Returns (res, state)."""
    w = decay_weight(n)
    trail, s = _ewm_sweep(a, w, time, wgt, state, upto=1)
    t0, t1, n1 = trail[:, 0], trail[:, 1], trail[:, 6]
    with np.errstate(invalid="ignore", divide="ignore"):
        res = np.where((t0 == 0) | (n1 < min_periods), np.nan, t1 / np.where(t0 == 0, np.nan, t0))
    return _mask(res, trail), s


def ewmrms(a, n, time=None, wgt=None, state=None, min_periods=0,
           exc_zero=False, max_move=None):
    """EWM root-mean-square; reference _ewm.py:55-108.  ``exc_zero`` skips
    zero observations; ``max_move`` (scalar or per-row array) clips each
    observation at ±max_move·unrestricted-vol."""
    if exc_zero or max_move is not None:
        return _guarded_sweep(
            a, n, time, wgt, state, exc_zero,
            np.asarray(max_move, float) if isinstance(max_move, (list, np.ndarray)) else max_move,
            min_periods, 0.0, "rms",
        )
    w = decay_weight(n)
    trail, s = _ewm_sweep(a, w, time, wgt, state, upto=2)
    t0, t2, n1 = trail[:, 0], trail[:, 2], trail[:, 6]
    with np.errstate(invalid="ignore", divide="ignore"):
        res = np.where(
            (t0 == 0) | (n1 < min_periods), np.nan,
            np.sqrt(t2 / np.where(t0 == 0, np.nan, t0)),
        )
    return _mask(res, trail), s


def _ewm_variance(trail, bias):
    """variance_calculation_ewm (reference _math.py:49-66)."""
    t0, t1, t2, w2 = trail[:, 0], trail[:, 1], trail[:, 2], trail[:, 4]
    with np.errstate(invalid="ignore", divide="ignore"):
        t0s = np.where(t0 <= 0, np.nan, t0)
        variance = t2 / t0s - (t1 / t0s) ** 2
        variance = np.where(variance < 0, np.nan, variance)
        if not bias:
            r = 1.0 - w2 / (t0s * t0s)
            variance = np.where(r > 0, variance / r, np.nan)
    return variance


def ewmvar(a, n, time=None, wgt=None, state=None, min_periods=None, min_sample=None, bias=False):
    """EWM variance; reference _ewm.py:112-183 with variance_calculation_ewm."""
    min_sample, min_periods = _min_sample_periods(min_sample, min_periods, 3)
    w = decay_weight(n)
    trail, s = _ewm_sweep(a, w, time, wgt, state, upto=2, track_w2=True)
    variance = _ewm_variance(trail, bias)
    n0, n1 = trail[:, 5], trail[:, 6]
    res = np.where((n0 < min_sample) | (n1 < min_periods), np.nan, variance)
    return _mask(res, trail), s


def ewmstd(a, n, time=None, wgt=None, state=None, min_periods=None,
           min_sample=None, bias=False, exc_zero=False, max_move=None):
    """EWM std; reference _ewm.py:112-183 with stdev_calculation_ewm
    (_math.py:32-47).  ``max_move`` clips at ±max_move·previous output."""
    min_sample, min_periods = _min_sample_periods(min_sample, min_periods, 3)
    if exc_zero or max_move is not None:
        return _guarded_sweep(
            a, n, time, wgt, state, exc_zero,
            np.asarray(max_move, float) if isinstance(max_move, (list, np.ndarray)) else max_move,
            min_periods, min_sample, "std", bias=bias,
        )
    w = decay_weight(n)
    trail, s = _ewm_sweep(a, w, time, wgt, state, upto=2, track_w2=True)
    variance = _ewm_variance(trail, bias)
    n0, n1 = trail[:, 5], trail[:, 6]
    with np.errstate(invalid="ignore"):
        res = np.where((n0 < min_sample) | (n1 < min_periods), np.nan, np.sqrt(variance))
    return _mask(res, trail), s


def ewmskew(a, n, time=None, wgt=None, state=None, min_periods=None, min_sample=None, bias=False):
    """EWM skew; reference _ewm.py:1128-1159 — note the reference rescales the
    moment sums by d = 1 + days before skew_calculation."""
    min_sample, min_periods = _min_sample_periods(min_sample, min_periods, 4)
    w = decay_weight(n)
    trail, s = _ewm_sweep(a, w, time, wgt, state, upto=3)
    days = n if n > 1 else w / (1.0 - w)
    d = 1.0 + days
    t0, t1, t2, t3 = trail[:, 0] * d, trail[:, 1] * d, trail[:, 2] * d, trail[:, 3] * d
    res = _skew_calc(t0, t1, t2, t3, bias)
    n0, n1 = trail[:, 5], trail[:, 6]
    res = np.where((n0 < min_sample) | (n1 < min_periods), np.nan, res)
    return _mask(res, trail), s


def _skew_calc(t0, t1, t2, t3, bias):
    """skew_calculation (reference _math.py:122-135), vectorized."""
    with np.errstate(invalid="ignore", divide="ignore"):
        t0s = np.where(t0 == 0, np.nan, t0)
        m1 = t1 / t0s
        m2 = t2 / t0s - m1 * m1
        m3 = t3 / t0s - 3 * m1 * (t2 / t0s) + 2 * m1 ** 3
        biased = m3 / m2 ** 1.5
        unbiased = biased * np.sqrt(t0 * (t0 - 1)) / (t0 - 2)
        res = biased if bias else np.where(t0 <= 2, biased, unbiased)
        return np.where(m2 > 0, res, np.nan)


def _min_sample_periods(min_sample, min_periods, default_min_periods):
    """Defaulting dance from reference _ewm.py:22-28."""
    if min_periods is not None:
        min_sample = 0.0 if min_sample is None else min_sample
    else:
        min_periods = default_min_periods
        min_sample = 0.25 if min_sample is None else min_sample
    return min_sample, min_periods


KERNELS = {
    "ewma": ewma,
    "ewmrms": ewmrms,
    "ewmstd": ewmstd,
    "ewmvar": ewmvar,
    "ewmskew": ewmskew,
}


# ---- guarded variants: exc_zero / max_move ---------------------------------
# Reference semantics (_ewm.py:55-108 ewmrms, :112-183 ewmstd): zeros under
# ``exc_zero`` leave the state untouched (forward-filled inputs produce fake
# zero moves); ``max_move`` clips each observation at ±k·vol, where vol for
# ewmrms is the UNRESTRICTED running rms (a clipped estimate would trap the
# series after a regime change — tests/test_ts_ewm.py:132-141) and for
# ewmstd the previous restricted output.  State extends the base layout with
# [t1_, t2_, prev_res, pa_raw] → GSTATE_LEN.

GSTATE_LEN = STATE_LEN + 4
_GT1U, _GT2U, _GPREV_RES, _GPA_RAW = STATE_LEN, STATE_LEN + 1, STATE_LEN + 2, STATE_LEN + 3


def _guard_state(state):
    s = np.zeros(GSTATE_LEN)
    s[_T] = np.nan
    s[_GPREV_RES] = np.nan
    if state is not None:
        state = np.asarray(state, float)
        if len(state) >= GSTATE_LEN:
            s[:] = state[:GSTATE_LEN]
        else:
            s[: len(state)] = state
    return s


def _guarded_sweep(a, n, time, wgt, state, exc_zero, max_move, min_periods,
                   min_sample, mode, bias=False):
    """mode: 'rms' or 'std'.  Dispatches to the C twin
    (kernels/cnative.py:guarded_sweep) when available, else runs the loop
    below."""
    w = decay_weight(n)
    s = _guard_state(state)
    n_rows = a.shape[0]
    res = np.full(n_rows, np.nan)
    if _cnative.available():
        time_arr = np.full(n_rows, np.nan) if time is None else np.ascontiguousarray(time, float)
        wgt_arr = np.ones(n_rows) if wgt is None else np.ascontiguousarray(wgt, float)
        if max_move is None:
            mm = np.zeros(n_rows)
        elif isinstance(max_move, np.ndarray):
            mm = np.ascontiguousarray(max_move, float)
        else:
            mm = np.full(n_rows, float(max_move))
        _cnative.guarded_sweep_arrays(
            np.ascontiguousarray(a, float), time_arr, wgt_arr, w,
            bool(exc_zero), mm, float(min_periods), float(min_sample),
            mode == "std", bool(bias), s, res,
        )
        return res, s
    omw = 1.0 - w
    t, t0, t1, t2 = s[_T], s[_T0], s[_T1], s[_T2]
    w2, n0, n1 = s[_W2], s[_N0], s[_N1]
    pv, pa = s[_PV], s[_PA]
    t1u, t2u, prev_res, pa_raw = s[_GT1U], s[_GT2U], s[_GPREV_RES], s[_GPA_RAW]
    have_time = time is not None
    have_wgt = wgt is not None
    mm_arr = max_move if isinstance(max_move, np.ndarray) else None
    mm_scalar = 0.0 if max_move is None or mm_arr is not None else float(max_move)
    is_std = mode == "std"
    for i in range(n_rows):
        araw = a[i]
        if araw != araw:
            continue
        mm = mm_arr[i] if mm_arr is not None else mm_scalar
        if is_std:
            bound = prev_res * mm if mm > 0 else 0.0
            # vol>0 eligibility from the unrestricted moments, computed with
            # the CALLER's bias and the same n0/n1 gate as the emitted result
            # (reference _ewmstd:159-160 — vol uses `calculator(..., bias=bias)`
            # and is nan'd when n0 < min_sample or n1 < min_periods)
            if n0 < min_sample or n1 < min_periods:
                vol = np.nan
            else:
                vol = _std_calc_scalar(t0, t1u, t2u, w2, bias)
            clip_ok = mm > 0 and vol > 0 and bound == bound and bound > 0
        else:
            vol = 0.0 if t0 == 0 else np.sqrt(t2u / t0)
            bound = vol * mm
            clip_ok = mm > 0 and vol > 0
        ai = min(max(araw, -bound), bound) if clip_ok else araw
        vi = omw * wgt[i] if have_wgt else omw
        ti = time[i] if have_time else np.nan
        if exc_zero and ai == 0:
            pass  # state untouched; output below re-reads current estimate
        elif have_time and ti == t:
            t0 = t0 + vi - pv
            t1 = t1 + vi * ai - pv * pa
            t2 = t2 + vi * ai * ai - pv * pa * pa
            t1u = t1u + vi * araw - pv * pa_raw
            t2u = t2u + vi * araw * araw - pv * pa_raw * pa_raw
        else:
            p = w if (not have_time or ti != ti or t != t) else w ** (ti - t)
            n1 += 1.0
            n0 = n0 * p + omw
            w2 = w2 * p * p + vi * vi
            t0 = t0 * p + vi
            t1 = t1 * p + vi * ai
            t2 = t2 * p + vi * ai * ai
            t1u = t1u * p + vi * araw
            t2u = t2u * p + vi * araw * araw
            t = ti
        pv, pa, pa_raw = vi, ai, araw
        if is_std:
            gated = n0 < min_sample or n1 < min_periods
            res[i] = np.nan if gated else _std_calc_scalar(t0, t1, t2, w2, bias)
        else:
            res[i] = np.nan if (t0 == 0 or n1 < min_periods) else np.sqrt(t2 / t0)
        prev_res = res[i]
    s[_T], s[_T0], s[_T1], s[_T2] = t, t0, t1, t2
    s[_W2], s[_N0], s[_N1], s[_PV], s[_PA] = w2, n0, n1, pv, pa
    s[_GT1U], s[_GT2U], s[_GPREV_RES], s[_GPA_RAW] = t1u, t2u, prev_res, pa_raw
    return res, s


def _std_calc_scalar(t0, t1, t2, w2, bias):
    """stdev_calculation_ewm (_math.py:32-47) for one point."""
    if t0 <= 0:
        return np.nan
    variance = t2 / t0 - (t1 / t0) ** 2
    if variance < 0:
        return np.nan
    if bias:
        return np.sqrt(variance)
    r = 1.0 - w2 / (t0 * t0)
    return np.sqrt(variance / r) if r > 0 else np.nan
