"""Matrix EWM kernels: rolling inverse of E(dAᵀdA) and the EWM general
linear model (fit db ~ dA).

Reference: _ewmAAinv /root/reference/src/pyg_timeseries/_ewm.py:936-980 and
_ewmGLM1d :983-1123 (overlapping=1 path).  Semantics: rows with any missing
feature are skipped; the state advances on first differences da = a_i −
a_prev; a2 is the EWM of the outer product da·daᵀ; output per row is
inv(a2/t0) (AAi) or AAi·ab (GLM betas), gated by min_sample on decayed mass.

State layout (flat float64): [t0, n0, a2 (m·m row-major), prev_a (m),
prev_b (GLM only), ab (m, GLM only)].
"""

from __future__ import annotations

import numpy as np

from pyg_timeseries_spark.kernels.ewm_numpy import decay_weight


def aai_state_len(m: int, overlapping: int = 1) -> int:
    return 2 + m * m + overlapping * m


def glm_state_len(m: int, overlapping: int = 1) -> int:
    return 2 + m * m + overlapping * m + overlapping + m


def ewmAAi(A: np.ndarray, n: float, state=None, min_sample: float = 0.25,
           overlapping: int = 1):
    """A: (t, m) feature panel.  Returns (res (t, m, m), state).

    ``overlapping`` k > 1 differences against the value k VALID rows back
    (a shift-register of previous rows — reference _ewmAAinv's ``prev``
    ring, _ewm.py:962,976-979); state grows by (k-1)·m and resume stays
    bit-exact."""
    t_rows, m = A.shape
    k = max(int(overlapping), 1)
    w = decay_weight(n)
    one_minus_w = 1.0 - w
    if state is None:
        t0 = n0 = 0.0
        a2 = np.zeros((m, m))
        prev = np.full((k, m), np.nan)
    else:
        t0, n0 = float(state[0]), float(state[1])
        a2 = np.asarray(state[2 : 2 + m * m], float).reshape(m, m).copy()
        prev = np.asarray(state[2 + m * m : 2 + m * m + k * m], float).reshape(k, m).copy()
    res = np.full((t_rows, m, m), np.nan)
    ok = ~np.isnan(A).any(axis=1)
    for i in range(t_rows):
        if not ok[i]:
            continue
        if not np.isnan(prev[-1, 0]):
            da = A[i] - prev[-1]
            n0 = n0 * w + one_minus_w
            t0 = t0 * w + one_minus_w
            a2 = a2 * w + one_minus_w * np.outer(da, da)
            if n0 > min_sample:
                try:
                    res[i] = np.linalg.inv(a2 / t0)
                except np.linalg.LinAlgError:
                    pass
        if k > 1:
            prev[1:] = prev[:-1]
        prev[0] = A[i]
    out_state = np.concatenate([[t0, n0], a2.ravel(), prev.ravel()])
    return res, out_state


def ewmGLM(A: np.ndarray, b: np.ndarray, n: float, state=None,
           min_sample: float = 0.25, overlapping: int = 1):
    """Fit db ~ Σ_j m_j·da_j under EWM weights.  A: (t, m); b: (t,).
    Returns (betas (t, m), state).  ``overlapping`` as in ewmAAi
    (reference _ewmGLM1d, _ewm.py:983-1123)."""
    t_rows, m = A.shape
    k = max(int(overlapping), 1)
    w = decay_weight(n)
    one_minus_w = 1.0 - w
    if state is None:
        t0 = n0 = 0.0
        a2 = np.zeros((m, m))
        prev_a = np.full((k, m), np.nan)
        prev_b = np.full(k, np.nan)
        ab = np.zeros(m)
    else:
        t0, n0 = float(state[0]), float(state[1])
        o = 2
        a2 = np.asarray(state[o : o + m * m], float).reshape(m, m).copy()
        o += m * m
        prev_a = np.asarray(state[o : o + k * m], float).reshape(k, m).copy()
        o += k * m
        prev_b = np.asarray(state[o : o + k], float).copy()
        o += k
        ab = np.asarray(state[o : o + m], float).copy()
    res = np.full((t_rows, m), np.nan)
    ok = ~np.isnan(A).any(axis=1) & ~np.isnan(b)
    for i in range(t_rows):
        if not ok[i]:
            continue
        if not np.isnan(prev_a[-1, 0]) and not np.isnan(prev_b[-1]):
            da = A[i] - prev_a[-1]
            db = b[i] - prev_b[-1]
            n0 = n0 * w + one_minus_w
            t0 = t0 * w + one_minus_w
            a2 = a2 * w + one_minus_w * np.outer(da, da)
            ab = ab * w + one_minus_w * da * db
            if n0 > min_sample:
                try:
                    res[i] = np.linalg.inv(a2 / t0) @ (ab / t0)
                except np.linalg.LinAlgError:
                    pass
        if k > 1:
            prev_a[1:] = prev_a[:-1]
            prev_b[1:] = prev_b[:-1]
        prev_a[0] = A[i]
        prev_b[0] = b[i]
    out_state = np.concatenate([[t0, n0], a2.ravel(), prev_a.ravel(),
                                prev_b, ab])
    return res, out_state


def psd_state_len(m: int) -> int:
    return m * m + 3 * m


def ewmcorr_psd(A: np.ndarray, n: float, min_sample: float = 0.25,
                min_periods: int = 1, demean: bool = True,
                shrinkage: float = 0.0, state=None):
    """PSD-by-construction EWM correlation (reference _ewm_psd.py:43-158):
    per-column state (no pairwise clocks) — a missing value decays nothing
    for its column, so S stays PSD on every date by construction.  The
    reference's per-element numba loops become per-row outer products.

    Returns (res (t, m, m) float64 with NaN gates, flat state
    [S(m²), mean(m), weight(m), count(m)]).
    """
    t_rows, m = A.shape
    w = decay_weight(n)
    root = np.sqrt(w)
    one_minus_w = 1.0 - w
    if state is None:
        S = np.zeros((m, m))
        mean = np.zeros(m)
        weight = np.zeros(m)
        count = np.zeros(m)
    else:
        S = np.asarray(state[: m * m], float).reshape(m, m).copy()
        mean = np.asarray(state[m * m : m * m + m], float).copy()
        weight = np.asarray(state[m * m + m : m * m + 2 * m], float).copy()
        count = np.asarray(state[m * m + 2 * m :], float).copy()
    off_scale = 1.0 - shrinkage
    res = np.full((t_rows, m, m), np.nan)
    for i in range(t_rows):
        row = A[i]
        valid = ~np.isnan(row)
        decay = np.where(valid, root, 1.0)
        x = np.zeros(m)
        if demean:
            x[valid] = row[valid] - np.where(
                weight[valid] > 0, mean[valid] / np.where(weight[valid] > 0, weight[valid], 1.0), 0.0
            )
        else:
            x[valid] = row[valid]
        mean[valid] = mean[valid] * w + one_minus_w * row[valid]
        weight[valid] = weight[valid] * w + one_minus_w
        count[valid] += 1
        S *= np.outer(decay, decay)
        S += one_minus_w * np.outer(x, x)
        diag = np.diag(S)
        ok = (diag > 0) & (weight >= min_sample) & (count >= min_periods)
        if ok.any():
            d = np.where(diag > 0, np.sqrt(np.where(diag > 0, diag, 1.0)), np.nan)
            C = off_scale * S / np.outer(d, d)
            np.fill_diagonal(C, 1.0)
            mask = np.outer(ok, ok)
            out = np.where(mask, C, np.nan)
            res[i] = out
    flat = np.concatenate([S.ravel(), mean, weight, count])
    return res, flat


def overlapping_rows(A: np.ndarray, k: int, tail: np.ndarray | None = None):
    """Calendar-anchored k-row overlapping sums of a (t, m) panel with NaN
    treated as 0 and all-missing windows as NaN (the matrix form of
    overlapping_returns, reference _ewm_psd.py:9-41).  ``tail`` carries the
    previous batch's last k-1 rows so an incremental call sees full windows
    from its first row.  Returns (X (t, m), new_tail (k-1, m))."""
    m = A.shape[1]
    if k <= 1:
        return A, np.zeros((0, m))
    prefix = 0 if tail is None else len(tail)
    joined = A if prefix == 0 else np.concatenate([tail, A])
    observed = ~np.isnan(joined)
    z = np.where(observed, joined, 0.0)
    # per-window fresh sums over a zero-padded front: every window sums
    # exactly its own k operands in a fixed order, so a resumed run (tail
    # prepended) reproduces the full run bit-for-bit — a cumsum-difference
    # formulation would not (different rounding across the split).
    pad = np.zeros((k - 1, m))
    zp = np.concatenate([pad, z])
    op = np.concatenate([pad, observed.astype(float)])
    win = np.lib.stride_tricks.sliding_window_view(zp, k, axis=0)
    winc = np.lib.stride_tricks.sliding_window_view(op, k, axis=0)
    total = win.sum(axis=2)
    count = winc.sum(axis=2)
    X = np.where(count > 0, total, np.nan)
    new_tail = joined[-(k - 1):] if len(joined) >= k - 1 else joined
    return X[prefix:], new_tail


def ewmcorr_psd_ov(A: np.ndarray, n: float, overlapping: int = 1,
                   min_sample: float = 0.25, min_periods: int = 1,
                   demean: bool = True, shrinkage: float = 0.0, state=None):
    """ewmcorr_psd over k-row overlapping returns, with the overlap tail in
    the resumable state (reference _ewm_psd.py:136-158: min_periods scales
    by the overlap; tail carried across batches)."""
    m = A.shape[1]
    base_len = m * m + 3 * m
    tail = None
    inner_state = None
    if state is not None:
        state = np.asarray(state, float)
        inner_state = state[:base_len]
        rest = state[base_len:]
        if overlapping > 1 and len(rest) == (overlapping - 1) * m:
            tail = rest.reshape(overlapping - 1, m)
    X, new_tail = overlapping_rows(A, overlapping, tail)
    res, inner_out = ewmcorr_psd(
        X, n, min_sample=min_sample,
        min_periods=min_periods * overlapping, demean=demean,
        shrinkage=shrinkage, state=inner_state,
    )
    if overlapping > 1:
        pad = np.full((overlapping - 1 - len(new_tail), m), np.nan)
        tail_full = np.concatenate([pad, new_tail]) if len(pad) else new_tail
        out_state = np.concatenate([inner_out, tail_full.ravel()])
    else:
        out_state = inner_out
    return res, out_state
