"""Holt linear-trend (double exponential) smoothing — the natural
extension of the engine's EWM family to trending series (public method:
Holt 1957 / Hyndman & Athanasopoulos, *Forecasting: Principles and
Practice* §8.2).  The reference's EWM suite stops at level smoothing
(ewma, _ewm.py); Holt adds the trend component a drifting series needs:

    level:  l_t = α·x_t + (1-α)·(l_{t-1} + b_{t-1})
    trend:  b_t = β·(l_t − l_{t-1}) + (1-β)·b_{t-1}
    output: fitted l_t (and optionally the h-step forecast l_t + h·b_t)

Conventions match the EWM kernels: NaN rows emit NaN and leave state
untouched; the first valid row initializes l = x, b = 0 (emitting x);
the sequential scalar recurrence makes (head, then tail from head's
state) bit-identical to one sweep, so plans/partitioning.py's segmented
execution applies unchanged.

Same execution shape as operators/ewm.py: one ``_core.kernel_map`` pass
(the engine's single JVM↔Python boundary), state = 3 doubles
packable to array<double>.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from pyg_timeseries_spark.kernels import cnative as _cnative
from pyg_timeseries_spark.operators._core import (
    KEY, TS, VAL, f64, kernel_map, split_state,
)

HOLT_STATE_LEN = 3  # [seen, level, trend]


def holt_kernel(
    a: np.ndarray,
    alpha: float,
    beta: float,
    horizon: float = 0.0,
    state: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Sequential Holt sweep over one key's values.  Returns (fitted,
    final_state); ``horizon`` > 0 emits the h-step-ahead forecast
    l_t + h·b_t instead of the fitted level."""
    if not (0.0 < alpha <= 1.0 and 0.0 <= beta <= 1.0):
        raise ValueError("need 0 < alpha <= 1 and 0 <= beta <= 1")
    if state is None:
        seen, lvl, trd = 0.0, np.nan, np.nan
    else:
        seen, lvl, trd = float(state[0]), float(state[1]), float(state[2])
    if _cnative.available():
        s = np.array([seen, lvl, trd], dtype=np.float64)
        out = np.full(len(a), np.nan)
        av = np.ascontiguousarray(a, dtype=np.float64)
        _cnative.holt_arrays(av, alpha, beta, horizon, s, out)
        return out, s
    out = np.full(len(a), np.nan)
    for i in range(len(a)):
        x = a[i]
        if np.isnan(x):
            continue
        if seen == 0.0:
            lvl, trd, seen = x, 0.0, 1.0
        else:
            prev = lvl
            lvl = alpha * x + (1.0 - alpha) * (lvl + trd)
            trd = beta * (lvl - prev) + (1.0 - beta) * trd
        out[i] = lvl + horizon * trd
    return out, np.array([seen, lvl, trd], dtype=np.float64)


def _holt_map(df, alpha, beta, horizon, key, ts, v, out, state_df,
              with_state):
    def run(pdf, state):
        return holt_kernel(f64(pdf, v), alpha, beta, horizon, state=state)

    return kernel_map(df, key, ts, [out], run, state_df, with_state,
                      state_lens=(HOLT_STATE_LEN,))


def holt(
    df: DataFrame,
    alpha: float,
    beta: float,
    horizon: float = 0.0,
    key: str = KEY,
    ts: str = TS,
    v: str = VAL,
    out: str = "holt",
    state_df: DataFrame | None = None,
) -> DataFrame:
    """Fitted Holt level (or h-step forecast) per row."""
    return _holt_map(df, alpha, beta, horizon, key, ts, v, out, state_df,
                     with_state=False)


def holt_(
    df: DataFrame,
    alpha: float,
    beta: float,
    horizon: float = 0.0,
    key: str = KEY,
    ts: str = TS,
    v: str = VAL,
    out: str = "holt",
    state_df: DataFrame | None = None,
    persist: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Stateful variant: (data, state) pair, resumable bit-for-bit."""
    combined = _holt_map(df, alpha, beta, horizon, key, ts, v, out, state_df,
                         with_state=True)
    return split_state(combined, key, persist)


# ---------------------------------------------------------------------------
# Holt-Winters (additive seasonal) — Hyndman & Athanasopoulos §8.3
# ---------------------------------------------------------------------------

def holt_winters_kernel(
    a: np.ndarray,
    alpha: float,
    beta: float,
    gamma: float,
    m: int,
    state: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Additive Holt-Winters sweep over one key's valid-ordered values.

    Deterministic warm-up convention (every engine must pick one; this is
    the documented one): the first ``m`` valid observations emit x_t
    unchanged while buffering; at the m-th, level = sum(first m)/m,
    trend = 0, seasonal_i = x_i - level.  From then on, with p = the
    0-based valid-row index mod m:

        l' = alpha*(x - s[p]) + (1-alpha)*(l + b)
        b' = beta*(l' - l)    + (1-beta)*b
        s[p] = gamma*(x - l - b) + (1-gamma)*s[p]
        out = l' + s[p]

    State = [seen, level, trend, s_0..s_{m-1}]; during warm-up the
    seasonal slots double as the raw-x buffer, so resume from any split
    point is bit-identical (same invariant as holt/ewma)."""
    if not (0.0 < alpha <= 1.0 and 0.0 <= beta <= 1.0 and 0.0 <= gamma <= 1.0):
        raise ValueError("need 0 < alpha <= 1 and beta, gamma in [0, 1]")
    if m < 2:
        raise ValueError("seasonal period m must be >= 2")
    if state is None:
        seen, lvl, trd = 0.0, np.nan, np.nan
        sea = np.full(m, np.nan)
    else:
        seen, lvl, trd = float(state[0]), float(state[1]), float(state[2])
        sea = np.asarray(state[3:3 + m], dtype=np.float64).copy()
    if _cnative.available():
        s = np.concatenate(([seen, lvl, trd], sea)).astype(np.float64)
        out = np.full(len(a), np.nan)
        av = np.ascontiguousarray(a, dtype=np.float64)
        _cnative.hw_arrays(av, alpha, beta, gamma, m, s, out)
        return out, s
    out = np.full(len(a), np.nan)
    for i in range(len(a)):
        x = a[i]
        if np.isnan(x):
            continue
        t = int(seen)          # 0-based valid index of this row
        p = t % m
        if t < m:              # warm-up: buffer and pass through
            sea[p] = x
            out[i] = x
            seen = t + 1.0
            if t + 1 == m:     # bootstrap level/trend/seasonals
                # sequential left-fold, not np.sum (pairwise): keeps the
                # double sequence identical to a SQL list_sum replay
                total = 0.0
                for s_val in sea:
                    total += float(s_val)
                lvl = total / m
                trd = 0.0
                sea = sea - lvl
            continue
        s_old = sea[p]
        new_lvl = alpha * (x - s_old) + (1.0 - alpha) * (lvl + trd)
        new_trd = beta * (new_lvl - lvl) + (1.0 - beta) * trd
        new_sea = gamma * (x - lvl - trd) + (1.0 - gamma) * s_old
        lvl, trd, sea[p] = new_lvl, new_trd, new_sea
        out[i] = lvl + sea[p]
        seen = t + 1.0
    return out, np.concatenate(([seen, lvl, trd], sea))


def _hw_map(df, alpha, beta, gamma, m, key, ts, v, out, state_df,
            with_state):
    def run(pdf, state):
        return holt_winters_kernel(f64(pdf, v), alpha, beta, gamma, m,
                                   state=state)

    return kernel_map(df, key, ts, [out], run, state_df, with_state,
                      state_lens=(3 + m,))


def holt_winters(
    df: DataFrame,
    alpha: float,
    beta: float,
    gamma: float,
    m: int,
    key: str = KEY,
    ts: str = TS,
    v: str = VAL,
    out: str = "holt_winters",
    state_df: DataFrame | None = None,
) -> DataFrame:
    """Additive Holt-Winters fitted level+season per row (warm-up rows
    pass x through — convention in holt_winters_kernel)."""
    return _hw_map(df, alpha, beta, gamma, m, key, ts, v, out, state_df,
                   with_state=False)


def holt_winters_(
    df: DataFrame,
    alpha: float,
    beta: float,
    gamma: float,
    m: int,
    key: str = KEY,
    ts: str = TS,
    v: str = VAL,
    out: str = "holt_winters",
    state_df: DataFrame | None = None,
    persist: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Stateful variant: (data, state) pair, resumable bit-for-bit."""
    combined = _hw_map(df, alpha, beta, gamma, m, key, ts, v, out, state_df,
                       with_state=True)
    return split_state(combined, key, persist)
