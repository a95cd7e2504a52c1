"""Local-level Kalman filter — the probabilistic sibling of ewma.

Public model (Durbin & Koopman, *Time Series Analysis by State Space
Methods* §2; Harvey's "local level" structural model):

    state:        mu_t = mu_{t-1} + eta_t,    eta ~ N(0, q)
    observation:  x_t  = mu_t + eps_t,        eps ~ N(0, r)

Filtered recursion per valid observation (diffuse initialization: the
first valid x gives posterior level = x with variance r, the exact
P -> inf limit):

    P_pred = P + q
    K      = P_pred / (P_pred + r)
    level  = level + K * (x - level)
    P      = (1 - K) * P_pred

The gain K converges to the steady-state value, at which point the
filter IS an ewma with alpha = K_inf — but early rows get the correct
time-varying gain instead of ewma's fixed one, which is why users
reach for it on short/restarting series.

Execution matches the engine's EWM family (operators/ewm.py,
operators/holt.py): one ``_core.kernel_map`` pass — the single
sanctioned JVM<->Python boundary — with NaN-skip semantics (NULL rows
emit NULL, state untouched) and a (data, state) resumable variant whose
(head, then tail from head's state) replay is bit-identical to one
sweep, so plans/partitioning.py's segmented execution applies
unchanged.  State = 3 doubles.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from pyg_timeseries_spark.kernels import cnative as _cnative
from pyg_timeseries_spark.operators._core import (
    KEY, TS, VAL, f64, kernel_map, split_state,
)

KALMAN_STATE_LEN = 3  # [seen, level, P]


def kalman_kernel(
    a: np.ndarray,
    q: float,
    r: float,
    state: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Sequential filtered-level sweep over one key's values.  Dispatches
    to the ctypes-compiled C twin (kernels/cnative.py:kalman_sweep —
    identical IEEE-754 op sequence, bit-equality asserted in
    tests/test_cnative.py) when a system compiler exists; the Python
    loop below is the always-available reference twin."""
    if not (q >= 0.0 and r > 0.0):
        raise ValueError("need q >= 0 and r > 0")
    if state is None:
        seen, lvl, p = 0.0, np.nan, np.nan
    else:
        seen, lvl, p = float(state[0]), float(state[1]), float(state[2])
    if _cnative.available():
        s = np.array([seen, lvl, p], dtype=np.float64)
        out = np.full(len(a), np.nan)
        av = np.ascontiguousarray(a, dtype=np.float64)
        _cnative.kalman_arrays(av, q, r, s, out)
        return out, s
    out = np.full(len(a), np.nan)
    for i in range(len(a)):
        x = a[i]
        if np.isnan(x):
            continue
        if seen == 0.0:
            lvl, p, seen = x, r, 1.0
        else:
            p_pred = p + q
            k = p_pred / (p_pred + r)
            lvl = lvl + k * (x - lvl)
            p = (1.0 - k) * p_pred
        out[i] = lvl
    return out, np.array([seen, lvl, p], dtype=np.float64)


def _kalman_map(df, q, r, key, ts, v, out, state_df, with_state):
    def run(pdf, state):
        return kalman_kernel(f64(pdf, v), q, r, state=state)

    return kernel_map(df, key, ts, [out], run, state_df, with_state,
                      state_lens=(KALMAN_STATE_LEN,))


def kalman(
    df: DataFrame,
    q: float,
    r: float,
    key: str = KEY,
    ts: str = TS,
    v: str = VAL,
    out: str = "kalman",
    state_df: DataFrame | None = None,
) -> DataFrame:
    """Filtered level per row (local-level model, process var ``q``,
    observation var ``r``)."""
    return _kalman_map(df, q, r, key, ts, v, out, state_df, with_state=False)


def kalman_(
    df: DataFrame,
    q: float,
    r: float,
    key: str = KEY,
    ts: str = TS,
    v: str = VAL,
    out: str = "kalman",
    state_df: DataFrame | None = None,
    persist: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Stateful variant: (data, state) pair, resumable bit-for-bit."""
    combined = _kalman_map(df, q, r, key, ts, v, out, state_df,
                           with_state=True)
    return split_state(combined, key, persist)
