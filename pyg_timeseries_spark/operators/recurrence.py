"""Spark wrappers for the path-dependent recurrence kernels (zmooth, buffer,
rolling_tover) — the same ``_core.kernel_map`` pass as operators/ewm.py, with
auxiliary input columns (the smooth series / the band series) carried into
the kernel.

Reference: zmooth `_zmooth.py:8-115`; buffer `_rolling.py:294-332, 872-942`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyg_timeseries_spark.kernels import recurrence_numpy as RK
from pyg_timeseries_spark.operators._core import (
    KEY, TS, VAL, f64, kernel_map, split_state,
)


def _zmooth_map(df, n, smooth_col, max_move, exc_zero, key, ts, v, out,
                state_df, with_state):
    def run(pdf, state):
        smooth = f64(pdf, smooth_col) if smooth_col else None
        return RK.zmooth(f64(pdf, v), n, smooth=smooth, max_move=max_move,
                         exc_zero=exc_zero, state=state)

    return kernel_map(df, key, ts, [out], run, state_df, with_state,
                      state_lens=(RK.ZMOOTH_STATE_LEN,))


def zmooth(df: DataFrame, n: float, smooth_col: str | None = None,
           max_move: float = 4.2, exc_zero: bool = False, key: str = KEY,
           ts: str = TS, v: str = VAL, out: str = "zmooth",
           state_df: DataFrame | None = None) -> DataFrame:
    return _zmooth_map(df, n, smooth_col, max_move, exc_zero, key, ts, v,
                       out, state_df, with_state=False)


def zmooth_(df: DataFrame, n: float, smooth_col: str | None = None,
            max_move: float = 4.2, exc_zero: bool = False, key: str = KEY,
            ts: str = TS, v: str = VAL, out: str = "zmooth",
            state_df: DataFrame | None = None, persist: bool = True):
    combined = _zmooth_map(df, n, smooth_col, max_move, exc_zero, key, ts, v,
                           out, state_df, with_state=True)
    return split_state(combined, key, persist)


def _buffer_map(df, band, unit, rounding_band, key, ts, v, out, state_df,
                with_state):
    const_band = None if isinstance(band, str) else float(band)

    def run(pdf, state):
        b = f64(pdf, band) if const_band is None else const_band
        return RK.buffer(f64(pdf, v), b, unit=unit,
                         rounding_band=rounding_band, state=state)

    return kernel_map(df, key, ts, [out], run, state_df, with_state,
                      state_lens=(RK.BUFFER_STATE_LEN,))


def buffer(df: DataFrame, band, unit: float = 0.0, rounding_band: float = 0.0,
           key: str = KEY, ts: str = TS, v: str = VAL, out: str = "buffer",
           state_df: DataFrame | None = None) -> DataFrame:
    """``band`` is a float or the name of a band column."""
    return _buffer_map(df, band, unit, rounding_band, key, ts, v, out,
                       state_df, with_state=False)


def buffer_(df: DataFrame, band, unit: float = 0.0, rounding_band: float = 0.0,
            key: str = KEY, ts: str = TS, v: str = VAL, out: str = "buffer",
            state_df: DataFrame | None = None, persist: bool = True):
    combined = _buffer_map(df, band, unit, rounding_band, key, ts, v, out,
                           state_df, with_state=True)
    return split_state(combined, key, persist)


def _tover_map(df, n, interval, key, ts, v, out, state_df, with_state):
    def run(pdf, state):
        return RK.rolling_tover(f64(pdf, v), n=n, interval=interval,
                                state=state)

    return kernel_map(df, key, ts, [out], run, state_df, with_state,
                      state_lens=(2 * n + 3,))


def rolling_tover(df: DataFrame, n: int = 256, interval: float | None = None,
                  key: str = KEY, ts: str = TS, v: str = VAL,
                  out: str = "rolling_tover",
                  state_df: DataFrame | None = None) -> DataFrame:
    """Rolling turnover / annualized-risk ratio (reference
    `_rolling.py:417-443`)."""
    return _tover_map(df, n, interval, key, ts, v, out, state_df,
                      with_state=False)


def rolling_tover_(df: DataFrame, n: int = 256, interval: float | None = None,
                   key: str = KEY, ts: str = TS, v: str = VAL,
                   out: str = "rolling_tover",
                   state_df: DataFrame | None = None, persist: bool = True):
    combined = _tover_map(df, n, interval, key, ts, v, out, state_df,
                          with_state=True)
    return split_state(combined, key, persist)
