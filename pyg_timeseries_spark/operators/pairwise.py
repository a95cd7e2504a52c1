"""Pairwise EWM operators over long-format frames.

* ``ewmxcor`` / ``ewmxcovar`` / ``ewmxLR`` — two value columns on one keyed
  frame (the reference's two-panel form, `_ewm.py:1805-2137`).
* ``ewmcorrelation`` / ``ewmcovariance`` — the (t, m, m) tensor
  (`_ewm.py:395-531, 535-921`) in **melted long format**: one row per
  (ts, key_i, key_j) — the Spark-native tensor layout (SURVEY.md §1.3).
  Pairs are built by a self-join of the series on ts (m² fan-out of *keys*,
  not data volume), then each (key_i, key_j) group runs the pairwise kernel.

At scale: the self-join shuffles on ts once; pair groups are independent and
parallel, each one ``_core.kernel_map`` group.  For m in the hundreds (the
reference's own regime, a (7000, 200, 200) tensor) this is ~20k pair-series
of bucketed length — exactly the applyInPandas group-size envelope the
engine is designed for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyg_timeseries_spark.kernels import pairwise_numpy as PK
from pyg_timeseries_spark.operators._core import (
    KEY, TS, VAL, f64, kernel_map, split_state,
)

_PAIR_KEYS = ["key_i", "key_j"]


def _pair_map(df, keys, ts, a, b, outs, state_df, with_state, kernel, n,
              time_col=None, **kernel_kwargs):
    def run(pdf, state):
        tv = f64(pdf, time_col) if time_col else None
        return kernel(f64(pdf, a), f64(pdf, b), n, time=tv, state=state,
                      **kernel_kwargs)

    return kernel_map(df, keys, ts, outs, run, state_df, with_state,
                      state_lens=(PK.XSTATE_LEN,))


def ewmxcor(df: DataFrame, n: float, a: str, b: str, key: str = KEY,
            ts: str = TS, out: str = "ewmxcor", bias: bool = False,
            time_col: str | None = None,
            state_df: DataFrame | None = None) -> DataFrame:
    return _pair_map(df, key, ts, a, b, [out], state_df, False, PK.ewmxcor,
                     n, time_col, bias=bias)


def ewmxcor_(df: DataFrame, n: float, a: str, b: str, key: str = KEY,
             ts: str = TS, out: str = "ewmxcor", bias: bool = False,
             time_col: str | None = None,
             state_df: DataFrame | None = None, persist: bool = True):
    combined = _pair_map(df, key, ts, a, b, [out], state_df, True,
                         PK.ewmxcor, n, time_col, bias=bias)
    return split_state(combined, key, persist)


def ewmxcovar(df: DataFrame, n: float, a: str, b: str, key: str = KEY,
              ts: str = TS, out: str = "ewmxcovar",
              time_col: str | None = None,
              state_df: DataFrame | None = None) -> DataFrame:
    return _pair_map(df, key, ts, a, b, [out], state_df, False,
                     PK.ewmxcovar, n, time_col)


def ewmxcovar_(df: DataFrame, n: float, a: str, b: str, key: str = KEY,
               ts: str = TS, out: str = "ewmxcovar",
               time_col: str | None = None,
               state_df: DataFrame | None = None, persist: bool = True):
    combined = _pair_map(df, key, ts, a, b, [out], state_df, True,
                         PK.ewmxcovar, n, time_col)
    return split_state(combined, key, persist)


def ewmxLR(df: DataFrame, n: float, a: str, b: str, key: str = KEY,
           ts: str = TS, out_c: str = "lr_c", out_m: str = "lr_m",
           bias: bool = False, time_col: str | None = None,
           state_df: DataFrame | None = None) -> DataFrame:
    return _pair_map(df, key, ts, a, b, [out_c, out_m], state_df, False,
                     PK.ewmxLR, n, time_col, bias=bias)


def ewmxLR_(df: DataFrame, n: float, a: str, b: str, key: str = KEY,
            ts: str = TS, out_c: str = "lr_c", out_m: str = "lr_m",
            bias: bool = False, time_col: str | None = None,
            state_df: DataFrame | None = None, persist: bool = True):
    combined = _pair_map(df, key, ts, a, b, [out_c, out_m], state_df, True,
                         PK.ewmxLR, n, time_col, bias=bias)
    return split_state(combined, key, persist)


# ---- melted (t, m, m) tensors ----------------------------------------------


def _melt_pairs(df: DataFrame, key: str, ts: str, v: str,
                diagonal: bool = False) -> DataFrame:
    """(ts, key_i, v_i, key_j, v_j) rows for key_i < key_j (<= with the
    diagonal)."""
    left = df.select(F.col(ts), F.col(key).alias("key_i"), F.col(v).alias("v_i"))
    right = df.select(F.col(ts), F.col(key).alias("key_j"), F.col(v).alias("v_j"))
    pairs = left.join(right, on=ts)
    if diagonal:
        return pairs.filter(F.col("key_i") <= F.col("key_j"))
    return pairs.filter(F.col("key_i") < F.col("key_j"))


def _correlation_map(df, n, key, ts, v, bias, state_df, out, with_state):
    return _pair_map(_melt_pairs(df, key, ts, v), _PAIR_KEYS, ts, "v_i",
                     "v_j", [out], state_df, with_state, PK.ewmxcor, n,
                     bias=bias)


def ewmcorrelation(df: DataFrame, n: float, key: str = KEY, ts: str = TS,
                   v: str = VAL, bias: bool = False,
                   state_df: DataFrame | None = None,
                   out: str = "cor") -> DataFrame:
    """Melted EWM correlation tensor: rows (ts, key_i, key_j, cor) for
    key_i < key_j (symmetric; diagonal ≡ 1).  Reference `_ewm.py:688-921`."""
    return _correlation_map(df, n, key, ts, v, bias, state_df, out, False)


def ewmcorrelation_(df: DataFrame, n: float, key: str = KEY, ts: str = TS,
                    v: str = VAL, bias: bool = False,
                    state_df: DataFrame | None = None,
                    out: str = "cor", persist: bool = True):
    """Stateful melted correlation tensor: (data, state) where state holds
    one packed XSTATE row per (key_i, key_j) pair — resume is bit-exact
    (reference ewmcorrelation_ `_ewm.py:688-770`)."""
    combined = _correlation_map(df, n, key, ts, v, bias, state_df, out, True)
    return split_state(combined, _PAIR_KEYS, persist)


def _covariance_map(df, n, key, ts, v, state_df, out, with_state):
    return _pair_map(_melt_pairs(df, key, ts, v, diagonal=True), _PAIR_KEYS,
                     ts, "v_i", "v_j", [out], state_df, with_state,
                     PK.ewmxcovar, n)


def ewmcovariance(df: DataFrame, n: float, key: str = KEY, ts: str = TS,
                  v: str = VAL, state_df: DataFrame | None = None,
                  out: str = "cov") -> DataFrame:
    """Melted EWM covariance tensor incl. the diagonal (variances).
    Reference `_ewm.py:535-685`."""
    return _covariance_map(df, n, key, ts, v, state_df, out, False)


def ewmcovariance_(df: DataFrame, n: float, key: str = KEY, ts: str = TS,
                   v: str = VAL, state_df: DataFrame | None = None,
                   out: str = "cov", persist: bool = True):
    """Stateful melted covariance tensor: (data, state) keyed on
    (key_i, key_j) (reference ewmcovariance_ `_ewm.py:535-614`)."""
    combined = _covariance_map(df, n, key, ts, v, state_df, out, True)
    return split_state(combined, _PAIR_KEYS, persist)
