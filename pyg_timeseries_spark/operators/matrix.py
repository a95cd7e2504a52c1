"""Spark wrappers for the matrix EWM kernels over frames with an
``array<double>`` feature column.

Reference: ewmAAi `_ewm.py:936-980, 1917-1937`; ewmGLM `_ewm.py:983-1123,
1940-2020`.  The feature vector per (key, ts) row is the long-format
rendition of the reference's panel row; outputs are flattened row-major
arrays (melt with posexplode when relational access is wanted).  Every
operator is one ``_core.kernel_map`` pass.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pyg_timeseries_spark.kernels import matrix_numpy as MK
from pyg_timeseries_spark.operators._core import (
    KEY, TS, f64, kernel_map, split_state,
)


def _features_matrix(pdf, features):
    return np.array([np.asarray(r, float) for r in pdf[features]])


def _matrix_map(df, key, ts, out, state_df, with_state, features, b,
                state_len, kernel):
    """``kernel(A[, b], state)`` per key.  The state length depends on the
    feature count m, so a prior state is checked against ``state_len(m)``
    inside the group."""

    def run(pdf, state):
        A = _features_matrix(pdf, features)
        if state is not None and len(state) != state_len(A.shape[1]):
            state = None
        inputs = (A,) if b is None else (A, f64(pdf, b))
        res, s = kernel(*inputs, state)
        cells = [None if np.isnan(r).all() else [float(x) for x in r.ravel()]
                 for r in res]
        return cells, s

    return kernel_map(df, key, ts, [out], run, state_df, with_state,
                      out_type=T.ArrayType(T.DoubleType()))


def _aai_map(df, n, features, key, ts, out, min_sample, overlapping,
             state_df, with_state):
    return _matrix_map(
        df, key, ts, out, state_df, with_state, features, None,
        lambda m: MK.aai_state_len(m, overlapping),
        lambda A, state: MK.ewmAAi(A, n, state=state, min_sample=min_sample,
                                   overlapping=overlapping),
    )


def ewmAAi(df: DataFrame, n: float, features: str = "features",
           key: str = KEY, ts: str = TS, out: str = "aai",
           min_sample: float = 0.25, overlapping: int = 1,
           state_df: DataFrame | None = None) -> DataFrame:
    """Rolling inv(E(dAᵀdA)) per row; output flattened (m·m) row-major.
    ``overlapping`` k differences against the value k valid rows back."""
    return _aai_map(df, n, features, key, ts, out, min_sample, overlapping,
                    state_df, with_state=False)


def ewmAAi_(df: DataFrame, n: float, features: str = "features",
            key: str = KEY, ts: str = TS, out: str = "aai",
            min_sample: float = 0.25, overlapping: int = 1,
            state_df: DataFrame | None = None, persist: bool = True):
    combined = _aai_map(df, n, features, key, ts, out, min_sample,
                        overlapping, state_df, with_state=True)
    return split_state(combined, key, persist)


def _glm_map(df, n, features, b, key, ts, out, min_sample, overlapping,
             state_df, with_state):
    return _matrix_map(
        df, key, ts, out, state_df, with_state, features, b,
        lambda m: MK.glm_state_len(m, overlapping),
        lambda A, bv, state: MK.ewmGLM(A, bv, n, state=state,
                                       min_sample=min_sample,
                                       overlapping=overlapping),
    )


def ewmGLM(df: DataFrame, n: float, features: str = "features",
           b: str = "v", key: str = KEY, ts: str = TS, out: str = "betas",
           min_sample: float = 0.25, overlapping: int = 1,
           state_df: DataFrame | None = None) -> DataFrame:
    """EWM linear-model betas of db ~ dA per row; output (m,) array."""
    return _glm_map(df, n, features, b, key, ts, out, min_sample, overlapping,
                    state_df, with_state=False)


def ewmGLM_(df: DataFrame, n: float, features: str = "features",
            b: str = "v", key: str = KEY, ts: str = TS, out: str = "betas",
            min_sample: float = 0.25, overlapping: int = 1,
            state_df: DataFrame | None = None, persist: bool = True):
    combined = _glm_map(df, n, features, b, key, ts, out, min_sample,
                        overlapping, state_df, with_state=True)
    return split_state(combined, key, persist)


def _psd_map(df, n, features, key, ts, out, min_sample, min_periods, demean,
             shrinkage, state_df, with_state):
    return _matrix_map(
        df, key, ts, out, state_df, with_state, features, None,
        MK.psd_state_len,
        lambda A, state: MK.ewmcorr_psd(A, n, min_sample=min_sample,
                                        min_periods=min_periods,
                                        demean=demean, shrinkage=shrinkage,
                                        state=state),
    )


def ewmcorr_psd(df: DataFrame, n: float = 128, features: str = "features",
                key: str = KEY, ts: str = TS, out: str = "psd_cor",
                min_sample: float = 0.25, min_periods: int = 1,
                demean: bool = True, shrinkage: float = 0.0,
                state_df: DataFrame | None = None) -> DataFrame:
    """PSD-by-construction EWM correlation per row (flattened m·m);
    reference `_ewm_psd.py:43-287` (overlapping=1 path)."""
    return _psd_map(df, n, features, key, ts, out, min_sample, min_periods,
                    demean, shrinkage, state_df, with_state=False)


def ewmcorr_psd_(df: DataFrame, n: float = 128, features: str = "features",
                 key: str = KEY, ts: str = TS, out: str = "psd_cor",
                 min_sample: float = 0.25, min_periods: int = 1,
                 demean: bool = True, shrinkage: float = 0.0,
                 state_df: DataFrame | None = None, persist: bool = True):
    combined = _psd_map(df, n, features, key, ts, out, min_sample,
                        min_periods, demean, shrinkage, state_df,
                        with_state=True)
    return split_state(combined, key, persist)
