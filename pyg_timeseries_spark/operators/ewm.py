"""EWM operators over long-format frames — the sequential kernels in
kernels/ewm_numpy.py run through ``_core.kernel_map``.

``kernel_map`` is the engine's one JVM↔Python boundary (SURVEY.md §3.4): per
key the group arrives as a pandas DataFrame over Arrow, is swept once by the
kernel, and returns the output column plus (for the ``*_`` stateful variants)
one packed state row.  No per-row Python anywhere (input_hint requirement) —
the kernel loop is per-row *inside* one vectorized batch, the same shape as
the reference's kernels; where the reference JITs them with numba, this
engine (which does not use numba) runs each loop's C twin
(kernels/cnative.py), falling back to the Python loop.

Scale notes:
* groupBy(key).applyInPandas shuffles once on key; a group must fit in one
  python worker.  The engine's rollup pipeline only runs EWM over *bucketed*
  tiers (1m/1h/1d), so group size is bounded by the retention window, not by
  raw row count (SURVEY.md §7.3).
* For skewed/huge keys, plans/partitioning.py provides time-segmented
  execution with state chaining: segment k's final state seeds segment k+1 —
  bit-identical to one sweep because the kernel recurrence is sequential.

Reference parity: _ewm.py:1326-1426 (ewma), :1429-1553 (ewmrms), :1555-1683
(ewmstd), :1686-1783 (ewmvar), :2139-2232 (ewmskew); (data, state) pair
convention _decorators.py:21-31.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pyg_timeseries_spark.kernels import ewm_numpy
from pyg_timeseries_spark.operators._core import (
    KEY, TS, VAL, f64, kernel_map, split_state,
)


def state_schema(key: str = KEY) -> T.StructType:
    return T.StructType(
        [
            T.StructField(key, T.StringType()),
            T.StructField("state", T.ArrayType(T.DoubleType())),
        ]
    )


def _ewm_map(df, kernel_name, n, key, ts, v, out, time_col, wgt_col,
             state_df, kernel_kwargs, with_state):
    kernel = ewm_numpy.KERNELS[kernel_name]

    def run(pdf, state):
        return kernel(
            f64(pdf, v), n,
            time=f64(pdf, time_col) if time_col else None,
            wgt=f64(pdf, wgt_col) if wgt_col else None,
            state=state, **kernel_kwargs,
        )

    return kernel_map(
        df, key, ts, [out], run, state_df, with_state,
        state_lens=(ewm_numpy.STATE_LEN, ewm_numpy.GSTATE_LEN),
    )


def _make_op(kernel_name: str, default_out: str):
    def op(
        df: DataFrame,
        n: float,
        key: str = KEY,
        ts: str = TS,
        v: str = VAL,
        out: str = default_out,
        time_col: str | None = None,
        wgt_col: str | None = None,
        state_df: DataFrame | None = None,
        **kernel_kwargs,
    ) -> DataFrame:
        return _ewm_map(df, kernel_name, n, key, ts, v, out, time_col,
                        wgt_col, state_df, kernel_kwargs, with_state=False)

    def op_(
        df: DataFrame,
        n: float,
        key: str = KEY,
        ts: str = TS,
        v: str = VAL,
        out: str = default_out,
        time_col: str | None = None,
        wgt_col: str | None = None,
        state_df: DataFrame | None = None,
        persist: bool = True,
        **kernel_kwargs,
    ) -> tuple[DataFrame, DataFrame]:
        """Stateful variant: returns (data, state) — the reference's
        ``Dict(data=…, state=…)`` pair (_decorators.py:21-31).  The combined
        frame is persisted so data and state come from one computation."""
        combined = _ewm_map(df, kernel_name, n, key, ts, v, out, time_col,
                            wgt_col, state_df, kernel_kwargs, with_state=True)
        return split_state(combined, key, persist)

    op.__name__ = kernel_name
    op_.__name__ = kernel_name + "_"
    op.__doc__ = ewm_numpy.KERNELS[kernel_name].__doc__
    op_.__doc__ = (op_.__doc__ or "") + f"\nKernel: {kernel_name}."
    return op, op_


ewma, ewma_ = _make_op("ewma", "ewma")
ewmrms, ewmrms_ = _make_op("ewmrms", "ewmrms")
ewmstd, ewmstd_ = _make_op("ewmstd", "ewmstd")
ewmvar, ewmvar_ = _make_op("ewmvar", "ewmvar")
ewmskew, ewmskew_ = _make_op("ewmskew", "ewmskew")
