"""Shared machinery for the long-format operators.

Every operator acts on a long-format DataFrame ``(key, ts, v)`` and appends an
output column.  The reference's NaN-skip semantics (a NaN row contributes
nothing to the state and outputs NaN — /root/reference/src/pyg_timeseries/
_rolling.py:454-463) are reproduced *without* a join: rows with a NULL value
are split off, the window runs over valid rows only, and the NULL rows are
unioned back with a NULL output.  This is the Spark-native rendition of the
reference's "compute on nona(a), reindex back" identity (its
tests/test_ts.py:54-68).

At 100 TB the window shuffle on ``key`` is the dominant cost, and chaining
operators does not share it today.  ``apply_on_valid`` reads its input
twice (valid rows and NULL rows), so each NaN-skipping op doubles its
upstream plan, and the union of the two branches drops the key
partitioning, so the next window shuffles again: a chain of
``rolling_mean → ffill → diff → cumsum`` plans 1, 2, 4 and then 8
``Exchange hashpartitioning`` nodes.  ROADMAP #3 keeps NULL rows in place
so that a chain shares one exchange.
"""

from __future__ import annotations

from typing import Callable, Collection, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql import types as T

KEY, TS, VAL = "key", "ts", "v"

# packed per-key state: emitted on a group's last row / joined in as the prior
STATE_COL = "__state"
PRIOR_COL = "__prior_state"


def wspec(key: str | Sequence[str] = KEY, ts: str = TS,
          tiebreak: str | None = None) -> WindowSpec:
    """Per-key time-ordered window.  Pass ``tiebreak`` (any column giving a
    total order — e.g. doc_id, or the value column) when (key, ts) can hold
    duplicates: without it, duplicate-timestamp rows order arbitrarily per
    run/partitioning, making shift/diff/rank nondeterministic vs an oracle.
    (The engine's datagen guarantees unique ts; real feeds may not.)"""
    keys = [key] if isinstance(key, str) else list(key)
    order = [ts] if tiebreak is None else [ts, tiebreak]
    return Window.partitionBy(*keys).orderBy(*order)


def w_rows(n: int, key: str | Sequence[str] = KEY, ts: str = TS,
           tiebreak: str | None = None) -> WindowSpec:
    """Trailing count-n frame over *valid* rows (caller pre-filters nulls)."""
    return wspec(key, ts, tiebreak).rowsBetween(-(n - 1), Window.currentRow)


def w_unbounded(key: str | Sequence[str] = KEY, ts: str = TS,
                tiebreak: str | None = None) -> WindowSpec:
    return wspec(key, ts, tiebreak).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )


def apply_on_valid(
    df: DataFrame,
    out: str,
    expr: Column,
    v: str = VAL,
    keep_null_rows: bool = True,
) -> DataFrame:
    """Evaluate ``expr`` (a window expression) over the null-filtered frame and
    union the null rows back with NULL output — the NaN-skip identity."""
    valid = df.filter(F.col(v).isNotNull()).withColumn(out, expr)
    if not keep_null_rows:
        return valid
    nulls = df.filter(F.col(v).isNull()).withColumn(
        out, F.lit(None).cast(valid.schema[out].dataType)
    )
    return valid.unionByName(nulls)


def gated(expr: Column, count_expr: Column, n: int) -> Column:
    """Emission gate: output NULL until n valid observations are in the window
    (reference gates on t0 >= n, _rolling.py:462)."""
    return F.when(count_expr >= n, expr)


def f64(pdf: pd.DataFrame, col: str) -> np.ndarray:
    """One group column as float64, NULL -> NaN."""
    return pdf[col].to_numpy(dtype=np.float64, na_value=np.nan)


def kernel_map(
    df: DataFrame,
    keys: str | Sequence[str],
    ts: str,
    outs: Sequence[str],
    run: Callable,
    state_df: DataFrame | None = None,
    with_state: bool = False,
    state_lens: Collection[int] | None = None,
    out_type: T.DataType = T.DoubleType(),
) -> DataFrame:
    """The engine's one JVM<->Python boundary for per-key sequential kernels
    (SURVEY.md §3.4): one ``groupBy(keys).applyInPandas`` pass.

    Per group: the rows arrive over Arrow, are sorted by ``ts``, and
    ``run(pdf, state)`` returns ``(*out_columns, final_state)`` — one
    column per name in ``outs``, appended, or replacing in place an input
    column of the same name.  ``state`` is the key's prior state from
    ``state_df`` (rows ``(*keys, state)``), or None when the key has none
    or its length is not in ``state_lens`` (None accepts any length).  With ``with_state`` the
    final state is packed into ``STATE_COL`` on the group's last row (NULL
    elsewhere) for :func:`split_state`; without it, and without a
    ``state_df``, no state column crosses the boundary at all."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    has_prior = state_df is not None
    src = df
    if has_prior:
        # one small row per key: broadcast, never shuffle the fact side
        prior = state_df.select(*keys, F.col("state").alias(PRIOR_COL))
        src = df.join(F.broadcast(prior), on=keys, how="left")
    in_cols = [f.name for f in df.schema.fields]
    fields = [T.StructField(f.name, out_type) if f.name in outs else f
              for f in df.schema.fields]
    fields += [T.StructField(c, out_type) for c in outs if c not in in_cols]
    if with_state:
        fields.append(T.StructField(STATE_COL, T.ArrayType(T.DoubleType())))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts, kind="mergesort").reset_index(drop=True)
        state = None
        if has_prior:
            prior = pdf[PRIOR_COL].iloc[0]
            if prior is not None and (state_lens is None
                                      or len(prior) in state_lens):
                state = np.asarray(list(prior), dtype=np.float64)
        *cols, s = run(pdf, state)
        outp = pdf[in_cols].copy()
        for c, r in zip(outs, cols):
            outp[c] = r
        if with_state:
            outp[STATE_COL] = None
            outp.at[len(outp) - 1, STATE_COL] = [float(x) for x in s]
        return outp

    return src.groupBy(*keys).applyInPandas(fn, schema=T.StructType(fields))


def split_state(
    combined: DataFrame, keys: str | Sequence[str], persist: bool = True
) -> tuple[DataFrame, DataFrame]:
    """(data, state) from one ``with_state`` frame — the reference's
    ``Dict(data=..., state=...)`` pair (_decorators.py:21-31).  ``persist``
    makes both halves come from one computation."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    if persist:
        combined = combined.persist()
    data = combined.drop(STATE_COL)
    state = combined.filter(F.col(STATE_COL).isNotNull()).select(
        *keys, F.col(STATE_COL).alias("state")
    )
    return data, state
