"""Spark wrappers for the per-date optimizers (kernels/opt_numpy.py).

Reference: riskparity `_riskparity.py:169-262`, maxdiv `_maxdiv.py:68-103`,
minimize_tracking_error `_track.py:128-198`, least_squares `_opt.py:4-70`.

Data model (Spark-native):
* covariance / correlation tensors arrive MELTED — (ts, key_i, key_j, val)
  rows, the same layout ewmcovariance/ewmcorrelation emit — so the
  optimizers compose directly with the EWM tensor operators;
* riskparity / maxdiv dates are independent → groupBy(ts).applyInPandas is
  embarrassingly parallel (the 100 TB shape: one small QP per (date) cell,
  millions of cells in flight);
* minimize_tracking_error carries the integer position date-to-date →
  per-portfolio sequential kernel with resumable state, like multibuffer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyg_timeseries_spark.kernels import opt_numpy as OPT
from pyg_timeseries_spark.operators._core import (
    PRIOR_COL, STATE_COL, TS, split_state,
)


def _pivot_matrix(pdf: pd.DataFrame, ts: str, val: str):
    """Melted (key_i, key_j, val) rows of ONE date → (assets, symmetric
    matrix with NaN off-diagonal where no row exists, diag filled)."""
    assets = sorted(set(pdf["key_i"]) | set(pdf["key_j"]))
    idx = {a: i for i, a in enumerate(assets)}
    k = len(assets)
    m = np.full((k, k), np.nan)
    for r in pdf.itertuples(index=False):
        i, j = idx[getattr(r, "key_i")], idx[getattr(r, "key_j")]
        v = getattr(r, val)
        m[i, j] = m[j, i] = v
    return assets, m


def _per_date_solver(cov: DataFrame, ts: str, val: str, out: str, solve):
    out_schema = T.StructType(
        [
            next(f for f in cov.schema.fields if f.name == ts),
            T.StructField("key", T.StringType()),
            T.StructField(out, T.DoubleType()),
        ]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        assets, m = _pivot_matrix(pdf, ts, val)
        w = solve(m, assets, pdf)
        return pd.DataFrame({ts: pdf[ts].iloc[0], "key": assets, out: w})

    return cov.groupBy(ts).applyInPandas(fn, schema=out_schema)


def riskparity(cov: DataFrame, budget: DataFrame | None = None, ts: str = TS,
               val: str = "cov", out: str = "weight") -> DataFrame:
    """Risk-budget weights per date from a melted covariance tensor.
    ``budget``: optional (key, budget) frame (default equal budgets).
    Returns (ts, key, weight); masked assets (NaN/zero variance or zero
    budget) get NULL weight.

    The budget stays distributed: it broadcast-joins onto the melted rows
    (never a driver-side collect — the key count is unbounded at scale) and
    each date's solver reads its assets' budgets out of its own cogroup."""
    has_budget = budget is not None
    if has_budget:
        bi = budget.select(F.col("key").alias("key_i"),
                           F.col("budget").alias("__b_i"))
        bj = budget.select(F.col("key").alias("key_j"),
                           F.col("budget").alias("__b_j"))
        cov = cov.join(F.broadcast(bi), "key_i", "left").join(
            F.broadcast(bj), "key_j", "left")

    def solve(m, assets, pdf):
        if np.isnan(np.diagonal(m)).all():
            return np.full(len(assets), np.nan)
        b = None
        if has_budget:
            bm = {}
            for k, bv in zip(pdf["key_i"], pdf["__b_i"]):
                if pd.notna(bv):
                    bm[k] = float(bv)
            for k, bv in zip(pdf["key_j"], pdf["__b_j"]):
                if pd.notna(bv):
                    bm.setdefault(k, float(bv))
            b = np.array([bm.get(a, 0.0) for a in assets])
        return OPT.riskparity(m, b)

    return _per_date_solver(cov, ts, val, out, solve)


def maxdiv(cor: DataFrame, min_weight: float | None = None,
           max_weight: float | None = None, ts: str = TS, val: str = "cor",
           out: str = "weight") -> DataFrame:
    """Max-diversification weights per date from a melted correlation
    tensor (diagonal implied 1)."""

    def solve(m, assets, _pdf):
        k = len(assets)
        np.fill_diagonal(m, 1.0)
        lo = None if min_weight is None else np.full(k, min_weight)
        hi = None if max_weight is None else np.full(k, max_weight)
        return OPT.maxdiv(m, lo, hi)

    return _per_date_solver(cor, ts, val, out, solve)


def least_squares(df: DataFrame, a: str = "A", b: str = "b", key: str = "key",
                  ts: str = TS, out: str = "x") -> DataFrame:
    """Per-row least squares: each row carries A (flattened array<double>,
    m·n) and b (array<double>, m); emits the (n,) solution — a map-only
    pass, no shuffle."""
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out, T.ArrayType(T.DoubleType()))]
    )
    in_cols = [f.name for f in df.schema.fields]

    def fn(it):
        for pdf in it:
            xs = [
                [float(v) for v in OPT.least_squares(
                    np.asarray(list(A_), float), np.asarray(list(b_), float))]
                for A_, b_ in zip(pdf[a], pdf[b])
            ]
            o = pdf[in_cols].copy()
            o[out] = xs
            yield o

    return df.mapInPandas(fn, schema=out_schema)


def minimize_tracking_error(
    df: DataFrame,
    cov: DataFrame,
    key: str = "pf",
    ts: str = TS,
    asset: str = "asset",
    target: str = "target",
    val: str = "cov",
    min_change: float = 0.01,
    search: int = 2,
    state_df: DataFrame | None = None,
    stateful: bool = False,
    persist: bool = True,
):
    """Integer positions minimizing tracking error vs ``target`` per date,
    position carried date-to-date.  ``df``: (key, ts, asset, target) long
    rows; ``cov``: melted constant covariance (key, key_i, key_j, cov)
    cogrouped per portfolio.  Returns rows (key, ts, asset, pos, err)
    (+ state when ``stateful``)."""
    ts_field = next(f for f in df.schema.fields if f.name == ts)
    out_schema = T.StructType(
        [
            T.StructField(key, T.StringType()),
            ts_field,
            T.StructField(asset, T.StringType()),
            T.StructField("pos", T.DoubleType()),
            T.StructField("err", T.DoubleType()),
            T.StructField(STATE_COL, T.ArrayType(T.DoubleType())),
        ]
    )
    if state_df is not None:
        pr = state_df.select(F.col(key), F.col("state").alias(PRIOR_COL))
        df = df.join(F.broadcast(pr), on=key, how="left")
    else:
        df = df.withColumn(PRIOR_COL, F.lit(None).cast(T.ArrayType(T.DoubleType())))

    def run(pos_pdf: pd.DataFrame, cor_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pos_pdf) == 0:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        k_val = pos_pdf[key].iloc[0]
        panel = pos_pdf.pivot_table(index=ts, columns=asset, values=[target],
                                    sort=True, dropna=False)
        assets = sorted(pos_pdf[asset].unique())
        targets = panel[target].reindex(columns=assets).to_numpy(float)
        times = panel.index
        kk = len(assets)
        idx = {a: i for i, a in enumerate(assets)}
        C = np.zeros((kk, kk))
        for r in cor_pdf.itertuples(index=False):
            i, j = idx.get(r.key_i), idx.get(r.key_j)
            if i is None or j is None:
                continue
            C[i, j] = C[j, i] = getattr(r, val)
        pr = pos_pdf[PRIOR_COL].iloc[0]
        st = np.asarray(list(pr), float) if pr is not None else None
        if st is not None and len(st) != kk:
            st = None
        pos, errs, s_out = OPT.minimize_tracking_error_sweep(
            C, targets, min_change=min_change, search=search, state=st,
        )
        frames = []
        for ai, a in enumerate(assets):
            frames.append(pd.DataFrame({
                key: k_val, ts: times, asset: a,
                "pos": pos[:, ai], "err": errs, STATE_COL: None,
            }))
        o = pd.concat(frames, ignore_index=True)
        o.at[len(o) - 1, STATE_COL] = [float(x) for x in s_out]
        return o

    combined = (
        df.groupBy(key).cogroup(cov.groupBy(key)).applyInPandas(run, out_schema)
    )
    if not stateful:
        return combined.drop(STATE_COL)
    return split_state(combined, key, persist)


def minimize_tracking_error_(df, cov, **kw):
    """(data, state) variant."""
    return minimize_tracking_error(df, cov, stateful=True, **kw)
