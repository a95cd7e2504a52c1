"""Risk-targeted multi-asset buffering over long-format frames.

Reference: multibuffer (/root/reference/src/pyg_timeseries/_multibuffer.py
:286-414) — the one reference module beyond the scipy/cvxpy optimizers that
is a true *operator* (a per-row bisection recurrence), here an Arrow-batched
``applyInPandas`` around kernels/multibuffer_numpy.py.

Data model (Spark-native): one row per (portfolio, ts, asset) with target /
band / vol / point-value columns; correlations either a constant
(near-correlation scalar / beta vector) or a melted frame
(portfolio[, ts], asset_i, asset_j, cor) COGROUPED with the positions frame
— `groupBy(key).cogroup(corr.groupBy(key)).applyInPandas` ships each
portfolio's panel and its correlation rows to one task together.

Scale: a group is one portfolio's bucketed history (T × k doubles + its
corr rows) — the applyInPandas envelope the engine is designed for; across
portfolios fully parallel.  For T too large, plans/partitioning.run_segmented
chains the [m, positions] state across time segments bit-exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyg_timeseries_spark.kernels import multibuffer_numpy as MB
from pyg_timeseries_spark.operators._core import (
    KEY, PRIOR_COL, STATE_COL, TS, split_state,
)


def _out_schema(key: str, ts_field: T.StructField) -> T.StructType:
    return T.StructType(
        [
            T.StructField(key, T.StringType()),
            ts_field,
            T.StructField("asset", T.StringType()),
            T.StructField("pos", T.DoubleType()),
            T.StructField("mult", T.DoubleType()),
            T.StructField("mismatch", T.DoubleType()),
            T.StructField(STATE_COL, T.ArrayType(T.DoubleType())),
        ]
    )


def _multibuffer_combined(
    df: DataFrame,
    corr: DataFrame | float | None,
    key: str,
    ts: str,
    unit: float,
    risk_band: float,
    rounding_band: float,
    state_df: DataFrame | None,
) -> DataFrame:
    ts_field = next(f for f in df.schema.fields if f.name == ts)
    out_schema = _out_schema(key, ts_field)
    near = corr if isinstance(corr, (int, float)) or corr is None else None
    if state_df is not None:
        pr = state_df.select(F.col(key), F.col("state").alias(PRIOR_COL))
        df = df.join(F.broadcast(pr), on=key, how="left")
    else:
        df = df.withColumn(PRIOR_COL, F.lit(None).cast(T.ArrayType(T.DoubleType())))

    def run(pos_pdf: pd.DataFrame, cor_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pos_pdf) == 0:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        k_val = pos_pdf[key].iloc[0]
        val_cols = [c for c in ("target", "band", "vol", "pv")
                    if c in pos_pdf.columns]
        panel = pos_pdf.pivot_table(
            index=ts, columns="asset", values=val_cols, sort=True,
            dropna=False,
        )
        times = panel.index
        assets = sorted(pos_pdf["asset"].unique())

        def grid(col):
            g = panel[col].reindex(columns=assets)
            return g.to_numpy(dtype=float)

        target = grid("target")
        band = grid("band") if "band" in pos_pdf.columns else np.zeros_like(target)
        vol = grid("vol") if "vol" in pos_pdf.columns else np.ones_like(target)
        pv = grid("pv") if "pv" in pos_pdf.columns else np.ones_like(target)
        kk = len(assets)
        if near is not None:
            C = MB.near_correlation_matrix(float(near), kk) if near else np.eye(kk)
        elif cor_pdf is None or len(cor_pdf) == 0:
            C = np.eye(kk)
        else:
            idx = {a: i for i, a in enumerate(assets)}
            if ts in cor_pdf.columns:
                C = np.tile(np.eye(kk), (len(times), 1, 1))
                tpos = {t: n for n, t in enumerate(times)}
                cur = np.eye(kk)
                by_ts = dict(list(cor_pdf.groupby(ts, sort=True)))
                for t in times:  # ffill the melted tensor over the panel clock
                    rows = by_ts.get(t)
                    if rows is not None:
                        cur = cur.copy()
                        for r in rows.itertuples(index=False):
                            i, j = idx.get(r.asset_i), idx.get(r.asset_j)
                            if i is None or j is None:
                                continue
                            cur[i, j] = cur[j, i] = r.cor
                    C[tpos[t]] = cur
            else:
                C = np.eye(kk)
                for r in cor_pdf.itertuples(index=False):
                    i, j = idx.get(r.asset_i), idx.get(r.asset_j)
                    if i is None or j is None:
                        continue
                    C[i, j] = C[j, i] = r.cor
        pr = pos_pdf[PRIOR_COL].iloc[0]
        st = np.asarray(list(pr), float) if pr is not None else None
        if st is not None and len(st) != kk + 1:
            st = None  # asset set changed — restart
        positions, mult, mismatch, s_out = MB.multibuffer_sweep(
            target, band, vol, pv, C, unit=unit, risk_band=risk_band,
            rounding_band=rounding_band, state=st,
        )
        frames = []
        for ai, a in enumerate(assets):
            frames.append(
                pd.DataFrame(
                    {
                        key: k_val,
                        ts: times,
                        "asset": a,
                        "pos": positions[:, ai],
                        "mult": mult,
                        "mismatch": mismatch,
                        STATE_COL: None,
                    }
                )
            )
        out = pd.concat(frames, ignore_index=True)
        out.at[len(out) - 1, STATE_COL] = [float(x) for x in s_out]
        return out

    if isinstance(corr, DataFrame):
        return (
            df.groupBy(key)
            .cogroup(corr.groupBy(key))
            .applyInPandas(run, schema=out_schema)
        )

    def run_solo(pdf: pd.DataFrame) -> pd.DataFrame:
        return run(pdf, None)

    return df.groupBy(key).applyInPandas(run_solo, schema=out_schema)


def multibuffer(
    df: DataFrame,
    corr: DataFrame | float | None = None,
    key: str = KEY,
    ts: str = TS,
    unit: float = 1.0,
    risk_band: float = 0.1,
    rounding_band: float = 0.0,
    state_df: DataFrame | None = None,
) -> DataFrame:
    """Risk-targeted buffered positions: rows (key, ts, asset, pos, mult,
    mismatch).  ``corr``: None → identity, float → near-correlation, or a
    melted frame (key[, ts], asset_i, asset_j, cor)."""
    return _multibuffer_combined(
        df, corr, key, ts, unit, risk_band, rounding_band, state_df
    ).drop(STATE_COL)


def multibuffer_(
    df: DataFrame,
    corr: DataFrame | float | None = None,
    key: str = KEY,
    ts: str = TS,
    unit: float = 1.0,
    risk_band: float = 0.1,
    rounding_band: float = 0.0,
    state_df: DataFrame | None = None,
    persist: bool = True,
):
    """(data, state): state is one [m, pos_0..pos_{k-1}] row per portfolio
    (assets sorted by name) — resume is bit-exact."""
    combined = _multibuffer_combined(
        df, corr, key, ts, unit, risk_band, rounding_band, state_df
    )
    return split_state(combined, key, persist)
