"""Cross-sectional rank in [-1, 1].

Reference `_xrank.py:6-188`: pairwise-probability rank with observation
weights `w`, betas `b`, and an optional vol-softened comparison
(p = 1 - 0.5·exp(-|Δ|/vol)); invariants: order-preserving, range (-1,1),
Σ w·rank = 0.

Two implementations:
* ``xrank`` — exact semantics via groupBy(ts).applyInPandas with a
  *vectorized* O(m²) numpy pairwise computation per timestamp (no Python
  inner loop; the reference's numba double loop becomes an outer-product).
  The cross-section m (keys per timestamp) is small relative to data volume,
  and timestamps parallelize perfectly.
* ``xrank_simple`` — the hard-comparison unweighted case as pure Catalyst
  rank arithmetic: (n_less - n_greater)/(m-1) == (2·rank - m - 1)/(m-1)
  under no ties; SQL-expressible (driver oracle).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyg_timeseries_spark.operators._core import KEY, TS, VAL, f64, kernel_map


def xrank_kernel(a, w=None, b=None, vol: float = 0.0, scale: int = 0,
                 reweight: bool = False):
    """Vectorized pairwise-probability rank (reference `_xrank.py:15-103`)."""
    a = np.asarray(a, dtype=float)
    m = a.shape[0]
    w = np.ones(m) if w is None else np.asarray(w, dtype=float)
    b = np.ones(m) if b is None else np.asarray(b, dtype=float)
    ok = ~np.isnan(a)
    a0 = np.where(ok, a, 0.0)
    w0 = np.where(ok, w, 0.0)
    b0 = np.where(ok, b, 0.0)
    wb = w0 * b0
    total = wb.sum()
    if total == 0:
        return np.full(m, np.nan)
    wb = wb / total
    if vol < 0:
        wba = wb * a0
        m1 = wba.sum()
        m2 = (wba * a0).sum()
        vol = max(m2 - m1 * m1, 0.0) ** 0.5
    d = a0[:, None] - a0[None, :]  # d[i,j] = a_i - a_j
    if vol == 0:
        s = np.sign(-d)  # 1 if a_i < a_j, -1 if greater, 0 tie → 2p-1
        two_p_minus_1 = -s  # r[i] += (2p-1)·wb[j], p = P(i beats j)... see below
        # reference: qq = p(a_i, a_j) = 1 if a_i < a_j else -1 (hard vote for
        # the *smaller* being ranked lower): r_i += (2(1-qq)-1)... with the
        # hard comparator the reference's qq is ±1 directly and
        # r_i += (2p-1)wb_j where (2p-1) = +1 if a_i > a_j else -1.
        contrib = np.sign(d)
    else:
        tail = 0.5 * np.exp(-np.abs(d) / vol)
        q = np.where(d < 0, 1.0 - tail, tail)  # q = P(a_i "below" a_j)
        contrib = 2.0 * (1.0 - q) - 1.0
    pair_ok = np.outer(ok & (w0 != 0), ok & (w0 != 0))
    np.fill_diagonal(pair_ok, False)
    r = (np.where(pair_ok, contrib, 0.0) * wb[None, :]).sum(axis=1)
    if scale == 2:
        std = max(np.sum(r * r) - np.sum(r) ** 2, 0.0) ** 0.5
        r = r / std if std else r
    elif scale in (1, 3):
        wn = w0 / w0.sum()
        std = (
            np.sum((wn * r) ** 2 * (1 - b0 ** 2)) ** 0.5
            if scale == 1
            else np.sum(wn * r * r) ** 0.5
        )
        r = r / std if std else r
    r = np.where(ok, r, np.nan)
    if reweight:
        r = r * w0
    return r


def xrank(df: DataFrame, key: str = KEY, ts: str = TS, v: str = VAL,
          weight: str | None = None, beta: str | None = None,
          vol: float = 0.0, scale: int = 0, reweight: bool = False,
          out: str = "xrank") -> DataFrame:
    """Exact cross-sectional rank per timestamp: one kernel_map pass
    grouped on ``ts``, each cross-section sorted by ``key``."""
    def run(pdf, _):
        w = f64(pdf, weight) if weight else None
        b = f64(pdf, beta) if beta else None
        return xrank_kernel(f64(pdf, v), w, b, vol=vol, scale=scale,
                            reweight=reweight), None

    return kernel_map(df, ts, key, [out], run)


def xrank_simple(df: DataFrame, key: str = KEY, ts: str = TS, v: str = VAL,
                 out: str = "xrank") -> DataFrame:
    """Hard-comparison unweighted xrank as Catalyst rank arithmetic:
    r_i = (n_less - n_greater) / m with equal weights wb_j = 1/m — matches
    the kernel with vol=0, w=b=1 (ties contribute 0)."""
    wcnt = Window.partitionBy(ts)
    rng = Window.partitionBy(ts).orderBy(v)
    m = F.count(F.when(F.col(v).isNotNull(), 1)).over(wcnt)
    r_asc = F.rank().over(rng)  # 1 + n_less (valid rows; nulls sort first in asc? guarded below)
    n_less = r_asc - 1
    # count of strictly greater = m - (rank + ties - 1); with distinct values
    # ties=1 → m - rank
    ties = F.count(F.lit(1)).over(
        Window.partitionBy(ts, v)
    )
    n_greater = m - n_less - ties
    expr = F.when(
        F.col(v).isNotNull() & (m > 0),
        (n_less - n_greater).cast("double") / m.cast("double"),
    )
    valid = df.filter(F.col(v).isNotNull()).withColumn(out, expr)
    nulls = df.filter(F.col(v).isNull()).withColumn(out, F.lit(None).cast("double"))
    return valid.unionByName(nulls)


def xsec_zscore(df: DataFrame, key: str = KEY, ts: str = TS, v: str = VAL,
                out: str = "xsec_zscore") -> DataFrame:
    """Cross-sectional standardization: (v − mean_t) / std_t over the
    valid values at each timestamp (unbiased std; NULL when fewer than two
    valid peers or zero dispersion).  The factor-pipeline companion of
    xrank — one (ts)-partitioned window, no ordering needed."""
    w = Window.partitionBy(ts)
    c = F.col(v)
    cnt = F.count(v).over(w)
    mean = F.avg(v).over(w)
    sd = F.stddev_samp(v).over(w)
    expr = F.when(c.isNotNull() & (cnt > 1) & (sd > 0), (c - mean) / sd)
    valid = df.filter(c.isNotNull()).withColumn(out, expr)
    nulls = df.filter(c.isNull()).withColumn(out, F.lit(None).cast("double"))
    return valid.unionByName(nulls)


def xsec_winsorize(df: DataFrame, z: float = 3.0, key: str = KEY,
                   ts: str = TS, v: str = VAL,
                   out: str = "xsec_winsorized") -> DataFrame:
    """Clip each timestamp's values to mean_t ± z·std_t — the standard
    cross-sectional outlier guard before weighting; degenerate sections
    (one name, zero dispersion) pass through unchanged."""
    w = Window.partitionBy(ts)
    c = F.col(v)
    cnt = F.count(v).over(w)
    mean = F.avg(v).over(w)
    sd = F.stddev_samp(v).over(w)
    lo, hi = mean - F.lit(float(z)) * sd, mean + F.lit(float(z)) * sd
    ready = F.coalesce((cnt > 1) & (sd > 0), F.lit(False))
    clipped = F.when(c < lo, lo).when(c > hi, hi).otherwise(c)
    valid = df.filter(c.isNotNull()).withColumn(
        out, F.when(ready, clipped).otherwise(c)
    )
    nulls = df.filter(c.isNull()).withColumn(out, F.lit(None).cast("double"))
    return valid.unionByName(nulls)
