"""Independent numpy/pandas answers the benchmark checks the engine against,
plus the helpers that bring Spark results into the same shape.

Tier rows are compared as exact integers (bucket and first/last ts in
epoch microseconds); token payloads as one sha256 per (source, bucket)
over the cell's concatenated int32 ids in event-time order; the
floating-point diagnostics to a relative tolerance, because Spark sums
partials in no fixed order.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inputs import SOURCES, Batch

TIER_S = {"1m": 60, "1h": 3600, "1d": 86_400}
TIER_COLS = ["source", "bucket", "cnt", "sum_n_tok", "sum2_n_tok",
             "sum3_n_tok", "min_n_tok", "max_n_tok", "first_ts", "last_ts"]
REL_TOL = 1e-9


def rollup(b: Batch, tier: str, min_bucket_s: int | None = None) -> pd.DataFrame:
    """One tier of (source, bucket) measures over ``b``; with
    ``min_bucket_s`` only buckets at or after it (a retention window)."""
    step = TIER_S[tier]
    v = b.n_tok.astype(np.int64)
    df = pd.DataFrame({
        "source": np.asarray(SOURCES)[b.src], "bucket": b.ts_s - b.ts_s % step,
        "v": v, "v2": v * v, "v3": v * v * v, "ts": b.ts_s,
    })
    if min_bucket_s is not None:
        df = df[df["bucket"] >= min_bucket_s]
    g = df.groupby(["source", "bucket"], sort=True)
    out = pd.DataFrame({
        "cnt": g["v"].size(), "sum_n_tok": g["v"].sum(),
        "sum2_n_tok": g["v2"].sum(), "sum3_n_tok": g["v3"].sum(),
        "min_n_tok": g["v"].min(), "max_n_tok": g["v"].max(),
        "first_ts": g["ts"].min(), "last_ts": g["ts"].max(),
    }).reset_index()
    for c in ("bucket", "first_ts", "last_ts"):
        out[c] = out[c] * 1_000_000
    return out[TIER_COLS].astype({c: "int64" for c in TIER_COLS[1:]})


def _tier_rows(df: DataFrame) -> DataFrame:
    micros = {"bucket", "first_ts", "last_ts"}
    return df.select(*[F.unix_micros(c).alias(c) if c in micros else F.col(c)
                       for c in TIER_COLS])


def collect_tiers(dfs: dict[str, DataFrame]) -> dict[str, pd.DataFrame]:
    """Rollup tiers in the shape :func:`rollup` returns, in one Spark job."""
    parts = [_tier_rows(df).withColumn("_part", F.lit(k)) for k, df in dfs.items()]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    pdf = union.toPandas().astype({c: "int64" for c in TIER_COLS[1:]})
    return {k: pdf[pdf["_part"] == k].drop(columns="_part")
            .sort_values(["source", "bucket"], ignore_index=True) for k in dfs}


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    return (
        list(got.columns) == list(want.columns) and len(got) == len(want)
        and all(np.array_equal(got[c].to_numpy(), want[c].to_numpy())
                for c in got.columns)
    )


def token_hashes(b: Batch, tier: str, min_1m_bucket_s: int | None = None) -> dict:
    """sha256 of each (source, bucket)'s token ids concatenated in event-time
    order, over rows whose 1m bucket is at or after ``min_1m_bucket_s``."""
    step = TIER_S[tier]
    order = np.lexsort((b.ts_s, b.src))
    if min_1m_bucket_s is not None:
        order = order[(b.ts_s[order] - b.ts_s[order] % 60) >= min_1m_bucket_s]
    out: dict = {}
    for i in order:
        cell = (SOURCES[b.src[i]], int(b.ts_s[i] - b.ts_s[i] % step) * 1_000_000)
        h = out.get(cell)
        if h is None:
            h = out[cell] = hashlib.sha256()
        h.update(b.tokens[b.offsets[i]:b.offsets[i + 1]].tobytes())
    return {k: h.hexdigest() for k, h in out.items()}


def collect_token_hashes(dfs: dict[str, DataFrame]) -> dict[str, dict]:
    """The same digests over (source, bucket, tokens) frames, in one Spark job."""
    parts = [df.select(F.lit(k).alias("_part"), "source",
                       F.unix_micros("bucket").alias("bucket"), "tokens")
             for k, df in dfs.items()]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    tab = union.toArrow().combine_chunks()
    toks = tab.column("tokens").combine_chunks()
    values = toks.values.to_numpy(zero_copy_only=False).astype(np.int32)
    offs = toks.offsets.to_numpy()
    out: dict[str, dict] = {k: {} for k in dfs}
    for i, (part, s, bk) in enumerate(zip(tab.column("_part").to_pylist(),
                                          tab.column("source").to_pylist(),
                                          tab.column("bucket").to_pylist())):
        out[part][(s, bk)] = hashlib.sha256(values[offs[i]:offs[i + 1]].tobytes()).hexdigest()
    return out


# -- per-key series diagnostics over a (key -> float64 array) map -------------

def close(got, want) -> bool:
    if got is None or want is None:
        return got is None and want is None
    return math.isclose(got, want, rel_tol=REL_TOL, abs_tol=1e-12)


def acf(x: np.ndarray, lags) -> list[float | None]:
    n, s, s2 = float(len(x)), float(x.sum()), float(np.sum(x * x))
    m = s / n
    den = s2 - n * m * m
    out = []
    for k in lags:
        lead, lag = x[k:], x[:-k]
        num = (float(np.sum(lead * lag)) - m * float(lead.sum())
               - m * float(lag.sum()) + (n - k) * m * m)
        out.append(num / den if den > 0 else None)
    return out


def ljungbox(x: np.ndarray, lags) -> float | None:
    n = float(len(x))
    rs = acf(x, lags)
    if any(r is None for r in rs):
        return None
    return n * (n + 2.0) * sum(r * r / (n - k) for r, k in zip(rs, lags))


def _var(d: np.ndarray) -> float:
    n = float(len(d))
    return (float(np.sum(d * d)) - float(d.sum()) ** 2 / n) / (n - 1)


def variance_ratio(x: np.ndarray, q: int) -> float | None:
    d1, dq = x[1:] - x[:-1], x[q:] - x[:-q]
    if len(d1) < 2 or len(dq) < 2:
        return None
    v1 = _var(d1)
    return _var(dq) / (q * v1) if v1 > 0 else None


def hurst(x: np.ndarray, scales) -> float | None:
    lv = []
    for q in scales:
        d = x[q:] - x[:-q]
        if len(d) < 2 or _var(d) <= 0:
            return None
        lv.append(math.log(_var(d)))
    lq = [math.log(q) for q in scales]
    s = float(len(scales))
    slope = (s * sum(a * b for a, b in zip(lq, lv)) - sum(lq) * sum(lv)) / (
        s * sum(a * a for a in lq) - sum(lq) ** 2
    )
    return slope / 2


def window_chain(x: np.ndarray, n: int) -> dict[str, np.ndarray]:
    """rolling_mean(n) → ffill → diff → cumsum over a gap-free series."""
    s = pd.Series(x)
    rm = s.rolling(n).mean()
    return {"rm": rm.to_numpy(), "ff": rm.ffill().to_numpy(),
            "d": s.diff().to_numpy(), "cs": s.cumsum().to_numpy()}


def arrays_close(got: np.ndarray, want: np.ndarray) -> bool:
    got, want = np.asarray(got, dtype=np.float64), np.asarray(want, dtype=np.float64)
    return got.shape == want.shape and bool(
        np.allclose(got, want, rtol=REL_TOL, atol=1e-9, equal_nan=True)
    )
