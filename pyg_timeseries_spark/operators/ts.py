"""Whole-series reductions (``ts_*``) — one output row per key.

Reference: /root/reference/src/pyg_timeseries/_ts.py (SURVEY.md §2.6).  The
reference accumulates moment sums Σ1, Σx, Σx², Σx³ into a resumable vector
(_ts.py:26-37); Spark's partial+final hash aggregation IS that model — the
map-side partial aggregate is the moment vector, merged associatively across
partitions.  All formulas come from functions/formulas.py for parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyg_timeseries_spark.functions.formulas import cor_calc, skew_calc, stdev_calc
from pyg_timeseries_spark.operators._core import KEY, TS, VAL, wspec


def _moments(df: DataFrame, key: str, v: str, upto: int = 3) -> DataFrame:
    c = F.col(v)
    aggs = [
        F.count(c).cast("double").alias("t0"),
        F.sum(c).alias("t1"),
        F.sum(c * c).alias("t2"),
    ]
    if upto >= 3:
        aggs.append(F.sum(c * c * c).alias("t3"))
    return df.groupBy(key).agg(*aggs)


def ts_count(df: DataFrame, key: str = KEY, v: str = VAL, out: str = "ts_count") -> DataFrame:
    """Reference _ts.py:113-140."""
    return df.groupBy(key).agg(F.count(v).alias(out))


def ts_sum(df: DataFrame, key: str = KEY, v: str = VAL, out: str = "ts_sum") -> DataFrame:
    """Reference _ts.py:141-200."""
    return df.groupBy(key).agg(F.sum(v).alias(out))


def ts_mean(df: DataFrame, key: str = KEY, v: str = VAL, out: str = "ts_mean") -> DataFrame:
    """Reference _ts.py:201-278."""
    return df.groupBy(key).agg(F.avg(v).alias(out))


def ts_rms(df: DataFrame, key: str = KEY, v: str = VAL, out: str = "ts_rms") -> DataFrame:
    """Reference _ts.py:350-400."""
    c = F.col(v)
    return df.groupBy(key).agg(F.sqrt(F.avg(c * c)).alias(out))


def ts_std(df: DataFrame, key: str = KEY, v: str = VAL, out: str = "ts_std") -> DataFrame:
    """Unbiased std via stdev_calculation (_math.py:16-21); _ts.py:401-460."""
    m = _moments(df, key, v, upto=2)
    return m.select(key, stdev_calc(F.col("t0"), F.col("t1"), F.col("t2")).alias(out))


def ts_skew(df: DataFrame, key: str = KEY, v: str = VAL, bias: bool = False,
            out: str = "ts_skew") -> DataFrame:
    """Skew via skew_calculation (_math.py:122-135); _ts.py:461-528."""
    m = _moments(df, key, v, upto=3)
    return m.select(
        key,
        skew_calc(F.col("t0"), F.col("t1"), F.col("t2"), F.col("t3"), bias=bias).alias(out),
    )


def ts_min(df: DataFrame, key: str = KEY, v: str = VAL, out: str = "ts_min") -> DataFrame:
    """Reference _ts.py:40-75."""
    return df.groupBy(key).agg(F.min(v).alias(out))


def ts_max(df: DataFrame, key: str = KEY, v: str = VAL, out: str = "ts_max") -> DataFrame:
    """Reference _ts.py:76-108."""
    return df.groupBy(key).agg(F.max(v).alias(out))


def ts_median(df: DataFrame, key: str = KEY, v: str = VAL, out: str = "ts_median") -> DataFrame:
    """Exact percentile, linear interpolation (reference _ts.py:18-24 uses
    np.nanmedian — same interpolation)."""
    return df.groupBy(key).agg(F.expr(f"percentile({v}, 0.5)").alias(out))


def ts_quantile(
    df: DataFrame,
    q: "float | list[float]",
    key: str = KEY,
    v: str = VAL,
    out: "str | list[str]" = "ts_quantile",
) -> DataFrame:
    """Exact per-key percentile(s), linear interpolation (generalizes
    ts_median; same interpolation as np.nanquantile / SQL
    percentile_cont).

    ``q`` may be a list — all requested percentiles then come from ONE
    ``percentile(v, array(...))`` sort-based aggregate (one scan + one
    per-key sort total, the ts_agg argument: N separate groupBys would
    scan and sort N times) and land as one column per quantile, named by
    ``out`` (a matching list, or a prefix getting ``_p{100q:g}``
    suffixes).  Exact percentile aggregates sort per key — for an
    approximate O(1)-memory alternative at 100 TB use percentile_approx
    or the cascade's bottom-k sample quantiles (functions/sketches.py)."""
    qs = [q] if isinstance(q, (int, float)) else list(q)
    qs = [float(x) for x in qs]  # np.float64/Decimal reprs aren't SQL literals
    for x in qs:
        if not 0.0 <= x <= 1.0:
            raise ValueError(f"q must be in [0, 1], got {x}")
    if isinstance(q, (int, float)):
        return df.groupBy(key).agg(
            F.expr(f"percentile({v}, {qs[0]!r})").alias(
                out if isinstance(out, str) else out[0])
        )
    if isinstance(out, str):
        names = [f"{out}_p{100 * x:g}" for x in qs]
    else:
        names = list(out)
        if len(names) != len(qs):
            raise ValueError("out list must match q list length")
    arr = ", ".join(repr(x) for x in qs)
    agg = df.groupBy(key).agg(
        F.expr(f"percentile({v}, array({arr}))").alias("__qs")
    )
    return agg.select(
        key, *[F.col("__qs")[i].alias(n) for i, n in enumerate(names)]
    )


def _quantile_bounds(df, lo, hi, key, v):
    if not 0.0 <= lo < hi <= 1.0:
        raise ValueError(f"need 0 <= lo < hi <= 1, got ({lo}, {hi})")
    b = df.groupBy(key).agg(
        F.expr(f"percentile({v}, array({float(lo)!r}, {float(hi)!r}))").alias("__b")
    ).select(key, F.col("__b")[0].alias("__lo"), F.col("__b")[1].alias("__hi"))
    # per-key bounds are |keys| rows — broadcast back; corpus never re-shuffles
    # for the attach, only for the two aggregates
    return df.join(F.broadcast(b), on=key)


def ts_trimmed_mean(
    df: DataFrame,
    lo: float = 0.1,
    hi: float = 0.9,
    key: str = KEY,
    v: str = VAL,
    out: str = "trimmed_mean",
) -> DataFrame:
    """Robust location: mean of values inside the per-key [lo, hi]
    quantile band (values strictly outside are DROPPED — the classic
    trimmed mean).  Quantiles are exact percentile_cont interpolation,
    shared with ts_quantile.  Two aggregation passes over the corpus
    (bounds, then mean) with the tiny bounds table broadcast between."""
    j = _quantile_bounds(df, lo, hi, key, v)
    c = F.col(v)
    inside = F.when((c >= F.col("__lo")) & (c <= F.col("__hi")), c)
    return j.groupBy(key).agg(F.avg(inside).alias(out))


def ts_winsorized_mean(
    df: DataFrame,
    lo: float = 0.1,
    hi: float = 0.9,
    key: str = KEY,
    v: str = VAL,
    out: str = "winsorized_mean",
) -> DataFrame:
    """Robust location: mean after CLIPPING values to the per-key
    [lo, hi] quantile band (outliers pulled to the band edge rather than
    dropped — same two-pass broadcast shape as ts_trimmed_mean)."""
    j = _quantile_bounds(df, lo, hi, key, v)
    c = F.col(v)
    clipped = F.when(c < F.col("__lo"), F.col("__lo")).when(
        c > F.col("__hi"), F.col("__hi")
    ).otherwise(c)
    return j.groupBy(key).agg(F.avg(clipped).alias(out))


def ts_agg(
    df: DataFrame,
    measures: dict[str, str] | None = None,
    key: str = KEY,
    v: str = VAL,
    bias: bool = False,
) -> DataFrame:
    """ALL requested whole-series reductions in ONE aggregation pass.

    ``measures`` maps measure name → output column, e.g.
    ``{"count": "cnt", "mean": "mean_v"}``; default emits every measure.
    The individual ``ts_*`` ops compose fine, but each is its own
    groupBy().agg() — at scale that is one scan per measure where a single
    partial+final hash aggregate computes the shared moment vector once
    (the reference's Σ1/Σx/Σx²/Σx³ accumulator, _ts.py:26-37)."""
    if measures is None:
        measures = {m: f"ts_{m}" for m in
                    ("count", "sum", "mean", "rms", "std", "skew",
                     "min", "max", "median")}
    c = F.col(v)
    need_t3 = "skew" in measures
    aggs = [
        F.count(c).cast("double").alias("_t0"),
        F.sum(c).alias("_t1"),
        F.sum(c * c).alias("_t2"),
    ]
    if need_t3:
        aggs.append(F.sum(c * c * c).alias("_t3"))
    if "min" in measures:
        aggs.append(F.min(c).alias("_min"))
    if "max" in measures:
        aggs.append(F.max(c).alias("_max"))
    if "median" in measures:
        aggs.append(F.expr(f"percentile({v}, 0.5)").alias("_med"))
    m = df.groupBy(key).agg(*aggs)
    t0, t1, t2 = F.col("_t0"), F.col("_t1"), F.col("_t2")
    exprs = {
        "count": t0.cast("long"),
        "sum": t1,
        "mean": t1 / F.when(t0 == 0, F.lit(None)).otherwise(t0),
        "rms": F.sqrt(t2 / F.when(t0 == 0, F.lit(None)).otherwise(t0)),
        "std": stdev_calc(t0, t1, t2),
        "min": F.col("_min") if "min" in measures else None,
        "max": F.col("_max") if "max" in measures else None,
        "median": F.col("_med") if "median" in measures else None,
    }
    if need_t3:
        exprs["skew"] = skew_calc(t0, t1, t2, F.col("_t3"), bias=bias)
    cols = [F.col(key)] + [
        exprs[name].alias(out) for name, out in measures.items()
    ]
    return m.select(*cols)


def ts_cor(df: DataFrame, a: str, b: str, key: str = KEY, out: str = "ts_cor") -> DataFrame:
    """Full-sample correlation of two columns per key, rows where either is
    NULL skipped (reference _ts.py:281-347, cor_calculation _math.py:69-82)."""
    ca, cb = F.col(a), F.col(b)
    both = df.filter(ca.isNotNull() & cb.isNotNull())
    m = both.groupBy(key).agg(
        F.count(ca).cast("double").alias("t0"),
        F.sum(ca).alias("a1"), F.sum(ca * ca).alias("a2"),
        F.sum(cb).alias("b1"), F.sum(cb * cb).alias("b2"),
        F.sum(ca * cb).alias("ab"),
    )
    return m.select(
        key,
        cor_calc(F.col("t0"), F.col("a1"), F.col("a2"),
                 F.col("b1"), F.col("b2"), F.col("ab")).alias(out),
    )


def ts_interval(df: DataFrame, key: str = KEY, ts: str = TS, out: str = "ts_interval") -> DataFrame:
    """Modal inter-observation gap per key, in seconds — the reference infers
    the series' native bucket from the index (_ts.py:543-573).

    Deterministic tie-break: among maximal-frequency gaps, the smallest wins
    (builtin mode() breaks frequency ties arbitrarily, which is engine- and
    partitioning-dependent)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(ts)
    sec = F.unix_micros(F.col(ts).cast("timestamp")) / F.lit(1_000_000.0)
    gap = sec - F.lag(sec).over(w)
    gaps = df.select(key, gap.alias("gap")).filter(F.col("gap").isNotNull())
    counts = gaps.groupBy(key, "gap").agg(F.count(F.lit(1)).alias("n"))
    wmax = Window.partitionBy(key)
    return (
        counts.withColumn("_mx", F.max("n").over(wmax))
        .filter(F.col("n") == F.col("_mx"))
        .groupBy(key)
        .agg(F.min("gap").alias(out))
    )


def ts_argmax(df: DataFrame, key: str = KEY, ts: str = TS, v: str = VAL,
              out: str = "ts_argmax") -> DataFrame:
    """Per key: the timestamp of the maximum valid value.  Deterministic
    under ties via max over (v, ts) structs — the LATEST timestamp among
    equal maxima wins, on any partitioning."""
    c = F.col(v)
    return (
        df.filter(c.isNotNull())
        .groupBy(key)
        .agg(F.max(F.struct(c.alias("v"), F.col(ts).alias("t")))["t"].alias(out))
    )


def ts_argmin(df: DataFrame, key: str = KEY, ts: str = TS, v: str = VAL,
              out: str = "ts_argmin") -> DataFrame:
    """Per key: the timestamp of the minimum valid value; ties break to the
    EARLIEST timestamp (min over (v, ts) structs)."""
    c = F.col(v)
    return (
        df.filter(c.isNotNull())
        .groupBy(key)
        .agg(F.min(F.struct(c.alias("v"), F.col(ts).alias("t")))["t"].alias(out))
    )


def _acf_sums(df: DataFrame, lags, key, ts, v) -> DataFrame:
    """Per-key raw sums behind the sample ACF at ``lags``: __n, __s, __s2
    and, per lag k, __xy{k} = sum(x_t x_{t-k}), __sx{k} = sum_{t>k} x_t,
    __sy{k} = sum_{t>k} x_{t-k} — one Window pass builds every lag column
    and one partial+final hash aggregate reduces (one Exchange)."""
    c = F.col(v)
    w = wspec(key, ts)
    valid = df.filter(c.isNotNull()).select(
        key, v, *[F.lag(c, k).over(w).alias(f"__l{k}") for k in lags]
    )
    aggs = [
        F.count(c).cast("double").alias("__n"),
        F.sum(c).alias("__s"),
        F.sum(c * c).alias("__s2"),
    ]
    for k in lags:
        lk = F.col(f"__l{k}")
        aggs += [
            F.sum(c * lk).alias(f"__xy{k}"),
            F.sum(F.when(lk.isNotNull(), c)).alias(f"__sx{k}"),
            F.sum(lk).alias(f"__sy{k}"),
        ]
    return valid.groupBy(key).agg(*aggs)


def ts_acf(df: DataFrame, lags=(1,), key: str = KEY, ts: str = TS,
           v: str = VAL, prefix: str = "acf") -> DataFrame:
    """Per-key sample autocorrelation at the requested positive lags over
    the valid series (NULLs skipped, count-lag semantics like the rolling
    family): r_k = sum_{t>k} (x_t - m)(x_{t-k} - m) / sum_t (x_t - m)^2
    with the full-series mean ``m`` — the standard biased ACF estimator
    (Box-Jenkins; statsmodels ``acf`` default).  One row per key with a
    ``{prefix}_{k}`` column per lag.

    The cross term expands to raw sums so everything reduces in a single
    partial+final hash aggregate: sum(x_t x_{t-k}) - m*sum_{t>k}(x_t) -
    m*sum_{t>k}(x_{t-k}) + (n-k) m^2.  One Window pass builds every lag
    column, and the groupBy reuses the window's per-key hash
    partitioning — the whole operator is ONE Exchange regardless of how
    many lags are requested."""
    lags = [int(k) for k in lags]
    if not lags or any(k < 1 for k in lags):
        raise ValueError("lags must be positive integers")
    m = _acf_sums(df, lags, key, ts, v)
    mean = F.col("__s") / F.col("__n")
    den = F.col("__s2") - F.col("__n") * mean * mean
    out = [F.col(key) if isinstance(key, str) else key]
    for k in lags:
        num = (
            F.col(f"__xy{k}")
            - mean * F.col(f"__sx{k}") - mean * F.col(f"__sy{k}")
            + (F.col("__n") - F.lit(float(k))) * mean * mean
        )
        out.append(
            F.when(den > 0, num / den).alias(f"{prefix}_{k}")
        )
    return m.select(*out)


def ts_ar2(df: DataFrame, key: str = KEY, ts: str = TS, v: str = VAL) -> DataFrame:
    """Per-key Yule-Walker AR(2) fit from the lag-1/lag-2 sample
    autocorrelations (closed form — Box-Jenkins 3.2.5): phi1 =
    r1(1 - r2) / (1 - r1^2), phi2 = (r2 - r1^2) / (1 - r1^2), plus the
    innovation-variance ratio sigma2_ratio = 1 - phi1 r1 - phi2 r2
    (innovation variance over series variance).  Builds on
    :func:`ts_acf`, so it inherits the one-Exchange shape."""
    a = ts_acf(df, lags=(1, 2), key=key, ts=ts, v=v, prefix="__r")
    r1, r2 = F.col("__r_1"), F.col("__r_2")
    det = F.lit(1.0) - r1 * r1
    phi1 = F.when(det != 0, r1 * (F.lit(1.0) - r2) / det)
    phi2 = F.when(det != 0, (r2 - r1 * r1) / det)
    return a.select(
        key,
        phi1.alias("phi1"),
        phi2.alias("phi2"),
        (F.lit(1.0) - phi1 * r1 - phi2 * r2).alias("sigma2_ratio"),
    )


def ts_variance_ratio(df: DataFrame, q: int = 5, key: str = KEY,
                      ts: str = TS, v: str = VAL,
                      out: str = "variance_ratio") -> DataFrame:
    """Per-key overlapping variance ratio VR(q) = Var(x_t - x_{t-q}) /
    (q * Var(x_t - x_{t-1})) over the valid series — the Lo & MacKinlay
    (1988) random-walk diagnostic in its plain sample-variance form (no
    finite-sample bias correction): VR ~ 1 for a random walk, < 1 mean-
    reverting, > 1 trending.  Variances expand from raw sums with the
    (n-1) denominator so the arithmetic replicates exactly on any
    engine.

    One Window pass builds both lag columns; one hash aggregate reduces
    — a single Exchange, same shape as :func:`ts_acf`."""
    from pyg_timeseries_spark.operators._core import wspec

    q = int(q)
    if q < 2:
        raise ValueError("q must be >= 2")
    c = F.col(v)
    w = wspec(key, ts)
    d1 = (c - F.lag(c, 1).over(w)).alias("__d1")
    dq = (c - F.lag(c, q).over(w)).alias("__dq")
    valid = df.filter(c.isNotNull()).select(key, d1, dq)
    m = valid.groupBy(key).agg(
        F.count("__d1").cast("double").alias("__n1"),
        F.sum("__d1").alias("__s1"),
        F.sum(F.col("__d1") * F.col("__d1")).alias("__s11"),
        F.count("__dq").cast("double").alias("__nq"),
        F.sum("__dq").alias("__sq"),
        F.sum(F.col("__dq") * F.col("__dq")).alias("__sqq"),
    )
    var1 = (F.col("__s11") - F.col("__s1") * F.col("__s1") / F.col("__n1")) / (
        F.col("__n1") - 1
    )
    varq = (F.col("__sqq") - F.col("__sq") * F.col("__sq") / F.col("__nq")) / (
        F.col("__nq") - 1
    )
    return m.select(
        key,
        F.when(
            (F.col("__n1") > 1) & (F.col("__nq") > 1) & (var1 > 0),
            varq / (F.lit(float(q)) * var1),
        ).alias(out),
    )


def ts_halflife(df: DataFrame, key: str = KEY, ts: str = TS,
                v: str = VAL) -> DataFrame:
    """Per-key Ornstein-Uhlenbeck / AR(1) mean-reversion diagnostics over
    the valid series: regress Δx_t on x_{t-1} (Δx = a + b·x_{t-1} + ε);
    ``mr_beta`` = b (negative ⇒ mean-reverting), ``halflife`` =
    -ln 2 / ln(1 + b) — the expected number of observations for a
    deviation to decay halfway back (standard OU discretization; see
    e.g. Chan, Algorithmic Trading 2013 ch. 2).  halflife is NULL unless
    0 < 1 + b < 1, i.e. the fit is actually mean-reverting.

    Shape: one lag Window pass + one partial+final hash aggregate of raw
    sums (the :func:`ts_acf` pattern) — ONE Exchange, no Python."""
    c = F.col(v)
    w = wspec(key, ts)
    lagv = F.lag(c, 1).over(w)
    valid = df.filter(c.isNotNull()).select(
        key, (c - lagv).alias("__dy"), lagv.alias("__x")
    ).filter(F.col("__x").isNotNull())
    m = valid.groupBy(key).agg(
        F.count("__x").cast("double").alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum("__dy").alias("__sy"),
        F.sum(F.col("__x") * F.col("__dy")).alias("__sxy"),
    )
    den = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    b = F.when(
        den != 0,
        (F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / den,
    )
    rho = F.lit(1.0) + b
    return m.select(
        key,
        b.alias("mr_beta"),
        F.when(
            (rho > 0) & (rho < 1), -F.log(F.lit(2.0)) / F.log(rho)
        ).alias("halflife"),
    )


def ts_ljungbox(df: DataFrame, lags=(1, 2, 5), key: str = KEY, ts: str = TS,
                v: str = VAL, out: str = "lb_q") -> DataFrame:
    """Per-key Ljung-Box portmanteau statistic Q(m) = n(n+2) Σ_{k∈lags}
    ρ_k² / (n − k) over the valid series (Ljung & Box 1978) — the
    standard whiteness test fed by :func:`ts_acf`'s sample
    autocorrelations, so it inherits the one-Window-pass + one-Exchange
    shape.  Emits Q plus the per-key sample size n."""
    lags = [int(k) for k in lags]
    m = _acf_sums(df, lags, key, ts, v)
    n = F.col("__n")
    mean = F.col("__s") / n
    den = F.col("__s2") - n * mean * mean
    q = F.lit(0.0)
    for k in lags:
        num = (
            F.col(f"__xy{k}")
            - mean * F.col(f"__sx{k}") - mean * F.col(f"__sy{k}")
            + (n - F.lit(float(k))) * mean * mean
        )
        rk = num / den
        q = q + rk * rk / (n - F.lit(float(k)))
    q = F.when(den > 0, n * (n + F.lit(2.0)) * q)
    return m.select(key, n.cast("long").alias("n"), q.alias(out))


def ts_hurst(df: DataFrame, scales=(1, 2, 4, 8, 16), key: str = KEY,
             ts: str = TS, v: str = VAL, out: str = "hurst") -> DataFrame:
    """Per-key Hurst exponent by the aggregated-variance method: for each
    scale q, the sample variance of the overlapping q-step differences
    x_t − x_{t−q}; under self-similarity Var(q) ∝ q^{2H}, so H is half
    the OLS slope of ln Var(q) on ln q (Beran 1994; the variance-time
    plot classic).  H ≈ 0.5 random walk, > 0.5 trending, < 0.5 mean
    reverting.  NULL when any scale's variance is non-positive or has
    < 2 observations.

    Shape: ALL difference columns in one lag Window pass, raw-sum hash
    aggregate, closed-form 5-point regression in plain expressions —
    one Exchange (the :func:`ts_acf` pattern)."""
    import math

    scales = [int(q) for q in scales]
    if len(scales) < 2 or any(q < 1 for q in scales):
        raise ValueError("need >= 2 positive scales")
    c = F.col(v)
    w = wspec(key, ts)
    valid = df.filter(c.isNotNull()).select(
        key, *[(c - F.lag(c, q).over(w)).alias(f"__d{q}") for q in scales]
    )
    aggs = []
    for q in scales:
        dq = F.col(f"__d{q}")
        aggs += [
            F.count(dq).cast("double").alias(f"__n{q}"),
            F.sum(dq).alias(f"__s{q}"),
            F.sum(dq * dq).alias(f"__ss{q}"),
        ]
    m = valid.groupBy(key).agg(*aggs)
    lnq = {q: math.log(float(q)) for q in scales}
    S = float(len(scales))
    sum_lq = sum(lnq.values())
    sum_lq2 = sum(x * x for x in lnq.values())
    var_ = {}
    ok = F.lit(True)
    for q in scales:
        nq = F.col(f"__n{q}")
        vq = (F.col(f"__ss{q}") - F.col(f"__s{q}") * F.col(f"__s{q}") / nq) / (nq - 1)
        var_[q] = vq
        ok = ok & (nq > 1) & (vq > 0)
    # Σ ln q · ln Var(q), folded in scale order (oracle adds in the same
    # order for bit parity)
    s_xy = F.lit(0.0)
    s_y = F.lit(0.0)
    for q in scales:
        s_xy = s_xy + F.lit(lnq[q]) * F.log(var_[q])
        s_y = s_y + F.log(var_[q])
    slope = (F.lit(S) * s_xy - F.lit(sum_lq) * s_y) / F.lit(S * sum_lq2 - sum_lq * sum_lq)
    return m.select(key, F.when(ok, slope / 2).alias(out))


def ts_entropy(df: DataFrame, bins: int = 10, key: str = KEY, v: str = VAL,
               out: str = "entropy") -> DataFrame:
    """Per-key Shannon entropy of the value distribution over an
    equal-width histogram of ``bins`` cells spanning [min, max]:
    H = −Σ (c_b/n) ln(c_b/n) — the classic dispersion/information
    diagnostic (0 for a constant series, up to ln(bins) for uniform).
    The top edge folds into the last bin; a degenerate key (max == min)
    gets H = 0.

    Shape: one (min, max) aggregate broadcast back (the quality_gate
    bounds pattern — the data never re-shuffles for the attach), then
    one (key, bin) count aggregate + one per-key reduce.  All raw-sum
    JVM arithmetic."""
    bins = int(bins)
    if bins < 1:
        raise ValueError("bins must be >= 1")
    c = F.col(v)
    bounds = df.filter(c.isNotNull()).groupBy(key).agg(
        F.min(v).alias("__mn"), F.max(v).alias("__mx")
    )
    j = df.filter(c.isNotNull()).join(F.broadcast(bounds), on=key)
    width = F.col("__mx") - F.col("__mn")
    b = F.when(
        width > 0,
        F.least(
            F.floor((c - F.col("__mn")) / width * F.lit(float(bins))).cast("long"),
            F.lit(bins - 1),
        ),
    ).otherwise(F.lit(0))
    per_bin = j.groupBy(key, b.alias("__b")).agg(
        F.count(v).cast("double").alias("__c")
    )
    totals = per_bin.groupBy(key).agg(
        F.sum("__c").alias("__n"),
        F.sum(F.col("__c") * F.log(F.col("__c"))).alias("__clnc"),
    )
    # H = ln n − (Σ c ln c)/n  — algebraically −Σ (c/n) ln(c/n), but the
    # raw-sum form reduces in one associative aggregate.
    return totals.select(
        key,
        (F.log(F.col("__n")) - F.col("__clnc") / F.col("__n")).alias(out),
    )


def _moments4(df: DataFrame, key: str, v: str) -> DataFrame:
    """Per-key raw power sums Σ1..Σx⁴ in one partial+final hash aggregate
    — the 4th-order extension of _moments (the reference's resumable
    moment vector, _ts.py:26-37)."""
    c = F.col(v)
    return df.groupBy(key).agg(
        F.count(c).cast("double").alias("m0"),
        F.sum(c).alias("m1"),
        F.sum(c * c).alias("m2"),
        F.sum(c * c * c).alias("m3"),
        F.sum(c * c * c * c).alias("m4"),
    )


def _central_moments(prefix="m"):
    """Central-moment expressions from raw sums: Σ(x−m)ᵏ expanded via the
    binomial theorem (k = 2, 3, 4)."""
    n, s1, s2, s3, s4 = (F.col(f"{prefix}{i}") for i in range(5))
    mu = s1 / n
    c2 = s2 - n * mu * mu
    c3 = s3 - 3 * mu * s2 + 2 * n * mu * mu * mu
    c4 = s4 - 4 * mu * s3 + 6 * mu * mu * s2 - 3 * n * mu * mu * mu * mu
    return n, c2, c3, c4


def ts_kurtosis(df: DataFrame, key: str = KEY, v: str = VAL, bias: bool = True,
                out: str = "ts_kurt") -> DataFrame:
    """Per-key excess kurtosis.  ``bias=True`` (default): the plain
    moment estimator g2 = n·Σ(x−m)⁴ / (Σ(x−m)²)² − 3.  ``bias=False``:
    the unbiased G2 correction (the pandas/SciPy ``kurt`` convention):
    G2 = ((n+1)·g2 + 6) · (n−1)/((n−2)(n−3)).  NULL below 4 obs or on a
    degenerate (zero-variance) key.  One hash aggregate."""
    m = _moments4(df.filter(F.col(v).isNotNull()), key, v)
    n, c2, c3, c4 = _central_moments()
    g2 = n * c4 / (c2 * c2) - F.lit(3.0)
    if not bias:
        g2 = ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3))
    return m.select(
        key, F.when((n > 3) & (c2 > 0), g2).alias(out)
    )


def ts_jarque_bera(df: DataFrame, key: str = KEY, v: str = VAL) -> DataFrame:
    """Per-key Jarque-Bera normality statistic JB = n/6 · (g1² + g2²/4)
    from the biased moment skewness g1 = c3/c2^1.5·√n and excess
    kurtosis g2 (Jarque & Bera 1980) — the standard residual-normality
    screen, χ²(2) under the null.  Shares ts_kurtosis's single
    fourth-moment aggregate; emits (skew_b, kurt_b, jb)."""
    m = _moments4(df.filter(F.col(v).isNotNull()), key, v)
    n, c2, c3, c4 = _central_moments()
    # biased central-moment forms: m_k = c_k / n, g1 = m3/m2^1.5,
    # g2 = m4/m2² − 3
    m2 = c2 / n
    g1 = (c3 / n) / F.pow(m2, F.lit(1.5))
    g2 = (c4 / n) / (m2 * m2) - F.lit(3.0)
    jb = n / F.lit(6.0) * (g1 * g1 + g2 * g2 / F.lit(4.0))
    ok = (n > 3) & (c2 > 0)
    return m.select(
        key,
        F.when(ok, g1).alias("skew_b"),
        F.when(ok, g2).alias("kurt_b"),
        F.when(ok, jb).alias("jb"),
    )


def ts_periodogram(df: DataFrame, periods=(4, 8, 16), key: str = KEY,
                   ts: str = TS, v: str = VAL,
                   prefix: str = "pgram") -> DataFrame:
    """Per-key Schuster periodogram power at the requested integer
    periods over the valid series indexed by observation rank
    t = 0..n−1 (NULLs skipped): for ω = 2π/p,
    I(p) = (C² + S²) / n with C = Σ (x_t − m) cos ωt and
    S = Σ (x_t − m) sin ωt — the classic hidden-periodicity detector
    (Schuster 1898; Percival & Walden ch. 6).  Demeaning folds into raw
    sums (C = Σ x cos − m Σ cos), so the whole operator is ONE
    row_number window pass + ONE partial+final hash aggregate — one
    Exchange regardless of how many periods are probed, the
    :func:`ts_acf` shape.  A key with n < 2 emits NULLs.

    At 100 TB this beats any FFT-shaped rendition: no per-key gather of
    the series into one task, no Python — each period is three extra
    double sums riding the same map-side partial aggregate."""
    import math

    periods = [int(p) for p in periods]
    if not periods or any(p < 2 for p in periods):
        raise ValueError("periods must be integers >= 2")
    c = F.col(v)
    keys = [key] if isinstance(key, str) else list(key)
    w = wspec(key, ts)
    t = (F.row_number().over(w) - 1).cast("double")
    cols = [*keys, c.alias("__x")]
    for p in periods:
        om = 2.0 * math.pi / float(p)
        cols.append(F.cos(F.lit(om) * t).alias(f"__c{p}"))
        cols.append(F.sin(F.lit(om) * t).alias(f"__s{p}"))
    valid = df.filter(c.isNotNull()).select(*cols)
    x = F.col("__x")
    aggs = [F.count(x).cast("double").alias("__n"), F.sum(x).alias("__sx")]
    for p in periods:
        cp, sp = F.col(f"__c{p}"), F.col(f"__s{p}")
        aggs += [
            F.sum(x * cp).alias(f"__xc{p}"),
            F.sum(x * sp).alias(f"__xs{p}"),
            F.sum(cp).alias(f"__sc{p}"),
            F.sum(sp).alias(f"__ss{p}"),
        ]
    m = valid.groupBy(*keys).agg(*aggs)
    n = F.col("__n")
    mean = F.col("__sx") / n
    out = [*keys]
    for p in periods:
        C = F.col(f"__xc{p}") - mean * F.col(f"__sc{p}")
        S = F.col(f"__xs{p}") - mean * F.col(f"__ss{p}")
        out.append(F.when(n > 1, (C * C + S * S) / n).alias(f"{prefix}_{p}"))
    return m.select(*out)


def ts_spearman(df: DataFrame, x: str = "x", y: str = "y", key: str = KEY,
                out: str = "spearman") -> DataFrame:
    """Per-key Spearman rank correlation between columns ``x`` and ``y``
    over jointly-valid rows: fractional (average-tie) ranks — the
    scipy.stats.spearmanr convention, rank = RANK() + (ties − 1)/2 —
    then the Pearson correlation of the two rank columns via raw sums.
    The robust monotone-dependence companion to :func:`ts_cor`.

    Shape: ONE Exchange on key.  Both rank columns are window functions
    partitioned by key (the tie count is a whole-frame count over
    (key, value), which hash-partitioning on key already satisfies), and
    the final groupBy(key) reuses the same partitioning — rank passes
    add sorts, never shuffles."""
    cx, cy = F.col(x), F.col(y)
    valid = df.filter(cx.isNotNull() & cy.isNotNull())
    keys = [key] if isinstance(key, str) else list(key)

    def frank(col_name):
        wr = Window.partitionBy(*keys).orderBy(col_name)
        wt = Window.partitionBy(*keys, col_name)
        return (F.rank().over(wr)
                + (F.count(F.lit(1)).over(wt) - 1) / 2.0).cast("double")

    ranked = valid.select(*keys, frank(x).alias("__rx"), frank(y).alias("__ry"))
    rx, ry = F.col("__rx"), F.col("__ry")
    m = ranked.groupBy(*keys).agg(
        F.count(rx).cast("double").alias("__n"),
        F.sum(rx).alias("__sx"), F.sum(ry).alias("__sy"),
        F.sum(rx * rx).alias("__sxx"), F.sum(ry * ry).alias("__syy"),
        F.sum(rx * ry).alias("__sxy"),
    )
    n = F.col("__n")
    cov = F.col("__sxy") - F.col("__sx") * F.col("__sy") / n
    vx = F.col("__sxx") - F.col("__sx") * F.col("__sx") / n
    vy = F.col("__syy") - F.col("__sy") * F.col("__sy") / n
    return m.select(
        *keys,
        F.when((n > 1) & (vx > 0) & (vy > 0),
               cov / F.sqrt(vx * vy)).alias(out),
    )


def ts_runs(df: DataFrame, key: str = KEY, ts: str = TS,
            v: str = VAL) -> DataFrame:
    """Per-key run statistics of the series' MOVE directions: each
    valid-to-valid step is up (v_t > v_{t−1}) or not, maximal blocks of
    equal direction are runs, and the operator emits n_moves, n_up,
    n_runs, the longest up-run and longest down-run, plus
    n_reversals = n_runs − 1 (the turning-point count — the classic
    runs-up-and-down randomness diagnostic, Wald & Wolfowitz 1940).
    Direction comes from comparing raw doubles, so the oracle agrees
    bit-for-bit — no derived threshold (mean/median) whose last-ULP
    placement could flip a comparison between engines.

    Shape: gaps-and-islands in one window pass — run id = running sum of
    direction changes — then groupBy(key, run) and groupBy(key).  Both
    aggregates cluster on a superset of {key}, so the window's hash
    partitioning satisfies them: ONE Exchange total."""
    c = F.col(v)
    w = wspec(key, ts)
    keys = [key] if isinstance(key, str) else list(key)
    stepped = (
        df.filter(c.isNotNull())
        .select(*keys, ts, c.alias("__v"),
                F.lag(c).over(w).alias("__pv"))
        .filter(F.col("__pv").isNotNull())
        .select(*keys, ts, (F.col("__v") > F.col("__pv")).cast("int").alias("__up"))
    )
    chg = F.when(
        F.lag("__up").over(w).isNull()
        | (F.col("__up") != F.lag("__up").over(w)), 1
    ).otherwise(0)
    runs = stepped.select(
        *keys, "__up",
        F.sum(chg).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("__run"),
    )
    per_run = runs.groupBy(*keys, "__run").agg(
        F.count(F.lit(1)).alias("__len"), F.first("__up").alias("__dir")
    )
    return per_run.groupBy(*keys).agg(
        F.sum("__len").alias("n_moves"),
        F.sum(F.when(F.col("__dir") == 1, F.col("__len")).otherwise(0)).alias("n_up"),
        F.count(F.lit(1)).alias("n_runs"),
        F.max(F.when(F.col("__dir") == 1, F.col("__len"))).alias("longest_up"),
        F.max(F.when(F.col("__dir") == 0, F.col("__len"))).alias("longest_down"),
        (F.count(F.lit(1)) - 1).alias("n_reversals"),
    )


def ts_xcf(df: DataFrame, lags=(0, 1), x: str = "x", y: str = "y",
           key: str = KEY, ts: str = TS, prefix: str = "xcf") -> DataFrame:
    """Per-key sample CROSS-correlation between ``x`` and ``y`` at the
    requested non-negative lags over the jointly-valid series (both
    columns non-NULL): r_k = Σ_{t>k} (x_t − m_x)(y_{t−k} − m_y)
    / sqrt(S_xx · S_yy) with full-series means and sums-of-squares —
    the statsmodels ``ccf`` convention; positive k measures how much y
    LEADS x by k observations.  The lead-lag detector that pairs with
    :func:`ts_acf` (k = 0 recovers Pearson correlation exactly).

    Same one-Exchange shape as ts_acf: every y-lag column in one Window
    pass, all cross sums in one partial+final hash aggregate, the
    cross term expanded to raw sums."""
    lags = [int(k) for k in lags]
    if not lags or any(k < 0 for k in lags):
        raise ValueError("lags must be non-negative integers")
    cx, cy = F.col(x), F.col(y)
    keys = [key] if isinstance(key, str) else list(key)
    w = wspec(key, ts)
    valid = df.filter(cx.isNotNull() & cy.isNotNull()).select(
        *keys, x, y,
        *[F.lag(cy, k).over(w).alias(f"__yl{k}") for k in lags if k > 0],
    )
    aggs = [
        F.count(cx).cast("double").alias("__n"),
        F.sum(cx).alias("__sx"), F.sum(cy).alias("__sy"),
        F.sum(cx * cx).alias("__sxx"), F.sum(cy * cy).alias("__syy"),
    ]
    for k in lags:
        yl = cy if k == 0 else F.col(f"__yl{k}")
        aggs += [
            F.sum(cx * yl).alias(f"__xy{k}"),
            F.sum(F.when(yl.isNotNull(), cx)).alias(f"__cx{k}"),
            F.sum(yl).alias(f"__cy{k}"),
        ]
    m = valid.groupBy(*keys).agg(*aggs)
    n = F.col("__n")
    mx, my = F.col("__sx") / n, F.col("__sy") / n
    sxx = F.col("__sxx") - n * mx * mx
    syy = F.col("__syy") - n * my * my
    den = F.sqrt(sxx * syy)
    out = [*keys]
    for k in lags:
        num = (
            F.col(f"__xy{k}")
            - my * F.col(f"__cx{k}") - mx * F.col(f"__cy{k}")
            + (n - F.lit(float(k))) * mx * my
        )
        out.append(
            F.when((sxx > 0) & (syy > 0), num / den).alias(f"{prefix}_{k}")
        )
    return m.select(*out)


def ts_hill(df: DataFrame, k: int = 50, key: str = KEY, ts: str = TS,
            v: str = VAL) -> DataFrame:
    """Per-key Hill tail-index estimator over the ``k`` largest POSITIVE
    values: gamma = (1/k) Σ_{i=1..k} ln(x_(i) / x_(k+1)) with x_(1) ≥ …
    the descending order statistics (Hill 1975) — gamma ≈ 1/alpha, the
    Pareto tail exponent; alpha ≤ 2 flags infinite-variance tails where
    Gaussian risk models (ewmstd, realized_vol) understate extremes.
    Keys with fewer than k+1 positive observations emit NULL.

    Shape: row_number DESC ≤ k+1 — Spark plants a per-partition
    WindowGroupLimit top-(k+1) heap BEFORE the exchange, so the shuffle
    carries at most k+1 rows per key per map task, never the series;
    ties break on ts for run-to-run determinism.  One Exchange."""
    if k < 1:
        raise ValueError("k must be >= 1")
    c = F.col(v)
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(F.col(v).desc(), F.col(ts).asc())
    top = (
        df.filter(c.isNotNull() & (c > 0))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k + 1)
    )
    m = top.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.sum(F.when(F.col("__rn") <= k, F.log(c))).alias("__slntop"),
        F.min(c).alias("__xk1"),  # the (k+1)-th order statistic
    )
    gamma = F.col("__slntop") / F.lit(float(k)) - F.log("__xk1")
    ok = F.col("__cnt") == (k + 1)
    return m.select(
        *keys,
        F.when(ok, gamma).alias("hill_gamma"),
        F.when(ok & (gamma > 0), 1.0 / gamma).alias("hill_alpha"),
    )


def quantile_bucket(df: DataFrame, n_buckets: int = 10, key: str = KEY,
                    ts: str = TS, v: str = VAL,
                    out: str = "bucket") -> DataFrame:
    """Per-key equal-count discretization: each valid row gets its
    NTILE(n) bucket (1-based) in value order, ties broken on ts so the
    assignment is total and engine-reproducible — the feature-pipeline
    "decile" transform (rank-based features are immune to the value
    scale drift that PSI monitors detect).  NULL rows pass through with
    a NULL bucket, the engine's NaN-skip convention.

    ntile is a plain ranking window: ONE Exchange, no aggregate."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    c = F.col(v)
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(F.col(v).asc(), F.col(ts).asc())
    valid = df.filter(c.isNotNull()).withColumn(
        out, F.ntile(n_buckets).over(w)
    )
    nulls = df.filter(c.isNull()).withColumn(out, F.lit(None).cast("int"))
    return valid.unionByName(nulls)
