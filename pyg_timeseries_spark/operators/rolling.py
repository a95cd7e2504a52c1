"""Rolling-window aggregates over the last n *valid* observations.

Reference semantics (SURVEY.md §2.3, /root/reference/src/pyg_timeseries/
_rolling.py:446-545): the window holds the last n valid values; output is
gated (NULL) until n valid observations have been seen; NaN rows output NaN
and do not consume window slots.

Spark-native design: null-filter → count-n ROWS frame window → union null
rows back (operators/_core.py).  Catalyst evaluates sliding SUM/AVG/MIN/MAX
frames incrementally inside whole-stage codegen — the same O(1)-per-row
cost as the reference's ring-buffer kernels, but distributed.  std/skew use
the exact Σxᵏ algebra of the reference (functions/formulas.py) rather than
builtins, so parity is formula-level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyg_timeseries_spark.functions.formulas import skew_calc, stdev_calc
from pyg_timeseries_spark.operators._core import (
    KEY, TS, VAL, apply_on_valid, gated, w_rows,
)


def _rolling(df, n, key, ts, v, out, make_expr, gate_on_count=True):
    w = w_rows(n, key, ts)
    cnt = F.count(v).over(w)
    expr = make_expr(w)
    if gate_on_count:
        expr = F.when(cnt >= n, expr)
    return apply_on_valid(df, out, expr, v=v)


def rolling_sum(df: DataFrame, n: int, key: str = KEY, ts: str = TS, v: str = VAL,
                out: str = "rolling_sum") -> DataFrame:
    """Reference _rolling.py:1276 (same kernel as rolling_mean, denom=1)."""
    return _rolling(df, n, key, ts, v, out, lambda w: F.sum(v).over(w))


def rolling_mean(df: DataFrame, n: int, key: str = KEY, ts: str = TS, v: str = VAL,
                 out: str = "rolling_mean") -> DataFrame:
    """Reference _rolling.py:446-464, 1061-1132."""
    return _rolling(df, n, key, ts, v, out, lambda w: F.avg(v).over(w))


def rolling_rms(df: DataFrame, n: int, key: str = KEY, ts: str = TS, v: str = VAL,
                out: str = "rolling_rms") -> DataFrame:
    """sqrt(mean(v²)) — reference _rolling.py:473-491, 1134-1205."""
    v2 = F.col(v) * F.col(v)
    return _rolling(df, n, key, ts, v, out, lambda w: F.sqrt(F.avg(v2).over(w)))


def rolling_std(df: DataFrame, n: int, key: str = KEY, ts: str = TS, v: str = VAL,
                out: str = "rolling_std") -> DataFrame:
    """Unbiased std via the reference's sum algebra (stdev_calculation,
    _math.py:16-21); kernel _rolling.py:498-517, 1278-1347."""
    c = F.col(v)

    def make(w):
        t0 = F.count(v).over(w).cast("double")
        t1 = F.sum(c).over(w)
        t2 = F.sum(c * c).over(w)
        return stdev_calc(t0, t1, t2)

    return _rolling(df, n, key, ts, v, out, make)


def rolling_skew(df: DataFrame, n: int, key: str = KEY, ts: str = TS, v: str = VAL,
                 bias: bool = False, out: str = "rolling_skew") -> DataFrame:
    """Skew via Σ1..Σx³ + skew_calculation (_math.py:122-135); kernel
    _rolling.py:525-545, 1349-1410."""
    c = F.col(v)

    def make(w):
        t0 = F.count(v).over(w).cast("double")
        t1 = F.sum(c).over(w)
        t2 = F.sum(c * c).over(w)
        t3 = F.sum(c * c * c).over(w)
        return skew_calc(t0, t1, t2, t3, bias=bias)

    return _rolling(df, n, key, ts, v, out, make)


def rolling_min(df: DataFrame, n: int, key: str = KEY, ts: str = TS, v: str = VAL,
                out: str = "rolling_min") -> DataFrame:
    """Reference _min.py:8-77 (bottleneck move_min → Spark sliding MIN)."""
    return _rolling(df, n, key, ts, v, out, lambda w: F.min(v).over(w))


def rolling_max(df: DataFrame, n: int, key: str = KEY, ts: str = TS, v: str = VAL,
                out: str = "rolling_max") -> DataFrame:
    """Reference _max.py (mirror of _min.py)."""
    return _rolling(df, n, key, ts, v, out, lambda w: F.max(v).over(w))


def rolling_median(df: DataFrame, n: int, key: str = KEY, ts: str = TS, v: str = VAL,
                   out: str = "rolling_median") -> DataFrame:
    """Reference _median.py:6-78 (bn.move_median).  Spark: exact
    percentile over the count-n frame (linear interpolation, matching
    np.quantile 'linear' which the reference pins, _stride.py:209-215)."""
    return _rolling(
        df, n, key, ts, v, out,
        lambda w: F.expr(f"percentile({v}, 0.5)").over(w),
    )


def rolling_quantile(df: DataFrame, n: int, q: float, key: str = KEY, ts: str = TS,
                     v: str = VAL, out: str = "rolling_quantile") -> DataFrame:
    """Reference _stride.py:253-278 (two-heap incremental kernel :114-216).

    Spark's exact ``percentile`` over a sliding frame re-sorts per row —
    O(n log n) per output — but stays JVM-side and codegen'd; at the rollup
    granularity this engine targets (bucketed series, n in the tens) that
    beats shipping the group to a Python two-heap kernel.  For huge n a
    pandas-UDF two-heap port is the escape hatch.
    """
    return _rolling(
        df, n, key, ts, v, out,
        lambda w: F.expr(f"percentile({v}, {q!r})").over(w),
    )


def sorted_interp_median(arr_expr):
    """Exact median of an array expression: sort once (_let-bound so the
    sort doesn't re-run per element_at — Catalyst does not hoist through
    lambda scopes) and linearly interpolate at pos = (sz-1)*0.5 + 1, the
    percentile/quantile_cont rule.  NULL on an empty array.  Shared by
    the robust family (rolling_mad, hampel, rolling_theilsen)."""
    from pyg_timeseries_spark.dedup.neardup import _let

    def _interp(devs):
        sz = F.size(devs)
        pos = (sz.cast("double") - F.lit(1.0)) * F.lit(0.5) + F.lit(1.0)
        lo = F.floor(pos).cast("int")
        frac = pos - lo.cast("double")
        vlo = F.element_at(devs, lo)
        vhi = F.element_at(devs, F.least(lo + F.lit(1), sz))
        return F.when(sz > 0, vlo + frac * (vhi - vlo))

    return _let(F.array_sort(arr_expr), _interp)


def rolling_mad(df: DataFrame, n: int, key: str = KEY, ts: str = TS,
                v: str = VAL, out: str = "rolling_mad") -> DataFrame:
    """Median absolute deviation over the trailing-``n`` valid window:
    appends ``{out}_med`` (the window median) and ``{out}`` =
    median(|x - med|) — the robust dispersion despike/winsorize users
    switch to when the mean/std statistic is itself spike-contaminated
    (robust z = (v - med) / (1.4826 * mad) for normal data).

    The deviation median can't ride a plain frame aggregate (every frame
    element is re-centred on the CURRENT row's window median), so the
    frame is collected and reduced with higher-order array functions —
    JVM-side, no Python, same single per-key Exchange as the rest of the
    rolling family (the rolling_rank pattern).  The window median / frame
    array / count materialize as plain columns FIRST (one Window pass),
    so the transform lambda closes over an evaluated value, not a window
    expression (Catalyst does not hoist through lambda scopes — the
    shingling trap, dedup/neardup.py:_let), and the sorted deviation
    array is _let-bound so array_sort runs once, not once per element_at.
    Interpolation matches percentile/quantile_cont: pos = (sz-1)*q + 1
    with linear blend."""
    c = F.col(v)
    w = w_rows(n, key, ts)
    med_c, arr_c, cnt_c = f"__{out}_med", f"__{out}_arr", f"__{out}_cnt"
    valid = (
        df.filter(c.isNotNull())
        .withColumn(med_c, F.expr(f"percentile({v}, 0.5)").over(w))
        .withColumn(arr_c, F.collect_list(c).over(w))
        .withColumn(cnt_c, F.count(v).over(w))
    )
    med, cnt = F.col(med_c), F.col(cnt_c)
    mad = sorted_interp_median(
        F.transform(F.col(arr_c), lambda x: F.abs(x - med))
    )
    valid = (
        valid
        .withColumn(f"{out}_med", gated(med, cnt, n))
        .withColumn(out, gated(mad, cnt, n))
        .drop(med_c, arr_c, cnt_c)
    )
    nulls = (
        df.filter(c.isNull())
        .withColumn(f"{out}_med", F.lit(None).cast("double"))
        .withColumn(out, F.lit(None).cast("double"))
    )
    return valid.unionByName(nulls)


def rolling_theilsen(df: DataFrame, n: int, key: str = KEY, ts: str = TS,
                     v: str = VAL, out: str = "rolling_theilsen") -> DataFrame:
    """Theil-Sen robust slope over the trailing-``n`` valid window: the
    median of all pairwise slopes (x_j - x_i) / (j - i), 0 <= i < j < n,
    with the observation index as the abscissa (count-window semantics,
    like the rest of the rolling family — equally-spaced valid points).
    Breakdown point ~29%: a single spike that would swing an OLS rolling
    slope by O(spike/n) leaves the pairwise-slope median untouched.
    Sen (1968); the window rendition of scipy.stats.theilslopes.

    All JVM-side: the frame array materializes as a column first (the
    lambda-scope rule, see rolling_mad), the n(n-1)/2 pair slopes build
    with nested transforms + flatten, and the median is the shared
    sorted-interpolated reduction.  O(n^2) per row — fine for the small
    n this engine's rolling family targets."""
    c = F.col(v)
    w = w_rows(n, key, ts)
    arr_c, cnt_c = f"__{out}_arr", f"__{out}_cnt"
    valid = (
        df.filter(c.isNotNull())
        .withColumn(arr_c, F.collect_list(c).over(w))
        .withColumn(cnt_c, F.count(v).over(w))
    )

    def _slopes(a):
        sz = F.size(a)
        return F.flatten(
            F.transform(
                F.sequence(F.lit(2), F.greatest(sz, F.lit(2))),
                lambda j: F.when(
                    j <= sz,
                    F.transform(
                        F.sequence(F.lit(1), j - 1),
                        lambda i: (F.element_at(a, j) - F.element_at(a, i))
                        / (j - i).cast("double"),
                    ),
                ).otherwise(F.array().cast("array<double>")),
            )
        )

    slope = sorted_interp_median(_slopes(F.col(arr_c)))
    valid = (
        valid
        .withColumn(out, gated(slope, F.col(cnt_c), n))
        .drop(arr_c, cnt_c)
    )
    nulls = (
        df.filter(c.isNull())
        .withColumn(out, F.lit(None).cast("double"))
    )
    return valid.unionByName(nulls)


def rolling_trimmed_mean(df: DataFrame, n: int, lo: float = 0.1,
                         hi: float = 0.9, key: str = KEY, ts: str = TS,
                         v: str = VAL,
                         out: str = "rolling_trimmed_mean") -> DataFrame:
    """Trimmed mean over the trailing-``n`` valid window: mean of the
    values inside the window's own [lo, hi] quantile band (exact
    percentile interpolation for the band bounds, values ON the bound
    included) — the windowed rendition of :func:`~.ts.ts_trimmed_mean`.
    Cheaper-to-reason-about robust location than the window median when
    you still want averaging inside the band.

    One Window pass materializes the band bounds + frame array; the
    trim is a JVM-side filter + aggregate over the array.  NULL until
    ``n`` valid observations (the rolling family's emission gate)."""
    if not 0.0 <= lo <= hi <= 1.0:
        raise ValueError("need 0 <= lo <= hi <= 1")
    c = F.col(v)
    w = w_rows(n, key, ts)
    lo_c, hi_c, arr_c, cnt_c = (
        f"__{out}_lo", f"__{out}_hi", f"__{out}_arr", f"__{out}_cnt"
    )
    valid = (
        df.filter(c.isNotNull())
        .withColumn(lo_c, F.expr(f"percentile({v}, {lo!r})").over(w))
        .withColumn(hi_c, F.expr(f"percentile({v}, {hi!r})").over(w))
        .withColumn(arr_c, F.collect_list(c).over(w))
        .withColumn(cnt_c, F.count(v).over(w))
    )
    blo, bhi = F.col(lo_c), F.col(hi_c)
    from pyg_timeseries_spark.dedup.neardup import _let

    def _band_mean(kept):
        sz = F.size(kept)
        return F.when(
            sz > 0,
            F.aggregate(kept, F.lit(0.0), lambda acc, x: acc + x) / sz,
        )

    tmean = _let(
        F.filter(F.col(arr_c), lambda x: (x >= blo) & (x <= bhi)),
        _band_mean,
    )
    valid = (
        valid
        .withColumn(out, gated(tmean, F.col(cnt_c), n))
        .drop(lo_c, hi_c, arr_c, cnt_c)
    )
    nulls = (
        df.filter(c.isNull())
        .withColumn(out, F.lit(None).cast("double"))
    )
    return valid.unionByName(nulls)


def rolling_rank(df: DataFrame, n: int, key: str = KEY, ts: str = TS, v: str = VAL,
                 out: str = "rolling_rank") -> DataFrame:
    """Rank of the latest value within the trailing n valid values, scaled to
    [-1, 1] (reference _rank.py:7-64, bottleneck move_rank semantics:
    (#less - #greater) / (n - 1) over the window *excluding* the current row).
    """
    c = F.col(v)
    # Frame rows must be compared against the *current* row's value, which a
    # plain frame aggregate cannot see — collect the frame and filter it with
    # a higher-order function (JVM-side, no Python).
    w = w_rows(n, key, ts)
    arr = F.collect_list(c).over(w)
    cur = c
    n_less = F.size(F.filter(arr, lambda x: x < cur))
    n_greater = F.size(F.filter(arr, lambda x: x > cur))
    denom = F.size(arr) - F.lit(1)
    expr = F.when(
        (F.count(v).over(w) >= n) & (denom > 0),
        (n_less - n_greater).cast("double") / denom.cast("double"),
    ).otherwise(F.when(F.count(v).over(w) >= n, F.lit(0.0)))
    return apply_on_valid(df, out, expr, v=v)


def rolling_quantile_heap(df: DataFrame, n: int, q: float,
                          min_periods: int | None = None,
                          key: str = KEY, ts: str = TS, v: str = VAL,
                          out: str = "rolling_quantile") -> DataFrame:
    """O(log n)-per-row rolling quantile via the two-heap incremental kernel
    (kernels/quantile_numpy.py) under applyInPandas — the scale path for
    large n where the JVM percentile's O(n log n) per-row re-sort loses;
    supports the pandas min_periods warm-up ramp."""
    from pyg_timeseries_spark.kernels.quantile_numpy import (
        rolling_quantile_heap as kernel,
    )
    from pyg_timeseries_spark.operators._core import f64, kernel_map

    return kernel_map(df, key, ts, [out], lambda pdf, _: kernel(
        f64(pdf, v), n, q, min_periods=min_periods))


def rolling_rsi(df: DataFrame, n: int = 14, key: str = KEY, ts: str = TS,
                v: str = VAL, out: str = "rsi") -> DataFrame:
    """Relative Strength Index over the last ``n`` valid one-step
    differences (Cutler's simple-mean form — deterministic, unlike
    Wilder's recursive smoothing): RSI = 100 − 100/(1 + avg gain / avg
    loss); 100 when the window has no losses.  NaN-skip diffs like the
    shift family; gated NULL until n diffs are in the window.

    Shape: one lag pass + one trailing window over the same (key, ts)
    ordering — one Exchange, all JVM-side.  Gain/loss use explicit CASE
    (not greatest) so the NULL first-diff row is excluded from the
    window average on any engine."""
    from pyg_timeseries_spark.operators._core import w_rows, wspec

    valid = df.filter(F.col(v).isNotNull())
    d = F.col(v) - F.lag(v, 1).over(wspec(key, ts))
    stepped = valid.withColumn("__d", d)
    dd = F.col("__d")
    wn = w_rows(n, key, ts)
    gain = F.avg(F.when(dd.isNotNull(), F.when(dd > 0, dd).otherwise(F.lit(0.0)))).over(wn)
    loss = F.avg(F.when(dd.isNotNull(), F.when(dd < 0, -dd).otherwise(F.lit(0.0)))).over(wn)
    cnt = F.count("__d").over(wn)
    rsi = F.when(
        cnt >= n,
        F.when(loss == 0.0, F.lit(100.0)).otherwise(
            F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + gain / loss)
        ),
    )
    res = stepped.withColumn(out, rsi).drop("__d")
    nulls = df.filter(F.col(v).isNull()).withColumn(
        out, F.lit(None).cast("double")
    )
    return res.unionByName(nulls)


def rolling_time_agg(
    df: DataFrame,
    window_s: float,
    key: str = KEY,
    ts: str = TS,
    v: str = VAL,
    prefix: str = "tw",
) -> DataFrame:
    """Trailing TIME-window aggregates over the valid series: count /
    sum / mean / min / max of the observations in the half-open interval
    (t − window, t] — the wall-clock counterpart of the count-n rolling
    family, for irregular series where "last n rows" and "last n
    seconds" differ.  Implemented as ONE RANGE window over exact
    integer-µs event time (functions/timeutil.py — NTZ-safe), so Spark
    evaluates all five aggregates in a single sliding-frame pass; null
    rows ride along with NULL outputs (NaN-skip identity).

    At scale this is the same one-Exchange shape as rolling_mean; the
    RANGE frame is sort-based and spillable, never buffering more than
    the densest window per key."""
    from pyspark.sql import Window

    from pyg_timeseries_spark.functions.timeutil import ts_us

    w_us = int(round(window_s * 1_000_000))
    if w_us < 1:
        raise ValueError("window_s must be >= 1µs")
    us = ts_us(df, ts)
    w = (
        Window.partitionBy(key)
        .orderBy(us)
        .rangeBetween(-(w_us - 1), Window.currentRow)
    )
    outs = {
        f"{prefix}_cnt": F.count(v).over(w).cast("long"),
        f"{prefix}_sum": F.sum(v).over(w),
        f"{prefix}_mean": F.avg(v).over(w),
        f"{prefix}_min": F.min(v).over(w),
        f"{prefix}_max": F.max(v).over(w),
    }
    valid = df.filter(F.col(v).isNotNull()).select(
        *df.columns, *[c.alias(n) for n, c in outs.items()]
    )
    nulls = df.filter(F.col(v).isNull()).select(
        *df.columns,
        *[
            F.lit(None).cast(valid.schema[n].dataType).alias(n)
            for n in outs
        ],
    )
    return valid.unionByName(nulls)
