"""Round-5 surface: CUSUM/drawdown regime ops, calendar seasonality,
local-level Kalman filter, robust (trimmed/winsorized) means."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyg_timeseries_spark.operators.kalman import kalman, kalman_, kalman_kernel
from pyg_timeseries_spark.operators.regime import cusum, drawdown, max_drawdown
from pyg_timeseries_spark.operators.seasonal import (
    deseasonalize, phase_col, seasonal_profile,
)
from pyg_timeseries_spark.operators.ts import (
    ts_trimmed_mean, ts_winsorized_mean,
)


def _series(spark, vals, freq="1min", key="k"):
    pdf = pd.DataFrame({
        "key": key,
        "ts": pd.date_range("2024-01-01", periods=len(vals), freq=freq),
        "v": vals,
    })
    return spark.createDataFrame(pdf)


# ---- cusum ------------------------------------------------------------------

def _cusum_python(xs, target, k):
    sp = sn = 0.0
    out = []
    for x in xs:
        if x is None or (isinstance(x, float) and np.isnan(x)):
            out.append((np.nan, np.nan))
            continue
        sp = max(0.0, sp + (x - target - k))
        sn = max(0.0, sn + (target - x - k))
        out.append((sp, sn))
    return out


def test_cusum_matches_recurrence(spark):
    rng = np.random.default_rng(11)
    vals = list(rng.normal(0, 1, 150))
    vals[60:] = list(np.array(vals[60:]) + 2.0)      # upward shift at 60
    vals[30] = np.nan
    df = _series(spark, vals)
    got = (cusum(df, target=0.0, k=0.25, h=5.0).toPandas()
           .sort_values("ts").reset_index(drop=True))
    exp = _cusum_python(vals, 0.0, 0.25)
    np.testing.assert_allclose(
        got["cusum_pos"].to_numpy(float), [e[0] for e in exp],
        rtol=1e-12, atol=1e-9, equal_nan=True)
    np.testing.assert_allclose(
        got["cusum_neg"].to_numpy(float), [e[1] for e in exp],
        rtol=1e-12, atol=1e-9, equal_nan=True)
    # the injected upward shift must alarm after 60, and the UPWARD
    # statistic must stay quiet before it (the downward side is free to
    # drift on this random draw — only s+ encodes the planted shift)
    alarms = got["cusum_alarm"].eq(True)          # NULL -> False, no downcast
    assert alarms[62:].any()
    assert not (got["cusum_pos"][:55] > 5.0).any()
    # NaN row emits NULL stats and NULL alarm
    assert got["cusum_alarm"].isna()[30]


def test_cusum_reset_identity_hand_case(spark):
    # walk: +1 +1 -5 +1 -> s+ with k=0: 1, 2, 0, 1
    df = _series(spark, [1.0, 1.0, -5.0, 1.0])
    got = (cusum(df).toPandas().sort_values("ts")["cusum_pos"].tolist())
    assert got == [1.0, 2.0, 0.0, 1.0]


# ---- drawdown ---------------------------------------------------------------

def test_drawdown_replay(spark):
    vals = [10.0, 12.0, 9.0, np.nan, 15.0, 6.0]
    got = (drawdown(_series(spark, vals)).toPandas()
           .sort_values("ts").reset_index(drop=True))
    assert got["drawdown_peak"].tolist()[:3] == [10.0, 12.0, 12.0]
    assert np.isnan(got["drawdown"][3]) and np.isnan(got["drawdown_peak"][3])
    np.testing.assert_allclose(got["drawdown"][2], 9.0 / 12.0 - 1.0)
    np.testing.assert_allclose(got["drawdown"][5], 6.0 / 15.0 - 1.0)
    assert got["drawdown"][4] == 0.0                   # new high


def test_drawdown_nonpositive_peak_null(spark):
    got = (drawdown(_series(spark, [-1.0, -2.0])).toPandas()
           .sort_values("ts"))
    assert got["drawdown"].isna().all()                # ratio undefined


def test_max_drawdown(spark):
    vals = [10.0, 12.0, 9.0, 15.0, 6.0, 14.0]
    row = max_drawdown(_series(spark, vals)).collect()[0]
    np.testing.assert_allclose(row["max_dd"], 6.0 / 15.0 - 1.0)
    assert row["peak_at_max"] == 15.0 and row["trough_at_max"] == 6.0


# ---- seasonal ---------------------------------------------------------------

def test_phase_conventions(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "ts": [pd.Timestamp("2024-01-01 05:30")],   # a Monday
    }))
    row = df.select(
        phase_col("ts", "hour_of_day").alias("h"),
        phase_col("ts", "day_of_week").alias("d"),
        phase_col("ts", "hour_of_week").alias("hw"),
        phase_col("ts", "minute_of_hour").alias("m"),
    ).collect()[0]
    assert (row["h"], row["d"], row["hw"], row["m"]) == (5, 0, 5, 30)
    with pytest.raises(ValueError):
        phase_col("ts", "fortnight")


def test_seasonal_profile_and_residual(spark):
    # 3 days, hourly; v = 100 + hour + day_index (so hour-of-day mean is
    # 100 + hour + 1 across the 3 days)
    ts = pd.date_range("2024-01-01", periods=72, freq="1h")
    vals = [100.0 + t.hour + i // 24 for i, t in enumerate(ts)]
    df = spark.createDataFrame(pd.DataFrame({"key": "k", "ts": ts, "v": vals}))
    prof = {r["phase"]: r for r in
            seasonal_profile(df, "hour_of_day").collect()}
    assert len(prof) == 24
    np.testing.assert_allclose(prof[7]["phase_mean"], 100 + 7 + 1)
    assert prof[7]["phase_n"] == 3
    res = (deseasonalize(df, "hour_of_day").toPandas()
           .sort_values("ts").reset_index(drop=True))
    # residual is day_index - 1 regardless of hour
    np.testing.assert_allclose(res["deseasonalized"].to_numpy(float),
                               [i // 24 - 1.0 for i in range(72)])
    assert "phase_mean" in res.columns


# ---- kalman -----------------------------------------------------------------

def _kalman_python(xs, q, r):
    lvl = p = None
    out = []
    for x in xs:
        if x is None or (isinstance(x, float) and np.isnan(x)):
            out.append(np.nan)
            continue
        if lvl is None:
            lvl, p = x, r
        else:
            p_pred = p + q
            kk = p_pred / (p_pred + r)
            lvl = lvl + kk * (x - lvl)
            p = (1 - kk) * p_pred
        out.append(lvl)
    return out


def test_kalman_matches_reference_loop(spark):
    rng = np.random.default_rng(21)
    vals = list(np.cumsum(rng.normal(0, 0.3, 180)) + rng.normal(0, 1, 180))
    vals[5] = np.nan
    got = (kalman(_series(spark, vals), q=0.01, r=1.0).toPandas()
           .sort_values("ts")["kalman"].to_numpy(float))
    exp = np.array(_kalman_python(vals, 0.01, 1.0))
    np.testing.assert_allclose(got, exp, rtol=0, atol=0, equal_nan=True)


def test_kalman_steady_state_is_ewma_gain():
    """K converges to the positive root of K^2 r = (1-K) q ... i.e. the
    steady-state gain of the local-level model; check convergence and
    that successive gains stabilise."""
    out, s = kalman_kernel(np.ones(500), q=0.01, r=1.0)
    p = s[2]
    k_inf = (p + 0.01) / (p + 0.01 + 1.0)
    # steady state: P = (1-K)(P+q)  =>  K = (-q + sqrt(q^2+4qr)) / (2r)
    expect = (-0.01 + np.sqrt(0.01**2 + 4 * 0.01 * 1.0)) / 2
    np.testing.assert_allclose(k_inf, expect, rtol=1e-6)


def test_kalman_resume_bit_identical(spark):
    rng = np.random.default_rng(33)
    vals = list(np.cumsum(rng.normal(0, 1, 100)))
    full = (kalman(_series(spark, vals), 0.05, 0.5).toPandas()
            .sort_values("ts")["kalman"].to_numpy(float))
    _, st = kalman_(_series(spark, vals[:40]), 0.05, 0.5)
    tail_pdf = pd.DataFrame({
        "key": "k",
        "ts": pd.date_range("2024-01-01", periods=100, freq="1min")[40:],
        "v": vals[40:],
    })
    tail = kalman(spark.createDataFrame(tail_pdf), 0.05, 0.5, state_df=st)
    got = tail.toPandas().sort_values("ts")["kalman"].to_numpy(float)
    assert np.array_equal(got, full[40:], equal_nan=True)


def test_kalman_validation():
    with pytest.raises(ValueError):
        kalman_kernel(np.array([1.0]), q=-1.0, r=1.0)
    with pytest.raises(ValueError):
        kalman_kernel(np.array([1.0]), q=0.1, r=0.0)


# ---- robust means -----------------------------------------------------------

def test_trimmed_and_winsorized_mean(spark):
    vals = list(np.arange(1.0, 11.0))        # 1..10
    df = _series(spark, vals)
    lo, hi = np.quantile(vals, 0.1), np.quantile(vals, 0.9)
    t = ts_trimmed_mean(df, 0.1, 0.9).collect()[0]["trimmed_mean"]
    w = ts_winsorized_mean(df, 0.1, 0.9).collect()[0]["winsorized_mean"]
    inside = [x for x in vals if lo <= x <= hi]
    np.testing.assert_allclose(t, np.mean(inside))
    np.testing.assert_allclose(
        w, np.mean(np.clip(vals, lo, hi)))
    # outlier robustness: a huge spike barely moves the trimmed mean
    spiked = vals[:-1] + [1e9]
    t2 = (ts_trimmed_mean(_series(spark, spiked), 0.1, 0.9)
          .collect()[0]["trimmed_mean"])
    assert abs(t2 - t) < 1.0


def test_trimmed_mean_validation(spark):
    with pytest.raises(ValueError):
        ts_trimmed_mean(_series(spark, [1.0]), 0.9, 0.1).collect()


# ---- rolling_mad ------------------------------------------------------------

def test_rolling_mad_matches_numpy(spark):
    from pyg_timeseries_spark.operators.rolling import rolling_mad

    rng = np.random.default_rng(42)
    vals = list(rng.normal(0, 1, 120))
    vals[17] = np.nan
    n = 7
    got = (rolling_mad(_series(spark, vals), n).toPandas()
           .sort_values("ts").reset_index(drop=True))
    a = np.array(vals, dtype=float)
    valid_idx = [i for i in range(len(a)) if not np.isnan(a[i])]
    exp_med = np.full(len(a), np.nan)
    exp_mad = np.full(len(a), np.nan)
    for j, i in enumerate(valid_idx):
        if j + 1 >= n:
            w = a[[valid_idx[t] for t in range(j - n + 1, j + 1)]]
            m = np.quantile(w, 0.5)
            exp_med[i] = m
            exp_mad[i] = np.quantile(np.abs(w - m), 0.5)
    np.testing.assert_allclose(
        got["rolling_mad_med"].to_numpy(float), exp_med,
        rtol=1e-12, atol=1e-12, equal_nan=True)
    np.testing.assert_allclose(
        got["rolling_mad"].to_numpy(float), exp_mad,
        rtol=1e-12, atol=1e-12, equal_nan=True)


def test_rolling_mad_robust_to_spike(spark):
    """A single gross spike moves the trailing MAD far less than the
    trailing std — the reason the robust variant exists."""
    from pyg_timeseries_spark.operators.rolling import rolling_mad

    base = [float(x) for x in np.sin(np.arange(30))]
    spiked = list(base)
    spiked[20] = 1e6
    n = 9
    clean = (rolling_mad(_series(spark, base), n).toPandas()
             .sort_values("ts")["rolling_mad"].to_numpy(float))
    dirty = (rolling_mad(_series(spark, spiked), n).toPandas()
             .sort_values("ts")["rolling_mad"].to_numpy(float))
    # at the row after the spike the MAD is still within 3x the clean MAD
    assert dirty[21] < 3 * clean[21]


# ---- rolling_theilsen -------------------------------------------------------

def _theilsen_numpy(w):
    slopes = [(w[j] - w[i]) / (j - i)
              for j in range(len(w)) for i in range(j)]
    return np.quantile(slopes, 0.5)


def test_rolling_theilsen_matches_numpy(spark):
    from pyg_timeseries_spark.operators.rolling import rolling_theilsen

    rng = np.random.default_rng(7)
    vals = list(0.3 * np.arange(80) + rng.normal(0, 1, 80))
    vals[11] = np.nan
    n = 6
    got = (rolling_theilsen(_series(spark, vals), n).toPandas()
           .sort_values("ts").reset_index(drop=True))
    a = np.array(vals, dtype=float)
    valid_idx = [i for i in range(len(a)) if not np.isnan(a[i])]
    exp = np.full(len(a), np.nan)
    for j, i in enumerate(valid_idx):
        if j + 1 >= n:
            w = a[[valid_idx[t] for t in range(j - n + 1, j + 1)]]
            exp[i] = _theilsen_numpy(w)
    np.testing.assert_allclose(
        got["rolling_theilsen"].to_numpy(float), exp,
        rtol=1e-12, atol=1e-12, equal_nan=True)


def test_rolling_theilsen_ignores_spike(spark):
    """A gross spike leaves the pairwise-slope median of a clean linear
    trend essentially unchanged — the operator's reason to exist."""
    from pyg_timeseries_spark.operators.rolling import rolling_theilsen

    base = [float(2.0 * i) for i in range(30)]
    spiked = list(base)
    spiked[20] = 1e5
    n = 9
    dirty = (rolling_theilsen(_series(spark, spiked), n).toPandas()
             .sort_values("ts")["rolling_theilsen"].to_numpy(float))
    # windows containing the spike still read the true slope 2.0
    assert abs(dirty[24] - 2.0) < 1e-9


# ---- hampel -----------------------------------------------------------------

def test_hampel_matches_python(spark):
    from pyg_timeseries_spark.operators.clean import hampel

    rng = np.random.default_rng(3)
    vals = list(rng.normal(10, 1, 100))
    vals[40] = 60.0
    vals[41] = -55.0
    vals[15] = np.nan
    n, z = 10, 3.0
    got = (hampel(_series(spark, vals), n, z).toPandas()
           .sort_values("ts").reset_index(drop=True))
    a = np.array(vals, dtype=float)
    valid_idx = [i for i in range(len(a)) if not np.isnan(a[i])]
    exp = np.array(a)
    exp_flag = [None if np.isnan(a[i]) else False for i in range(len(a))]
    for j, i in enumerate(valid_idx):
        if j >= n:
            w = a[[valid_idx[t] for t in range(j - n, j)]]
            med = np.quantile(w, 0.5)
            mad = np.quantile(np.abs(w - med), 0.5)
            if mad > 0 and abs(a[i] - med) > z * 1.4826 * mad:
                exp[i] = med
                exp_flag[i] = True
    np.testing.assert_allclose(
        got["hampel"].to_numpy(float), exp,
        rtol=1e-12, atol=1e-12, equal_nan=True)
    assert list(got["hampel_flag"]) == exp_flag
    # the two planted spikes were caught and replaced with the median
    assert got["hampel_flag"][40] and got["hampel_flag"][41]


# ---- ts_acf / ts_ar2 --------------------------------------------------------

def _acf_numpy(x, k):
    x = np.asarray(x, float)
    m = x.mean()
    d = x - m
    return float((d[k:] * d[:-k]).sum() / (d * d).sum())


def test_ts_acf_matches_numpy(spark):
    from pyg_timeseries_spark.operators.ts import ts_acf

    rng = np.random.default_rng(5)
    # AR(1)-ish series so the ACF is nontrivial
    x = [0.0]
    for _ in range(300):
        x.append(0.7 * x[-1] + rng.normal())
    vals = list(x)
    vals[50] = np.nan  # NaN-skip: valid sequence contracts
    got = ts_acf(_series(spark, vals), lags=(1, 2, 5)).toPandas()
    clean = [v for v in vals if not np.isnan(v)]
    for k in (1, 2, 5):
        np.testing.assert_allclose(
            got[f"acf_{k}"].iloc[0], _acf_numpy(clean, k),
            rtol=1e-9, atol=1e-12)


def test_ts_acf_validation(spark):
    from pyg_timeseries_spark.operators.ts import ts_acf, ts_ljungbox

    # ts_ljungbox shares ts_acf's r_k: no lags or lag 0 (r_0 = 1) is an error
    for op in (ts_acf, ts_ljungbox):
        with pytest.raises(ValueError):
            op(_series(spark, [1.0, 2.0]), lags=(0,))
        with pytest.raises(ValueError):
            op(_series(spark, [1.0, 2.0]), lags=())


def test_ts_ar2_recovers_ar2_coefficients(spark):
    from pyg_timeseries_spark.operators.ts import ts_ar2

    rng = np.random.default_rng(9)
    phi1, phi2 = 0.5, -0.3
    x = [0.0, 0.0]
    for _ in range(4000):
        x.append(phi1 * x[-1] + phi2 * x[-2] + rng.normal())
    got = ts_ar2(_series(spark, x)).toPandas()
    # Yule-Walker on 4k samples lands within a few percent of truth
    assert abs(got["phi1"].iloc[0] - phi1) < 0.05
    assert abs(got["phi2"].iloc[0] - phi2) < 0.05
    # closed form exactly reproduces the numpy ACF arithmetic
    r1 = _acf_numpy(x, 1)
    r2 = _acf_numpy(x, 2)
    det = 1 - r1 * r1
    np.testing.assert_allclose(
        got["phi1"].iloc[0], r1 * (1 - r2) / det, rtol=1e-9)
    np.testing.assert_allclose(
        got["phi2"].iloc[0], (r2 - r1 * r1) / det, rtol=1e-9)


# ---- rolling_trimmed_mean ---------------------------------------------------

def test_rolling_trimmed_mean_matches_numpy(spark):
    from pyg_timeseries_spark.operators.rolling import rolling_trimmed_mean

    rng = np.random.default_rng(13)
    vals = list(rng.normal(0, 1, 90))
    vals[9] = np.nan
    vals[30] = 50.0                      # spike lands outside the band
    n, lo, hi = 8, 0.1, 0.9
    got = (rolling_trimmed_mean(_series(spark, vals), n, lo, hi).toPandas()
           .sort_values("ts").reset_index(drop=True))
    a = np.array(vals, dtype=float)
    valid_idx = [i for i in range(len(a)) if not np.isnan(a[i])]
    exp = np.full(len(a), np.nan)
    for j, i in enumerate(valid_idx):
        if j + 1 >= n:
            w = a[[valid_idx[t] for t in range(j - n + 1, j + 1)]]
            b_lo, b_hi = np.quantile(w, lo), np.quantile(w, hi)
            kept = w[(w >= b_lo) & (w <= b_hi)]
            exp[i] = kept.mean()
    np.testing.assert_allclose(
        got["rolling_trimmed_mean"].to_numpy(float), exp,
        rtol=1e-12, atol=1e-12, equal_nan=True)


def test_rolling_trimmed_mean_validation(spark):
    from pyg_timeseries_spark.operators.rolling import rolling_trimmed_mean

    with pytest.raises(ValueError):
        rolling_trimmed_mean(_series(spark, [1.0]), 5, 0.9, 0.1)


# ---- ts_variance_ratio ------------------------------------------------------

def _vr_numpy(x, q):
    x = np.asarray(x, float)
    d1 = np.diff(x)
    dq = x[q:] - x[:-q]
    return dq.var(ddof=1) / (q * d1.var(ddof=1))


def test_variance_ratio_matches_numpy(spark):
    from pyg_timeseries_spark.operators.ts import ts_variance_ratio

    rng = np.random.default_rng(17)
    x = list(np.cumsum(rng.normal(0, 1, 400)))
    got = ts_variance_ratio(_series(spark, x), q=5).toPandas()
    np.testing.assert_allclose(
        got["variance_ratio"].iloc[0], _vr_numpy(x, 5), rtol=1e-9)


def test_variance_ratio_regimes(spark):
    from pyg_timeseries_spark.operators.ts import ts_variance_ratio

    rng = np.random.default_rng(19)
    # strongly mean-reverting AR(1): VR(q) well below 1
    mr = [0.0]
    for _ in range(600):
        mr.append(-0.7 * mr[-1] + rng.normal())
    vr_mr = ts_variance_ratio(_series(spark, mr), q=5).toPandas()
    assert vr_mr["variance_ratio"].iloc[0] < 0.6
    # trending series: VR(q) well above 1
    tr = list(np.cumsum(0.5 + rng.normal(0, 0.1, 600)))
    # a pure trend has ~zero diff variance; add persistent noise
    tr = list(np.cumsum(np.cumsum(rng.normal(0, 0.05, 300)) + rng.normal(0, 0.2, 300)))
    vr_tr = ts_variance_ratio(_series(spark, tr), q=5).toPandas()
    assert vr_tr["variance_ratio"].iloc[0] > 1.4
    with pytest.raises(ValueError):
        ts_variance_ratio(_series(spark, mr), q=1)
