"""Round-5 second-batch operators: fracdiff, interp, ts_halflife,
ts_ljungbox, realized_vol, pii_scan/redact, shard_by_budget.

Pandas/numpy replicas are the ground truth (the engine's standard test
strategy, SURVEY.md §5); the driver's DuckDB value oracles cover the same
ops end-to-end at sf0.01."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _per_key(pdf):
    for k, g in pdf.sort_values(["key", "ts"]).groupby("key"):
        yield k, g.reset_index(drop=True)


def test_fracdiff_matches_numpy(spark, series_df, series_pdf):
    from pyg_timeseries_spark.operators.shift import fracdiff, fracdiff_weights

    d, n = 0.4, 10
    out = (
        fracdiff(series_df, d, n)
        .filter(F.col("v").isNotNull())
        .toPandas()
        .sort_values(["key", "ts"])
    )
    ws = np.array(fracdiff_weights(d, n))
    for k, g in _per_key(series_pdf):
        x = g["v"].dropna().to_numpy()
        exp = np.full(len(x), np.nan)
        for t in range(n - 1, len(x)):
            exp[t] = float(np.dot(ws, x[t - n + 1 : t + 1][::-1]))
        got = out[out.key == k]["fracdiff"].to_numpy()
        assert np.allclose(got, exp, equal_nan=True, atol=1e-12)


def test_fracdiff_d1_is_diff(spark, series_df):
    """(1-B)^1 truncated at n=2 is the plain first difference."""
    from pyg_timeseries_spark.operators.shift import diff, fracdiff

    a = fracdiff(series_df, 1.0, 2).filter(F.col("v").isNotNull()).toPandas()
    b = diff(series_df).filter(F.col("v").isNotNull()).toPandas()
    m = a.merge(b, on=["key", "ts"])
    valid = m.dropna(subset=["fracdiff"])
    assert len(valid) > 0
    assert np.allclose(valid["fracdiff"], valid["diff"], atol=1e-12)


def test_interp_matches_pandas_time(spark, series_df, series_pdf):
    """Interior gaps == pandas interpolate(method='time', limit_area=
    'inside'); edges stay NaN."""
    from pyg_timeseries_spark.operators.fill import interp

    out = interp(series_df, out="iv").toPandas().sort_values(["key", "ts"])
    for k, g in _per_key(series_pdf):
        s = pd.Series(g["v"].to_numpy(), index=pd.DatetimeIndex(g["ts"]))
        exp = s.interpolate(method="time", limit_area="inside").to_numpy()
        got = out[out.key == k]["iv"].to_numpy()
        assert np.allclose(got, exp, equal_nan=True, atol=1e-9)


def test_interp_preserves_valid_rows(spark, series_df):
    from pyg_timeseries_spark.operators.fill import interp

    out = interp(series_df, out="iv")
    bad = out.filter(
        F.col("v").isNotNull() & (F.col("iv") != F.col("v"))
    ).count()
    assert bad == 0


def test_ts_halflife_closed_form(spark, series_df, series_pdf):
    from pyg_timeseries_spark.operators.ts import ts_halflife

    got = ts_halflife(series_df).toPandas().set_index("key")
    for k, g in _per_key(series_pdf):
        x = g["v"].dropna().to_numpy()
        xp, dy = x[:-1], np.diff(x)
        b = np.polyfit(xp, dy, 1)[0]
        assert got.loc[k, "mr_beta"] == pytest.approx(b, abs=1e-9)
        rho = 1.0 + b
        if 0 < rho < 1:
            assert got.loc[k, "halflife"] == pytest.approx(
                -math.log(2) / math.log(rho), abs=1e-9
            )


def test_ljungbox_matches_numpy(spark, series_df, series_pdf):
    from pyg_timeseries_spark.operators.ts import ts_ljungbox

    lags = (1, 2, 5)
    got = ts_ljungbox(series_df, lags=lags).toPandas().set_index("key")
    for k, g in _per_key(series_pdf):
        x = g["v"].dropna().to_numpy()
        n, m = len(x), x.mean()
        den = ((x - m) ** 2).sum()
        q = 0.0
        for lag in lags:
            r = ((x[lag:] - m) * (x[:-lag] - m)).sum() / den
            q += r * r / (n - lag)
        q *= n * (n + 2)
        assert got.loc[k, "n"] == n
        assert got.loc[k, "lb_q"] == pytest.approx(q, rel=1e-9)


def test_realized_vol_decomposition(spark, series_df, series_pdf):
    from pyg_timeseries_spark.operators.resample import realized_vol

    out = realized_vol(series_df, 3600.0).toPandas()
    for k, g in _per_key(series_pdf):
        gv = g.dropna(subset=["v"])
        r = gv["v"].diff().to_numpy()
        bucket = gv["ts"].dt.floor("1h").to_numpy()
        exp = pd.DataFrame({"bucket": bucket, "r": r, "rl": np.roll(r, 1)})
        exp.loc[0, "rl"] = np.nan
        grp = exp.groupby("bucket").agg(
            n_ret=("r", "count"),
            rv=("r", lambda s: np.nansum(s**2) if s.notna().any() else 0.0),
        )
        sub = out[out.key == k].set_index("bucket").sort_index()
        assert (sub["n_ret"] == grp["n_ret"]).all()
        assert np.allclose(sub["rv"], grp["rv"], atol=1e-12)
        # bipower: jump-robust — rv and bpv agree in order of magnitude on
        # a jump-free Gaussian series, and jump = max(rv - bpv, 0) exactly.
        assert np.allclose(
            sub["jump"], np.maximum(sub["rv"] - sub["bpv"], 0.0), atol=1e-12
        )


def test_pii_scan_and_redact(spark):
    from pyg_timeseries_spark.textops.analysis import pii_redact, pii_scan

    rows = [
        (1, "contact bob@example.com or alice.smith@sub.domain.org today"),
        (2, "server at 10.0.0.1 and 192.168.255.254 up"),
        (3, "acct 12345678 ref 999999 but 12345 is short"),
        (4, "clean text, nothing here"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pii_redact(pii_scan(df)).toPandas().set_index("doc_id")
    assert out.loc[1, "n_email"] == 2
    assert out.loc[2, "n_ipv4"] == 2
    assert out.loc[3, "n_longnum"] == 2
    assert out.loc[4, ["n_email", "n_ipv4", "n_longnum"]].sum() == 0
    assert out.loc[1, "redacted"] == "contact <EMAIL> or <EMAIL> today"
    assert out.loc[2, "redacted"] == "server at <IP> and <IP> up"
    assert out.loc[3, "redacted"] == "acct <NUM> ref <NUM> but 12345 is short"
    assert pd.isna(out.loc[5, "redacted"])


def test_shard_by_budget_invariants(spark):
    from pyg_timeseries_spark.textops.packing import shard_by_budget

    pdf = pd.DataFrame(
        {
            "doc_id": range(200),
            "source": ["s%d" % (i % 3) for i in range(200)],
            "n_tokens": [((i * 37) % 500) + 1 for i in range(200)],
        }
    )
    out = shard_by_budget(
        spark.createDataFrame(pdf), 1000, weight="n_tokens", key="source"
    ).toPandas()
    assert len(out) == 200
    # every doc assigned exactly once, shard ids contiguous from 0 per source
    for s, g in out.groupby("source"):
        g = g.sort_values("cum_before")
        ids = g["shard_id"].unique()
        assert ids.min() == 0 and set(ids) == set(range(ids.max() + 1))
        # exclusive prefix sum: cum_before is the running total of weights
        assert (g["cum_before"].to_numpy()
                == np.concatenate([[0], g["weight"].cumsum().to_numpy()[:-1]])).all()
        # shard never exceeds budget by more than one doc: a doc starts in
        # shard floor(cum_before/budget)
        assert (g["shard_id"] == g["cum_before"] // 1000).all()
    # deterministic: same input → same assignment
    out2 = shard_by_budget(
        spark.createDataFrame(pdf), 1000, weight="n_tokens", key="source"
    ).toPandas()
    m = out.merge(out2, on=["source", "doc_id"])
    assert (m["shard_id_x"] == m["shard_id_y"]).all()


def test_ts_hurst_discriminates(spark):
    """H ≈ 0.5 for a random walk, near 1 for a strong trend, < 0.5 for
    strong mean reversion — the diagnostic must rank the three."""
    from pyg_timeseries_spark.operators.ts import ts_hurst

    rng = np.random.default_rng(7)
    n = 2000
    walk = np.cumsum(rng.normal(0, 1, n))
    smooth = np.cumsum(walk)  # integrated walk: strongly persistent
    mr = np.zeros(n)
    for t in range(1, n):  # strongly mean-reverting AR(1): diff variance
        mr[t] = 0.05 * mr[t - 1] + rng.normal(0, 1)  # saturates → H ≈ 0
    pdf = pd.concat(
        pd.DataFrame({
            "key": k,
            "ts": pd.date_range("2024-01-01", periods=n, freq="1min"),
            "v": x,
        })
        for k, x in [("walk", walk), ("smooth", smooth), ("mr", mr)]
    )
    got = ts_hurst(spark.createDataFrame(pdf)).toPandas().set_index("key")["hurst"]
    assert 0.35 < got["walk"] < 0.65
    assert got["smooth"] > 0.75
    assert got["mr"] < 0.2 < got["walk"] < got["smooth"]


def _hurst_numpy(x, scales):
    """Half the OLS slope of ln Var(x_t − x_{t−q}) on ln q; None when a
    scale has < 2 differences or a non-positive variance."""
    ln_q, ln_v = [], []
    for q in scales:
        d = x[q:] - x[:-q]
        if len(d) < 2 or d.var(ddof=1) <= 0:
            return None
        ln_q.append(math.log(q))
        ln_v.append(math.log(d.var(ddof=1)))
    return np.polyfit(ln_q, ln_v, 1)[0] / 2


def test_ts_hurst_matches_numpy(spark):
    """Values of the variance-time slope over the valid series (NULL rows
    skipped, differences taken over the valid sequence); a constant key
    (zero variance) and a key shorter than the largest scale give NULL."""
    from pyg_timeseries_spark.operators.ts import ts_hurst

    rng = np.random.default_rng(11)
    walk = np.cumsum(rng.normal(0, 1, 400))
    walk[rng.random(400) < 0.15] = np.nan
    noise = rng.normal(0, 1, 300)
    noise[rng.random(300) < 0.15] = np.nan
    series = {"walk": walk, "noise": noise, "const": np.full(50, 3.0),
              "short": rng.normal(0, 1, 12)}
    pdf = pd.concat(
        pd.DataFrame({"key": k, "v": x,
                      "ts": pd.date_range("2024-01-01", periods=len(x), freq="1min")})
        for k, x in series.items()
    )
    df = spark.createDataFrame(pdf).withColumn(
        "v", F.when(F.isnan("v"), F.lit(None)).otherwise(F.col("v")))
    got = ts_hurst(df).toPandas().set_index("key")["hurst"]
    for k in ("walk", "noise"):
        x = series[k][~np.isnan(series[k])]
        assert got[k] == pytest.approx(_hurst_numpy(x, (1, 2, 4, 8, 16)), rel=1e-9)
    assert pd.isna(got["const"]) and pd.isna(got["short"])


def test_rolling_rsi_bounds_and_known_values(spark):
    from pyg_timeseries_spark.operators.rolling import rolling_rsi

    pdf = pd.DataFrame({
        "key": "k",
        "ts": pd.date_range("2024-01-01", periods=8, freq="1min"),
        "v": [1.0, 2.0, 3.0, 4.0, 5.0, 4.0, 3.0, 2.0],
    })
    out = (
        rolling_rsi(spark.createDataFrame(pdf), 3)
        .toPandas().sort_values("ts")["rsi"].to_numpy()
    )
    # diffs: _, 1, 1, 1, 1, -1, -1, -1 ; n=3 gate → first 3 rows NULL
    assert np.isnan(out[:3]).all()
    assert out[3] == 100.0 and out[4] == 100.0        # all gains
    assert out[5] == pytest.approx(100 - 100 / (1 + (2/3) / (1/3)))
    assert out[7] == pytest.approx(0.0)               # all losses
    # bounded on random data
    from conftest import make_series
    s = spark.createDataFrame(make_series()).withColumn(
        "v", F.when(F.isnan("v"), F.lit(None)).otherwise(F.col("v")))
    vals = rolling_rsi(s, 5).toPandas()["rsi"].dropna()
    assert ((vals >= 0) & (vals <= 100)).all()


def test_ts_peaks_planted(spark):
    from pyg_timeseries_spark.operators.regime import ts_peaks

    v = [0.0, 1.0, 0.5, 3.0, 0.2, 0.1, 0.0, 5.0, 0.0, 0.0]
    pdf = pd.DataFrame({
        "key": "k",
        "ts": pd.date_range("2024-01-01", periods=len(v), freq="1min"),
        "v": v,
    })
    got = ts_peaks(spark.createDataFrame(pdf), w=2).toPandas()
    # index 3 (3.0 > {1.0,0.5} and > {0.2,0.1}) and index 7 (5.0) qualify;
    # index 1 lacks two left neighbours
    assert sorted(got["ts"].dt.minute.tolist()) == [3, 7]
    p3 = got[got.ts.dt.minute == 3]["prominence"].iloc[0]
    assert p3 == pytest.approx(3.0 - 1.0)


def test_encode_tokens_roundtrip(spark):
    from pyg_timeseries_spark.textops.vocab import build_vocab, encode_tokens

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat"),
        (3, "zebra unknownword the"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    vocab = build_vocab(docs, 4).toPandas().set_index("word")["id"]
    # counts: the=4, sat=2, then alphabetical singles; top-4 deterministic
    assert vocab["the"] == 1 and vocab["sat"] == 2
    enc = encode_tokens(docs, build_vocab(docs, 4)).toPandas().set_index("doc_id")
    assert enc.loc[1, "n_tok"] == 6
    ids1 = enc.loc[1, "ids"]
    assert ids1[0] == 1 and ids1[4] == 1          # both "the"
    assert ids1[2] == 2                            # "sat"
    # unknowns map to 0
    assert 0 in set(enc.loc[3, "ids"])
    # order preserved: doc 2 = the(1) dog(?) sat(2)
    assert enc.loc[2, "ids"][0] == 1 and enc.loc[2, "ids"][2] == 2


def test_rolling_time_agg_matches_pandas(spark, series_df, series_pdf):
    from pyg_timeseries_spark.operators.rolling import rolling_time_agg

    out = (
        rolling_time_agg(series_df, 300.0)
        .filter(F.col("v").isNotNull())
        .toPandas()
        .sort_values(["key", "ts"])
    )
    for k, g in _per_key(series_pdf):
        gv = g.dropna(subset=["v"])
        s = pd.Series(gv["v"].to_numpy(), index=pd.DatetimeIndex(gv["ts"]))
        # half-open (t-300s, t] == pandas closed='right' rolling
        r = s.rolling("300s", closed="right")
        sub = out[out.key == k]
        assert (sub["tw_cnt"].to_numpy() == r.count().to_numpy()).all()
        assert np.allclose(sub["tw_sum"], r.sum().to_numpy(), atol=1e-9)
        assert np.allclose(sub["tw_mean"], r.mean().to_numpy(), atol=1e-9)
        assert np.allclose(sub["tw_min"], r.min().to_numpy(), atol=1e-12)
        assert np.allclose(sub["tw_max"], r.max().to_numpy(), atol=1e-12)


def test_make_lags_matches_shift(spark, series_df):
    from pyg_timeseries_spark.operators.shift import make_lags, shift

    a = make_lags(series_df, (1, 3)).filter(F.col("v").isNotNull()).toPandas()
    b = shift(series_df, 1).filter(F.col("v").isNotNull()).toPandas()
    c = shift(series_df, 3).filter(F.col("v").isNotNull()).toPandas()
    m = a.merge(b, on=["key", "ts"]).merge(c, on=["key", "ts"],
                                           suffixes=("_1s", "_3s"))
    assert np.allclose(m["lag_1"], m["shift_1s"], equal_nan=True)
    assert np.allclose(m["lag_3"], m["shift_3s"], equal_nan=True)
    # negative lag = lead
    lead = make_lags(series_df, (-1,)).filter(F.col("v").isNotNull()).toPandas()
    assert "lag_-1" in lead.columns


def test_ts_entropy_extremes(spark):
    from pyg_timeseries_spark.operators.ts import ts_entropy

    n = 1000
    rng = np.random.default_rng(3)
    uniform = rng.uniform(0, 1, n)
    const = np.full(n, 2.5)
    spike = np.where(rng.random(n) < 0.99, 0.0, 1.0)  # concentrated
    pdf = pd.concat(
        pd.DataFrame({
            "key": k,
            "ts": pd.date_range("2024-01-01", periods=n, freq="1min"),
            "v": x,
        })
        for k, x in [("uni", uniform), ("const", const), ("spike", spike)]
    )
    got = ts_entropy(spark.createDataFrame(pdf), bins=10).toPandas().set_index("key")["entropy"]
    assert got["const"] == 0.0
    assert got["uni"] == pytest.approx(math.log(10), abs=0.02)
    assert got["spike"] < 0.1 < got["uni"]
    # replica check on the uniform key
    c, _ = np.histogram(uniform, bins=10,
                        range=(uniform.min(), uniform.max()))
    p = c[c > 0] / n
    assert got["uni"] == pytest.approx(-(p * np.log(p)).sum(), rel=1e-9)


def test_kurtosis_and_jb_match_pandas_scipy(spark, series_df, series_pdf):
    from pyg_timeseries_spark.operators.ts import ts_jarque_bera, ts_kurtosis

    ku = ts_kurtosis(series_df, bias=False).toPandas().set_index("key")
    jb = ts_jarque_bera(series_df).toPandas().set_index("key")
    for k, g in _per_key(series_pdf):
        x = pd.Series(g["v"].dropna().to_numpy())
        n = len(x)
        assert ku.loc[k, "ts_kurt"] == pytest.approx(x.kurt(), rel=1e-7)
        m = x.mean()
        m2 = ((x - m) ** 2).mean()
        g1 = ((x - m) ** 3).mean() / m2 ** 1.5
        g2 = ((x - m) ** 4).mean() / m2 ** 2 - 3
        assert jb.loc[k, "skew_b"] == pytest.approx(g1, rel=1e-7)
        assert jb.loc[k, "kurt_b"] == pytest.approx(g2, rel=1e-7)
        assert jb.loc[k, "jb"] == pytest.approx(
            n / 6 * (g1**2 + g2**2 / 4), rel=1e-7
        )


def test_to_grid_regular_and_asof(spark, series_df, series_pdf):
    from pyg_timeseries_spark.operators.fill import to_grid

    out = to_grid(series_df, 600.0).toPandas().sort_values(["key", "ts"])
    for k, g in _per_key(series_pdf):
        gv = g.dropna(subset=["v"]).set_index("ts")["v"]
        sub = out[out.key == k]
        # grid: every 600s, strictly regular, inside [first, last] obs
        tus = sub["ts"].astype("int64").to_numpy()
        assert (np.diff(tus) == 600 * 10**9).all()
        assert (tus % (600 * 10**9) == 0).all()
        assert sub["ts"].iloc[0] >= gv.index[0]
        assert sub["ts"].iloc[-1] <= gv.index[-1]
        # value at each grid point == pandas as-of
        exp = gv.reindex(sub["ts"], method="ffill").to_numpy()
        assert np.allclose(sub["v"].to_numpy(), exp, equal_nan=True)
        # obs_ts is the matched observation's timestamp
        assert (sub["obs_ts"] <= sub["ts"]).all()
