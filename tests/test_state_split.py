"""State-split invariant (reference test strategy #3, SURVEY.md §5; reference
tests/test_ts_states.py:39-153): f_(head).data ++ f(tail, state=f_(head).state)
== f(full), bit-for-bit — for EWM kernels, the rollup cascade, and the
incremental checkpoint store.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyg_timeseries_spark.kernels import ewm_numpy
from pyg_timeseries_spark.operators import ewm as M


SPLITS = [1, 7, 100, 250]


@pytest.mark.parametrize("kernel_name", list(ewm_numpy.KERNELS))
def test_kernel_state_split_bitexact(kernel_name, series_pdf):
    """NumPy-kernel level: exact float equality across arbitrary splits."""
    kernel = ewm_numpy.KERNELS[kernel_name]
    a = (
        series_pdf[series_pdf.key == "k0"]
        .sort_values("ts")["v"]
        .to_numpy(float)
    )
    full, _ = kernel(a, 10)
    for k in SPLITS:
        head, s = kernel(a[:k], 10)
        tail, _ = kernel(a[k:], 10, state=s)
        glued = np.concatenate([head, tail])
        assert np.array_equal(glued, full, equal_nan=True), (kernel_name, k)


def test_ewma_spark_state_split(spark, series_df):
    """Spark level: resume from the persisted state table."""
    cut = F.lit("2024-01-01 02:00:00").cast("timestamp")
    head = series_df.filter(F.col("ts") < cut)
    tail = series_df.filter(F.col("ts") >= cut)

    full = M.ewma(series_df, 10).toPandas().sort_values(["key", "ts"])
    _, state = M.ewma_(head, 10)
    resumed = M.ewma(tail, 10, state_df=state).toPandas().sort_values(["key", "ts"])

    full_tail = full[full.ts >= resumed.ts.min()].reset_index(drop=True)
    resumed = resumed.reset_index(drop=True)
    assert len(full_tail) == len(resumed)
    g = resumed["ewma"].to_numpy(float)
    e = full_tail["ewma"].to_numpy(float)
    assert np.array_equal(g, e, equal_nan=True), "resume is not bit-identical"


def test_ewmstd_spark_state_split(spark, series_df):
    cut = F.lit("2024-01-01 01:30:00").cast("timestamp")
    head = series_df.filter(F.col("ts") < cut)
    tail = series_df.filter(F.col("ts") >= cut)
    full = M.ewmstd(series_df, 10).toPandas().sort_values(["key", "ts"])
    _, state = M.ewmstd_(head, 10)
    resumed = M.ewmstd(tail, 10, state_df=state).toPandas().sort_values(["key", "ts"])
    full_tail = full[full.ts >= resumed.ts.min()].reset_index(drop=True)
    g = resumed.reset_index(drop=True)["ewmstd"].to_numpy(float)
    e = full_tail["ewmstd"].to_numpy(float)
    assert np.array_equal(g, e, equal_nan=True)


# ---- every per-key stateful operator, at the Spark level --------------------

def _resume_cases():
    from pyg_timeseries_spark.operators import holt as H
    from pyg_timeseries_spark.operators import kalman as K
    from pyg_timeseries_spark.operators import matrix as MX
    from pyg_timeseries_spark.operators import pairwise as P
    from pyg_timeseries_spark.operators import recurrence as R

    tensor = (["key_i", "key_j"], "series")
    cases = {name: (getattr(M, name), getattr(M, name + "_"), dict(n=10),
                    [name], ["key"], "series")
             for name in ewm_numpy.KERNELS}
    cases.update({
        "kalman": (K.kalman, K.kalman_, dict(q=0.04, r=1.0), ["kalman"],
                   ["key"], "series"),
        "holt": (H.holt, H.holt_, dict(alpha=0.4, beta=0.2, horizon=1.0),
                 ["holt"], ["key"], "series"),
        "holt_winters": (H.holt_winters, H.holt_winters_,
                         dict(alpha=0.3, beta=0.1, gamma=0.2, m=7),
                         ["holt_winters"], ["key"], "series"),
        "zmooth": (R.zmooth, R.zmooth_, dict(n=10, max_move=1.5,
                                             smooth_col="v2"),
                   ["zmooth"], ["key"], "pair"),
        "buffer": (R.buffer, R.buffer_, dict(band="v2", unit=0.5),
                   ["buffer"], ["key"], "pair"),
        "rolling_tover": (R.rolling_tover, R.rolling_tover_, dict(n=20),
                          ["rolling_tover"], ["key"], "series"),
        "ewmxcor": (P.ewmxcor, P.ewmxcor_, dict(n=10, a="v", b="v2"),
                    ["ewmxcor"], ["key"], "pair"),
        "ewmxcovar": (P.ewmxcovar, P.ewmxcovar_, dict(n=10, a="v", b="v2"),
                      ["ewmxcovar"], ["key"], "pair"),
        "ewmxLR": (P.ewmxLR, P.ewmxLR_, dict(n=10, a="v", b="v2"),
                   ["lr_c", "lr_m"], ["key"], "pair"),
        "ewmcorrelation": (P.ewmcorrelation, P.ewmcorrelation_, dict(n=10),
                           ["cor"], *tensor),
        "ewmcovariance": (P.ewmcovariance, P.ewmcovariance_, dict(n=10),
                          ["cov"], *tensor),
        "ewmAAi": (MX.ewmAAi, MX.ewmAAi_, dict(n=20), ["aai"], ["key"],
                   "features"),
        "ewmGLM": (MX.ewmGLM, MX.ewmGLM_, dict(n=20), ["betas"], ["key"],
                   "features"),
        "ewmcorr_psd": (MX.ewmcorr_psd, MX.ewmcorr_psd_, dict(n=20),
                        ["psd_cor"], ["key"], "features"),
    })
    return cases


RESUME_CASES = _resume_cases()


@pytest.fixture(scope="module")
def resume_frames(spark, series_df):
    import pandas as pd

    rng = np.random.default_rng(11)
    pair = series_df.withColumn(
        "v2", F.col("v") * 0.5 + F.sin(F.unix_timestamp("ts") / 600.0)
    )
    t = 240
    pdf = pd.concat([
        pd.DataFrame({
            "key": k,
            "ts": pd.date_range("2024-01-01", periods=t, freq="1min"),
            "features": list(rng.normal(0, 1, (t, 2)).cumsum(axis=0)),
            "v": rng.normal(0, 1, t).cumsum(),
        })
        for k in ("k0", "k1")
    ], ignore_index=True)
    return {"series": series_df, "pair": pair,
            "features": spark.createDataFrame(pdf)}


def _rows(df, keys, outs):
    pdf = df.toPandas().sort_values(keys + ["ts"]).reset_index(drop=True)
    return pdf[keys + ["ts"] + outs]


def _same(x, y):
    if x is None or y is None:
        return x is None and y is None
    return np.array_equal(np.asarray(x, float), np.asarray(y, float),
                          equal_nan=True)


def _assert_bit_identical(got, exp, outs, what):
    assert len(got) == len(exp), what
    assert (got.drop(columns=outs).values == exp.drop(columns=outs).values).all()
    for c in outs:
        bad = [i for i, (x, y) in enumerate(zip(got[c], exp[c]))
               if not _same(x, y)]
        assert not bad, (what, c, bad[:5])


@pytest.mark.parametrize("name", list(RESUME_CASES))
def test_operator_resume_bitexact(name, resume_frames):
    """op_(head) then op(tail, state_df=state) == op(full), bit-for-bit,
    for every per-key stateful operator."""
    op, op_, kw, outs, keys, frame = RESUME_CASES[name]
    df = resume_frames[frame]
    cut = F.lit("2024-01-01 02:00:00").cast("timestamp")
    full = _rows(op(df, **kw), keys, outs)
    head_data, state = op_(df.filter(F.col("ts") < cut), **kw)
    assert set(state.columns) == set(keys) | {"state"}
    resumed = _rows(op(df.filter(F.col("ts") >= cut), state_df=state, **kw),
                    keys, outs)
    head = _rows(head_data, keys, outs)
    cut_ts = resumed.ts.min()
    _assert_bit_identical(head, full[full.ts < cut_ts].reset_index(drop=True),
                          outs, (name, "head"))
    _assert_bit_identical(resumed,
                          full[full.ts >= cut_ts].reset_index(drop=True),
                          outs, (name, "tail"))


@pytest.mark.parametrize("name", list(RESUME_CASES))
def test_plain_op_ships_no_state_column(name, resume_frames):
    """A plain (stateless) call moves no state column through the Python
    boundary: neither the null prior nor the packed output state."""
    import contextlib
    import io

    op, _, kw, _, _, frame = RESUME_CASES[name]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        op(resume_frames[frame], **kw).explain()
    nodes = [ln for ln in buf.getvalue().splitlines()
             if "FlatMapGroupsInPandas" in ln]
    assert nodes, buf.getvalue()
    for ln in nodes:
        assert "__state" not in ln and "__prior_state" not in ln, ln
