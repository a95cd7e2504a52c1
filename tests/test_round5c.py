"""Round-5 third-batch operators: ts_periodogram, ts_spearman, ts_runs,
token_diversity / token_xent (token-id bigram LM), bm25_score,
embedding_stats, kmeans_profile.

Numpy/pandas replicas are the ground truth (SURVEY.md §5); the driver's
DuckDB value oracles cover the same ops end-to-end at sf0.01."""

import collections
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _per_key(pdf):
    for k, g in pdf.sort_values(["key", "ts"]).groupby("key"):
        yield k, g.reset_index(drop=True)


# ---------------------------------------------------------------- spectral


def test_periodogram_matches_numpy(spark, series_df, series_pdf):
    from pyg_timeseries_spark.operators.ts import ts_periodogram

    periods = (4, 8, 16)
    out = ts_periodogram(series_df, periods=periods).toPandas().set_index("key")
    for k, g in _per_key(series_pdf):
        x = g["v"].dropna().to_numpy()
        t = np.arange(len(x), dtype=float)
        xc = x - x.mean()
        for p in periods:
            om = 2.0 * math.pi / p
            C = float(np.sum(xc * np.cos(om * t)))
            S = float(np.sum(xc * np.sin(om * t)))
            exp = (C * C + S * S) / len(x)
            assert abs(out.loc[k, f"pgram_{p}"] - exp) < 1e-8


def test_periodogram_detects_planted_cycle(spark):
    n, p = 256, 8
    t = np.arange(n)
    pdf = pd.DataFrame({
        "key": "k",
        "ts": pd.date_range("2024-01-01", periods=n, freq="1min"),
        "v": np.sin(2 * math.pi * t / p) + 0.01 * np.cos(t),
    })
    from pyg_timeseries_spark.operators.ts import ts_periodogram

    row = ts_periodogram(spark.createDataFrame(pdf), periods=(4, 8, 16)).first()
    assert row["pgram_8"] > 50 * row["pgram_4"]
    assert row["pgram_8"] > 50 * row["pgram_16"]


def test_periodogram_short_series_null(spark):
    pdf = pd.DataFrame({"key": ["k"], "ts": [pd.Timestamp("2024-01-01")],
                        "v": [1.0]})
    from pyg_timeseries_spark.operators.ts import ts_periodogram

    row = ts_periodogram(spark.createDataFrame(pdf), periods=(4,)).first()
    assert row["pgram_4"] is None


# ---------------------------------------------------------------- spearman


def _pair_pdf(series_pdf, seed=7):
    rng = np.random.default_rng(seed)
    pdf = series_pdf.rename(columns={"v": "x"}).copy()
    pdf["y"] = rng.normal(0, 1, len(pdf)) + np.nan_to_num(pdf["x"]) * 0.5
    return pdf


def test_spearman_matches_pandas(spark, series_pdf):
    from pyg_timeseries_spark.operators.ts import ts_spearman

    pdf = _pair_pdf(series_pdf)
    df = spark.createDataFrame(pdf).withColumn(
        "x", F.when(F.isnan("x"), F.lit(None)).otherwise(F.col("x"))
    )
    out = ts_spearman(df).toPandas().set_index("key")
    for k, g in pdf.groupby("key"):
        gg = g.dropna(subset=["x", "y"])
        exp = gg["x"].rank(method="average").corr(gg["y"].rank(method="average"))
        assert abs(out.loc[k, "spearman"] - exp) < 1e-10


def test_spearman_monotone_invariance(spark, series_pdf):
    """rho(x, f(x)) == 1 for strictly increasing f — the property that
    distinguishes Spearman from Pearson."""
    from pyg_timeseries_spark.operators.ts import ts_spearman

    pdf = series_pdf.rename(columns={"v": "x"}).copy()
    df = (
        spark.createDataFrame(pdf)
        .withColumn("x", F.when(F.isnan("x"), F.lit(None)).otherwise(F.col("x")))
        .withColumn("y", F.exp(F.col("x") / 4))
    )
    for r in ts_spearman(df).collect():
        assert abs(r["spearman"] - 1.0) < 1e-12


def test_spearman_ties_average_rank(spark):
    pdf = pd.DataFrame({
        "key": "k",
        "x": [1.0, 1.0, 2.0, 3.0, 3.0, 4.0],
        "y": [2.0, 1.0, 3.0, 5.0, 4.0, 6.0],
    })
    from pyg_timeseries_spark.operators.ts import ts_spearman

    got = ts_spearman(spark.createDataFrame(pdf)).first()["spearman"]
    exp = pdf["x"].rank(method="average").corr(pdf["y"].rank(method="average"))
    assert abs(got - exp) < 1e-12


# ---------------------------------------------------------------- runs


def test_runs_matches_python(spark, series_df, series_pdf):
    from pyg_timeseries_spark.operators.ts import ts_runs

    out = ts_runs(series_df).toPandas().set_index("key")
    for k, g in _per_key(series_pdf):
        x = g["v"].dropna().to_numpy()
        ups = [1 if b > a else 0 for a, b in zip(x, x[1:])]
        runs = [len(list(grp)) for _, grp in __import__("itertools").groupby(ups)]
        dirs = [d for d, _ in __import__("itertools").groupby(ups)]
        r = out.loc[k]
        assert r["n_moves"] == len(ups)
        assert r["n_up"] == sum(ups)
        assert r["n_runs"] == len(runs)
        assert r["n_reversals"] == len(runs) - 1
        up_runs = [n for n, d in zip(runs, dirs) if d == 1]
        dn_runs = [n for n, d in zip(runs, dirs) if d == 0]
        assert r["longest_up"] == (max(up_runs) if up_runs else None)
        assert r["longest_down"] == (max(dn_runs) if dn_runs else None)


def test_runs_monotone_series(spark):
    pdf = pd.DataFrame({
        "key": "k",
        "ts": pd.date_range("2024-01-01", periods=10, freq="1min"),
        "v": np.arange(10.0),
    })
    from pyg_timeseries_spark.operators.ts import ts_runs

    r = ts_runs(spark.createDataFrame(pdf)).first()
    assert (r["n_moves"], r["n_up"], r["n_runs"], r["longest_up"],
            r["longest_down"], r["n_reversals"]) == (9, 9, 1, 9, None, 0)


# ---------------------------------------------------------------- token ops


@pytest.fixture(scope="module")
def token_seqs(spark):
    rows = [
        (0, [5, 5, 5, 5]),            # degenerate: one distinct id
        (1, [1, 2, 3, 4, 5, 6]),      # all distinct
        (2, [7, 8, 7, 8, 7, 8, 9]),   # looping
        (3, []),                      # empty
        (4, [42]),                    # single token: no bigrams
        (5, [1, 2, 1, 2, 3, 3, 3]),
    ]
    return spark.createDataFrame(rows, "doc_id long, tokens array<int>")


def test_token_diversity_matches_python(spark, token_seqs):
    from pyg_timeseries_spark.textops.tokenstats import token_diversity

    out = {r["doc_id"]: r for r in token_diversity(token_seqs).collect()}
    for row in token_seqs.collect():
        i, toks = row["doc_id"], row["tokens"]
        r = out[i]
        assert r["n_tok"] == len(toks)
        if not toks:
            assert r["n_distinct"] is None and r["tok_entropy"] is None
            continue
        c = collections.Counter(toks)
        n = len(toks)
        assert r["n_distinct"] == len(c)
        assert abs(r["distinct_ratio"] - len(c) / n) < 1e-12
        assert abs(r["top_share"] - max(c.values()) / n) < 1e-12
        exp_h = math.log(n) - sum(v * math.log(v) for v in c.values()) / n
        assert abs(r["tok_entropy"] - exp_h) < 1e-12


def test_token_diversity_bounds(spark, token_seqs):
    from pyg_timeseries_spark.textops.tokenstats import token_diversity

    for r in token_diversity(token_seqs).collect():
        if r["n_tok"]:
            assert 0 <= r["tok_entropy"] <= math.log(max(r["n_tok"], 2)) + 1e-12
            assert 0 < r["top_share"] <= 1.0


def test_token_xent_matches_python(spark, token_seqs):
    from pyg_timeseries_spark.textops.tokenstats import (
        token_bigram_counts, token_xent)

    model_rows = token_bigram_counts(token_seqs).collect()
    model = {(r["prev"], r["cur"]): r["n"] for r in model_rows}
    v = len({c for _, c in model})
    ctx = collections.Counter()
    for (p, _), n in model.items():
        ctx[p] += n
    k = 0.5

    def prob(p, c):
        if (p, c) in model:
            return (model[(p, c)] + k) / (ctx[p] + k * v)
        if p in ctx:
            return k / (ctx[p] + k * v)
        return 1.0 / v

    out = {r["doc_id"]: r for r in
           token_xent(token_seqs, token_bigram_counts(token_seqs)).collect()}
    for row in token_seqs.collect():
        toks = row["tokens"]
        pairs = list(zip(toks, toks[1:]))
        if len(pairs) == 0:
            assert row["doc_id"] not in out  # no bigrams -> no score row
            continue
        exp = -sum(math.log(prob(p, c)) for p, c in pairs) / len(pairs)
        r = out[row["doc_id"]]
        assert r["n_bigrams"] == len(pairs)
        assert abs(r["tok_xent"] - exp) < 1e-12


def test_token_xent_unseen_context_uniform(spark, token_seqs):
    from pyg_timeseries_spark.textops.tokenstats import (
        token_bigram_counts, token_xent)

    model = token_bigram_counts(token_seqs)
    v = model.select("cur").distinct().count()
    novel = spark.createDataFrame(
        [(99, [1000, 1001, 1002])], "doc_id long, tokens array<int>"
    )
    r = token_xent(novel, model).first()
    assert abs(r["tok_xent"] - math.log(v)) < 1e-12


def test_token_ops_empty_model_raises(spark):
    from pyg_timeseries_spark.textops.tokenstats import (
        token_bigram_counts, token_xent)

    empty = spark.createDataFrame([], "doc_id long, tokens array<int>")
    with pytest.raises(ValueError, match="empty"):
        token_xent(empty, token_bigram_counts(empty))


def test_token_diversity_shuffle_free(spark, token_seqs):
    from pyg_timeseries_spark.textops.tokenstats import token_diversity
    from tests.test_plan_shapes import plan_of

    assert "Exchange" not in plan_of(token_diversity(token_seqs))


# ---------------------------------------------------------------- bm25


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (0, "the cat sat on the mat", "a"),
        (1, "the model trained on data and more data", "a"),
        (2, "data data data model", "b"),
        (3, "nothing relevant here at all whatsoever", "b"),
        (4, "a short doc about the model", "b"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_bm25_matches_python(spark, docs_df):
    from pyg_timeseries_spark.textops.bm25 import bm25_score

    terms = ["data", "model"]
    k1, b = 1.2, 0.75
    docs = {r["doc_id"]: r["text"].lower().split() for r in docs_df.collect()}
    N = len(docs)
    avgdl = sum(len(w) for w in docs.values()) / N
    df_t = {t: sum(1 for w in docs.values() if t in w) for t in terms}

    def idf(t):
        return math.log((N - df_t[t] + 0.5) / (df_t[t] + 0.5) + 1.0)

    out = {r["doc_id"]: r for r in bm25_score(docs_df, terms).collect()}
    for i, words in docs.items():
        hits = [t for t in terms if t in words]
        if not hits:
            assert i not in out
            continue
        exp = sum(
            idf(t) * words.count(t) * (k1 + 1)
            / (words.count(t) + k1 * (1 - b + b * len(words) / avgdl))
            for t in hits
        )
        assert out[i]["n_hits"] == len(hits)
        assert abs(out[i]["bm25"] - exp) < 1e-12


def test_bm25_rare_term_scores_higher(spark, docs_df):
    """Equal tf and dl -> the rarer term contributes more (idf ordering)."""
    from pyg_timeseries_spark.textops.bm25 import bm25_score

    rows = [(i, "common word filler", "s") for i in range(8)]
    rows += [(8, "common rare filler", "s")]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    sc = {r["doc_id"]: r["bm25"] for r in bm25_score(d, ["common"]).collect()}
    sr = {r["doc_id"]: r["bm25"] for r in bm25_score(d, ["rare"]).collect()}
    assert sr[8] > sc[8]


def test_bm25_empty_terms_raises(spark, docs_df):
    from pyg_timeseries_spark.textops.bm25 import bm25_score

    with pytest.raises(ValueError):
        bm25_score(docs_df, [])


# ---------------------------------------------------------------- embeddings


def test_embedding_stats_matches_numpy(spark):
    from pyg_timeseries_spark.similarity.embstats import embedding_stats

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    mat = np.array([r["embedding"] for r in emb.collect()], dtype=np.float64)
    out = embedding_stats(emb).orderBy("dim").collect()
    assert len(out) == mat.shape[1]
    for r in out:
        col = mat[:, r["dim"]]
        assert r["n"] == len(col) and r["n_bad"] == 0
        assert abs(r["mean"] - col.mean()) < 1e-9
        assert abs(r["std"] - col.std(ddof=1)) < 1e-9
        assert r["min"] == pytest.approx(col.min(), abs=1e-12)
        assert r["max"] == pytest.approx(col.max(), abs=1e-12)


def test_embedding_stats_counts_bad_elements(spark):
    from pyg_timeseries_spark.similarity.embstats import embedding_stats

    rows = [
        (0, [1.0, float("nan")]),
        (1, [2.0, float("inf")]),
        (2, None),                      # whole-row NULL: skipped
        (3, [3.0, 4.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["dim"]: r for r in embedding_stats(df).collect()}
    assert out[0]["n"] == 3 and out[0]["n_bad"] == 0
    assert out[1]["n"] == 1 and out[1]["n_bad"] == 2
    assert out[1]["mean"] == pytest.approx(4.0)


def test_kmeans_profile_matches_numpy(spark):
    from pyg_timeseries_spark.similarity.ivf import (
        kmeans_profile, refine_centroids, seed_centroids)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    k = 8
    cents = refine_centroids(emb, seed_centroids(emb, k), 1,
                             id_col="vec_id", vec="embedding")
    mat = np.array(
        [np.floor(np.array(r["embedding"], dtype=np.float64) * 1000)
         for r in emb.collect()], dtype=np.int64)
    C = np.array(cents, dtype=np.int64)
    d = ((mat[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    assign = d.argmin(axis=1)  # argmin takes the first min: the tie-break
    best = d.min(axis=1)
    out = {r["cluster"]: r for r in
           kmeans_profile(emb, n_clusters=k, kmeans_iters=1).collect()}
    assert sum(r["n"] for r in out.values()) == mat.shape[0]
    for c in set(assign.tolist()):
        assert out[c]["n"] == int((assign == c).sum())
        assert out[c]["inertia"] == int(best[assign == c].sum())


def test_kmeans_corpus_never_shuffles(spark):
    """The profile aggregate groups on <=k keys after a map-only
    assignment: no window, no join on the corpus side."""
    from pyg_timeseries_spark.similarity.ivf import kmeans_profile
    from tests.test_plan_shapes import plan_of

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = plan_of(kmeans_profile(emb, n_clusters=4, kmeans_iters=0))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # one exchange: the <=k-row partial-aggregate shuffle
    assert plan.count("Exchange hashpartitioning") == 1, plan


# ---------------------------------------------------------------- plan shapes


def test_new_ts_ops_single_exchange(spark, series_df):
    from pyg_timeseries_spark.operators.ts import (
        ts_periodogram, ts_runs, ts_spearman)
    from tests.test_plan_shapes import plan_of

    assert plan_of(
        ts_periodogram(series_df, periods=(4, 8))
    ).count("Exchange hashpartitioning") == 1
    assert plan_of(ts_runs(series_df)).count("Exchange hashpartitioning") == 1
    pair = series_df.select("key", F.col("v").alias("x"),
                            (F.col("v") * 2).alias("y"))
    assert plan_of(ts_spearman(pair)).count("Exchange hashpartitioning") == 1


# ---------------------------------------------------------------- batch 7


def test_xcf_lag0_is_pearson(spark, series_pdf):
    from pyg_timeseries_spark.operators.ts import ts_xcf

    pdf = _pair_pdf(series_pdf)
    df = spark.createDataFrame(pdf).withColumn(
        "x", F.when(F.isnan("x"), F.lit(None)).otherwise(F.col("x"))
    )
    out = ts_xcf(df, lags=(0,)).toPandas().set_index("key")
    for k, g in pdf.groupby("key"):
        gg = g.dropna(subset=["x", "y"])
        assert abs(out.loc[k, "xcf_0"] - gg["x"].corr(gg["y"])) < 1e-10


def test_xcf_matches_numpy(spark, series_pdf):
    from pyg_timeseries_spark.operators.ts import ts_xcf

    pdf = _pair_pdf(series_pdf)
    df = spark.createDataFrame(pdf).withColumn(
        "x", F.when(F.isnan("x"), F.lit(None)).otherwise(F.col("x"))
    )
    out = ts_xcf(df, lags=(1, 3)).toPandas().set_index("key")
    for k, g in pdf.groupby("key"):
        gg = g.dropna(subset=["x", "y"]).sort_values("ts")
        x, y = gg["x"].to_numpy(), gg["y"].to_numpy()
        mx, my = x.mean(), y.mean()
        den = math.sqrt(((x - mx) ** 2).sum() * ((y - my) ** 2).sum())
        for lag in (1, 3):
            num = ((x[lag:] - mx) * (y[:-lag] - my)).sum()
            assert abs(out.loc[k, f"xcf_{lag}"] - num / den) < 1e-10


def test_xcf_detects_planted_lead(spark):
    """y leads x by 2 steps -> xcf_2 dominates."""
    from pyg_timeseries_spark.operators.ts import ts_xcf

    rng = np.random.default_rng(3)
    y = rng.normal(0, 1, 400)
    x = np.roll(y, 2) + 0.05 * rng.normal(0, 1, 400)
    pdf = pd.DataFrame({
        "key": "k",
        "ts": pd.date_range("2024-01-01", periods=400, freq="1min"),
        "x": x, "y": y,
    }).iloc[2:]
    r = ts_xcf(spark.createDataFrame(pdf), lags=(0, 1, 2, 3)).first()
    assert r["xcf_2"] > 0.9
    assert r["xcf_2"] > 3 * max(abs(r["xcf_0"]), abs(r["xcf_1"]), abs(r["xcf_3"]))


def test_hill_matches_numpy(spark, series_df, series_pdf):
    from pyg_timeseries_spark.operators.ts import ts_hill

    k = 15
    out = ts_hill(series_df.withColumn("v", F.abs("v")), k=k).toPandas().set_index("key")
    for key, g in _per_key(series_pdf):
        x = np.sort(np.abs(g["v"].dropna().to_numpy()))[::-1]
        exp = np.mean(np.log(x[:k])) - math.log(x[k])
        assert abs(out.loc[key, "hill_gamma"] - exp) < 1e-12
        assert abs(out.loc[key, "hill_alpha"] - 1.0 / exp) < 1e-9


def test_hill_pareto_recovers_alpha(spark):
    """Pareto(alpha) tail: the Hill estimate of gamma converges to
    1/alpha."""
    from pyg_timeseries_spark.operators.ts import ts_hill

    rng = np.random.default_rng(11)
    alpha = 2.5
    v = (1.0 / rng.random(20000)) ** (1.0 / alpha)  # Pareto(alpha), xm=1
    pdf = pd.DataFrame({
        "key": "k",
        "ts": pd.date_range("2024-01-01", periods=len(v), freq="1s"),
        "v": v,
    })
    r = ts_hill(spark.createDataFrame(pdf), k=1000).first()
    assert abs(r["hill_alpha"] - alpha) < 0.3


def test_hill_insufficient_data_null(spark):
    from pyg_timeseries_spark.operators.ts import ts_hill

    pdf = pd.DataFrame({
        "key": "k",
        "ts": pd.date_range("2024-01-01", periods=5, freq="1min"),
        "v": [1.0, 2.0, 3.0, 4.0, 5.0],
    })
    r = ts_hill(spark.createDataFrame(pdf), k=10).first()
    assert r["hill_gamma"] is None and r["hill_alpha"] is None


def test_quantile_bucket_matches_pandas(spark, series_df, series_pdf):
    from pyg_timeseries_spark.operators.ts import quantile_bucket

    out = quantile_bucket(series_df, 4).toPandas()
    valid = out[out["v"].notna()]
    for k, g in valid.groupby("key"):
        g = g.sort_values(["v", "ts"]).reset_index(drop=True)
        n = len(g)
        # SQL NTILE: first (n % 4) buckets get ceil(n/4), rest floor(n/4)
        big, base = n % 4, n // 4
        exp = []
        for b in range(1, 5):
            exp += [b] * (base + (1 if b <= big else 0))
        assert g["bucket"].tolist() == exp
    nulls = out[out["v"].isna()]
    assert len(nulls) > 0 and nulls["bucket"].isna().all()


def test_quantile_bucket_equal_counts(spark, series_df):
    from pyg_timeseries_spark.operators.ts import quantile_bucket

    out = quantile_bucket(series_df, 10).filter(F.col("bucket").isNotNull())
    counts = out.groupBy("key", "bucket").count().collect()
    per_key = {}
    for r in counts:
        per_key.setdefault(r["key"], []).append(r["count"])
    for k, cs in per_key.items():
        assert max(cs) - min(cs) <= 1, (k, cs)


def test_source_similarity_matches_python(spark, docs_df):
    from pyg_timeseries_spark.textops.corpus import source_similarity

    texts = {}
    for r in docs_df.collect():
        texts.setdefault(r["source"], []).append(r["text"])

    def shingles(docs, k=3):
        out = set()
        for t in docs:
            w = t.lower().strip().split()
            if len(w) <= k - 1:
                out.add(" ".join(w))
            for i in range(len(w) - k + 1):
                out.add(" ".join(w[i:i + k]))
        return out

    sets = {g: shingles(d) for g, d in texts.items()}
    out = {(r["src_a"], r["src_b"]): r for r in
           source_similarity(docs_df).collect()}
    for ga in sets:
        for gb in sets:
            if ga >= gb:
                continue
            inter = len(sets[ga] & sets[gb])
            if inter == 0:
                assert (ga, gb) not in out
                continue
            r = out[(ga, gb)]
            assert r["inter"] == inter
            assert r["n_a"] == len(sets[ga]) and r["n_b"] == len(sets[gb])
            exp_j = inter / (len(sets[ga]) + len(sets[gb]) - inter)
            assert abs(r["jaccard"] - exp_j) < 1e-12


def test_source_similarity_identical_sources(spark):
    from pyg_timeseries_spark.textops.corpus import source_similarity

    rows = [(0, "alpha beta gamma delta", "a"),
            (1, "alpha beta gamma delta", "b")]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    r = source_similarity(d).first()
    assert r["jaccard"] == 1.0 and r["inter"] == r["n_a"] == r["n_b"]


# ---------------------------------------------------------------- batch 8


def test_psi_timeline_matches_psi_drift(spark, series_df):
    """On any single bucket pair the timeline equals psi_drift with the
    same edges (same Laplace formula, different plan)."""
    from pyg_timeseries_spark.functions.drift import psi_drift, psi_timeline
    from pyg_timeseries_spark.operators.resample import time_bucket_col

    width = 3600.0
    tl = {(r["key"], r["bucket"]): r for r in
          psi_timeline(series_df, width_s=width, lo=-3.0, hi=3.0,
                       bins=8).collect()}
    assert tl, "timeline empty"
    b = series_df.withColumn(
        "__b", time_bucket_col(series_df, "ts", width)
    )
    buckets = sorted({r["bucket"] for r in tl.values()})
    # check the first three pairs per key against psi_drift
    import datetime

    checked = 0
    for (k, bkt), row in sorted(tl.items())[:6]:
        prev = bkt - datetime.timedelta(seconds=width)
        pd_row = psi_drift(
            b.filter(F.col("key") == k),
            ref=F.col("__b") == F.lit(prev),
            cur=F.col("__b") == F.lit(bkt),
            lo=-3.0, hi=3.0, bins=8,
        ).first()
        assert pd_row is not None
        assert abs(pd_row["psi"] - row["psi"]) < 1e-12
        assert (pd_row["n_ref"], pd_row["n_cur"]) == (row["n_ref"], row["n_cur"])
        checked += 1
    assert checked


def test_psi_timeline_identical_distribution_near_zero(spark):
    """The same values every bucket -> PSI exactly 0."""
    from pyg_timeseries_spark.functions.drift import psi_timeline

    rows = []
    for day in range(4):
        for i in range(50):
            rows.append(("k", pd.Timestamp("2024-01-01") +
                         pd.Timedelta(days=day, minutes=i), float(i % 10)))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["key", "ts", "v"]))
    out = psi_timeline(df, width_s=86400.0, lo=0.0, hi=10.0, bins=10).collect()
    assert len(out) == 3
    for r in out:
        assert abs(r["psi"]) < 1e-15


def test_psi_timeline_gap_breaks_chain(spark):
    from pyg_timeseries_spark.functions.drift import psi_timeline

    rows = []
    for day in (0, 1, 3):  # day 2 missing
        for i in range(20):
            rows.append(("k", pd.Timestamp("2024-01-01") +
                         pd.Timedelta(days=day, minutes=i), float(i)))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["key", "ts", "v"]))
    out = psi_timeline(df, width_s=86400.0, lo=0.0, hi=20.0).collect()
    # only day1-vs-day0 pairs; day3 has no day2 predecessor
    assert len(out) == 1 and out[0]["bucket"] == pd.Timestamp("2024-01-02")


def test_embedding_quantize_roundtrip(spark):
    from pyg_timeseries_spark.similarity.embstats import embedding_quantize

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = embedding_quantize(emb).collect()
    assert len(out) == emb.count()
    for r in out[:50]:
        x = np.array(r["embedding"], dtype=np.float64)
        q = np.array(r["qvec"], dtype=np.int64)
        sc = r["scale"]
        assert np.abs(q).max() <= 127
        exp_q = np.floor(x / sc + 0.5).astype(np.int64)
        assert (q == exp_q).all()
        exp_mse = float(((x - exp_q * sc) ** 2).mean())
        assert abs(r["recon_mse"] - exp_mse) < 1e-15
        # reconstruction error bounded by half a quantization step
        assert r["recon_mse"] <= (sc / 2) ** 2 + 1e-18


def test_embedding_quantize_zero_vector(spark):
    from pyg_timeseries_spark.similarity.embstats import embedding_quantize

    df = spark.createDataFrame([(0, [0.0, 0.0, 0.0])],
                               "vec_id long, embedding array<double>")
    r = embedding_quantize(df).first()
    assert r["scale"] == 0.0 and list(r["qvec"]) == [0, 0, 0]
    assert r["recon_mse"] == 0.0


def test_embedding_quantize_map_only(spark):
    from pyg_timeseries_spark.similarity.embstats import embedding_quantize
    from tests.test_plan_shapes import plan_of

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert "Exchange" not in plan_of(embedding_quantize(emb))


def test_token_diversity_null_ids_skipped(spark):
    """NULL ids sort last, where the run-boundary comparison would
    return NULL and silently merge them into the previous run — they
    must be dropped up front (missing = NULL-skip convention)."""
    from pyg_timeseries_spark.textops.tokenstats import token_diversity

    rows = [(0, [1, None, None]), (1, [None]), (2, [2, 2, None, 3])]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    out = {r["doc_id"]: r for r in token_diversity(df).collect()}
    assert (out[0]["n_tok"], out[0]["n_distinct"]) == (1, 1)
    assert out[1]["n_tok"] == 0 and out[1]["n_distinct"] is None
    assert (out[2]["n_tok"], out[2]["n_distinct"]) == (3, 2)
    assert abs(out[2]["top_share"] - 2 / 3) < 1e-12


_MULTI_KEY_OPS = {
    "ts_agg": {}, "ts_std": {}, "ts_skew": {}, "ts_kurtosis": {},
    "ts_jarque_bera": {}, "ts_cor": {"a": "x", "b": "y"},
    "ts_xcf": {"lags": (0, 1)}, "ts_acf": {"lags": (1, 2)}, "ts_ar2": {},
    "ts_ljungbox": {}, "ts_variance_ratio": {}, "ts_hurst": {},
    "ts_halflife": {}, "ts_periodogram": {"periods": (4,)},
}


@pytest.mark.parametrize("op", list(_MULTI_KEY_OPS))
def test_ts_ops_multi_key(spark, series_df, op):
    """Every ts_* built on the shared sum builders (plus ts_halflife and
    ts_periodogram) accepts a key LIST: grouping by (key, constant k2)
    gives the single-key result plus the constant k2 column."""
    from pyg_timeseries_spark.operators import ts as TS

    df = series_df.select("key", "ts", "v", F.col("v").alias("x"),
                          (F.col("v") * 2 + F.minute("ts")).alias("y"))
    fn, kw = getattr(TS, op), _MULTI_KEY_OPS[op]
    single = fn(df, key="key", **kw).toPandas().assign(k2="a")
    multi = fn(df.withColumn("k2", F.lit("a")), key=["key", "k2"], **kw).toPandas()
    assert list(multi.columns[:2]) == ["key", "k2"] and len(multi) == 3
    pd.testing.assert_frame_equal(
        multi.sort_values("key").reset_index(drop=True),
        single[multi.columns].sort_values("key").reset_index(drop=True),
        check_exact=False, rtol=1e-12,
    )
