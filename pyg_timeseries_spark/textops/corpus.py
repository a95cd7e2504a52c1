"""Corpus curation ops: benchmark decontamination and deterministic
sampling — the two remaining standard steps of a training-data build
(alongside dedup/, textops/analysis.py quality, and textops/packing.py).

Both are pure column-expression plans (no UDFs):

* ``contaminated_docs`` — flag documents sharing any word k-shingle with a
  probe set (eval benchmarks).  Probe shingles are broadcast (benchmarks
  are tiny vs the corpus); document shingles explode map-side and
  semi-join — the corpus never shuffles on anything wider than one
  shingle string.
* ``sample_corpus`` — per-source Bernoulli sampling with a DETERMINISTIC
  md5-derived coin per document: the same (doc, seed) always lands on the
  same side on any cluster, so a corpus mix is reproducible and
  composable (rates are exact in expectation, hash-uniform per doc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyg_timeseries_spark.dedup.neardup import word_shingles


def contaminated_docs(
    docs: DataFrame,
    probes: DataFrame,
    shingle_k: int = 8,
    id_col: str = "doc_id",
    text: str = "text",
    probe_text: str = "text",
) -> DataFrame:
    """(id, n_hits) for every document sharing ≥1 word ``shingle_k``-gram
    with any probe document — the standard n-gram decontamination test.
    ``n_hits`` counts the doc's DISTINCT contaminated shingles."""
    probe_sh = probes.select(
        F.explode(word_shingles(F.col(probe_text), shingle_k)).alias("s")
    ).distinct()
    doc_sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text), shingle_k)).alias("s"),
    )
    return (
        doc_sh.join(F.broadcast(probe_sh), "s")
        .groupBy("id")
        .agg(F.count_distinct("s").alias("n_hits"))
        .select(F.col("id").alias(id_col), "n_hits")
    )


def decontaminate(docs: DataFrame, probes: DataFrame, shingle_k: int = 8,
                  id_col: str = "doc_id", text: str = "text") -> DataFrame:
    """Documents with NO shingle overlap against the probe set."""
    hits = contaminated_docs(docs, probes, shingle_k, id_col, text)
    return docs.join(hits.select(id_col), id_col, "left_anti")


def _coin(id_col, seed: int):
    """Uniform [0, 1e6) integer from md5 — deterministic and reproducible
    in any engine (same trick as the md5 hash families in dedup/)."""
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"),
                               F.lit(f"|{seed}"))), 1, 8
            ), 16, 10,
        ).cast("long"),
        F.lit(1_000_000),
    )


def sample_corpus(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
    seed: int = 0,
    id_col: str = "doc_id",
    source: str = "source",
) -> DataFrame:
    """Deterministic per-source Bernoulli sample: a doc survives iff its
    md5 coin < rate(source)·1e6.  Sources absent from ``rates`` use
    ``default_rate``.  Reproducible on any cluster / engine."""
    rate = F.lit(int(default_rate * 1_000_000))
    for src, r in sorted(rates.items()):
        rate = F.when(F.col(source) == src, F.lit(int(r * 1_000_000))).otherwise(rate)
    return docs.filter(_coin(id_col, seed) < rate)


def sample_fixed_n(
    docs: DataFrame,
    n: int,
    seed: int = 0,
    id_col: str = "doc_id",
    source: str = "source",
) -> DataFrame:
    """Exact-size stratified sample: the ``n`` documents per source with the
    smallest md5 coins (ties broken by id).  Unlike Bernoulli sampling the
    output size is exact, and it is still deterministic, reproducible, and
    composable — shrinking ``n`` yields a subset of the larger sample.

    Scale shape: row_number ≤ n over (source ORDER BY coin, id) becomes a
    WindowGroupLimit — each map task keeps a local top-n heap, so at most
    n rows per source per task reach the exchange."""
    from pyspark.sql import Window

    w = Window.partitionBy(source).orderBy(_coin(id_col, seed).asc(),
                                           F.col(id_col).asc())
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def split_corpus(
    docs: DataFrame,
    fractions: dict[str, float],
    seed: int = 0,
    id_col: str = "doc_id",
    out: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: each doc's md5 coin falls
    into cumulative fraction bands, so the labeling is (a) reproducible on
    any cluster or engine, (b) stable under corpus growth — a doc's split
    never changes when other docs are added or removed — and (c) disjoint
    and exhaustive when the fractions sum to 1 (validated).

    ``fractions`` is ordered by sorted key for a canonical band layout,
    e.g. {"test": 0.1, "train": 0.8, "val": 0.1} → test=[0,0.1),
    train=[0.1,0.9), val=[0.9,1)."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    coin = _coin(id_col, seed)
    expr = None
    acc = 0.0
    for name, frac in sorted(fractions.items()):
        acc += frac
        hi = F.lit(min(int(round(acc * 1_000_000)), 1_000_000))
        expr = (
            F.when(coin < hi, F.lit(name)) if expr is None
            else expr.when(coin < hi, F.lit(name))
        )
    return docs.withColumn(out, expr)


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    token_col: str = "n_tokens",
    seed: int = 0,
    id_col: str = "doc_id",
    source: str = "source",
) -> DataFrame:
    """Source-mixture downsampling to a token budget (the data-mixing step
    of a pretraining build): source ``s`` with target weight ``w_s`` gets
    keep rate ``min(1, budget·w_s / T_s)`` where ``T_s`` is its total token
    count, and each document survives on its deterministic md5 coin.  In
    expectation the surviving mix hits ``budget·w_s`` tokens per source
    (exactly ``T_s`` when the source is under-represented — rates cap at 1;
    re-normalize weights or raise the budget to re-spread the shortfall).

    Returns every doc with (``__rate_ppm``, ``keep``) so callers can audit
    the realized mix; filter on ``keep`` for the sample itself.

    Scale shape: one tiny (source) aggregate broadcast back onto the
    corpus + a coin map — no corpus shuffle.  Rates quantize to integer
    parts-per-million (floor), matching the coin's [0, 1e6) grid, so the
    keep decision is an integer compare reproducible across engines."""
    totals = docs.groupBy(source).agg(
        F.sum(F.col(token_col).cast("long")).alias("__T")
    )
    wmap = F.lit(0.0)
    for src, wgt in sorted(weights.items()):
        wmap = F.when(F.col(source) == src, F.lit(float(wgt))).otherwise(wmap)
    rates = totals.select(
        source,
        F.floor(
            F.least(
                F.lit(1.0),
                F.lit(float(budget_tokens)) * wmap / F.col("__T"),
            ) * 1_000_000
        ).cast("long").alias("__rate_ppm"),
    )
    return docs.join(F.broadcast(rates), source, "left").withColumn(
        "keep", F.coalesce(_coin(id_col, seed) < F.col("__rate_ppm"), F.lit(False))
    )


def boilerplate_coverage(
    docs: DataFrame,
    shingle_k: int = 3,
    min_doc_freq: int = 5,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Per document: how much of it is corpus-level boilerplate.  A word
    ``shingle_k``-gram is boilerplate when it appears in ≥ ``min_doc_freq``
    DISTINCT documents (the CCNet/Gopher-style repeated-template signal —
    navigation chrome, license blurbs, generated headers).  Returns
    (id, n_grams, n_boiler, boiler_frac) counting the doc's distinct
    shingles and the boilerplate subset.

    Scale shape: shingles explode map-side; one (shingle) aggregate
    computes document frequency; the boilerplate set joins back, and AQE
    picks the join from the aggregate's measured size.  Below
    ``spark.sql.adaptive.autoBroadcastJoinThreshold`` (10 MB by default)
    it is a broadcast (boilerplate is by definition the repeated minority
    of the shingle vocabulary), so the corpus text never shuffles and the
    exploded shingle rows never ride an exchange either: the only shuffle
    is the wordcount-shaped doc-frequency aggregate (map-side partial
    combine), plus per-doc count rows.  Above it the join is a shuffled
    one, and the exploded shingle rows go through an exchange to meet the
    boilerplate set.  word_shingles applies
    array_distinct per document, so the exploded (id, shingle) rows are
    ALREADY distinct — an explicit distinct() here would re-shuffle the
    whole shingle table for nothing."""
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text), shingle_k)).alias("s"),
    )
    boiler = (
        sh.groupBy("s").agg(F.count("*").alias("__df"))
        .filter(F.col("__df") >= min_doc_freq).select("s")
        .withColumn("__b", F.lit(1))
    )
    per_doc = sh.join(boiler, "s", "left").groupBy(
        "id"
    ).agg(
        F.count("*").alias("n_grams"),
        F.sum(F.coalesce(F.col("__b"), F.lit(0))).cast("long").alias("n_boiler"),
    )
    return per_doc.select(
        F.col("id").alias(id_col), "n_grams", "n_boiler",
        (F.col("n_boiler") / F.col("n_grams")).alias("boiler_frac"),
    )


def quality_gate(
    docs: DataFrame,
    score_col: str,
    q_lo: float = 0.2,
    q_hi: float | None = None,
    source: str = "source",
) -> DataFrame:
    """Per-SOURCE quantile band filter on a numeric quality signal: keep
    documents whose ``score_col`` sits inside their source's
    [q_lo, q_hi] quantile band (``q_hi=None`` = no upper cut).  The band
    is per-source because score scales are not comparable across crawls
    — a pooled p20 cutoff silently deletes entire low-scoring-but-clean
    sources, the classic corpus-filtering footgun the per-source band
    exists to avoid (Gopher/CCNet filter per slice for the same reason).

    Appends ``__lo`` / ``__hi`` (the source's band bounds, exact
    percentile interpolation) and boolean ``keep``; filter on ``keep``
    for the surviving corpus, or audit the realized per-source drop
    rates from the flags.

    Scale shape: ONE tiny (source) aggregate — exact percentile, two
    values per source — broadcast back onto the corpus, then a filter
    map.  The corpus itself never shuffles, same contract as
    :func:`mixture_sample`."""
    if not 0.0 <= q_lo <= 1.0 or (q_hi is not None and not 0.0 <= q_hi <= 1.0):
        raise ValueError("quantiles must be in [0, 1]")
    if q_hi is not None and q_hi < q_lo:
        raise ValueError("q_hi < q_lo")
    c = F.col(score_col).cast("double")
    bounds = docs.groupBy(source).agg(
        F.expr(f"percentile({score_col}, {q_lo!r})").alias("__lo"),
        (
            F.expr(f"percentile({score_col}, {q_hi!r})")
            if q_hi is not None else F.lit(None).cast("double")
        ).alias("__hi"),
    )
    keep = (c >= F.col("__lo")) & (
        F.lit(q_hi is None) | (c <= F.col("__hi"))
    )
    return docs.join(F.broadcast(bounds), source, "left").withColumn(
        "keep", F.coalesce(keep, F.lit(False))
    )


def source_similarity(
    docs: DataFrame,
    shingle_k: int = 3,
    by: str = "source",
    text: str = "text",
) -> DataFrame:
    """Pairwise Jaccard similarity between the per-``by``-group word
    ``shingle_k``-gram SETS: one row per unordered group pair (a < b)
    WITH A NON-EMPTY INTERSECTION — pairs sharing no shingle are absent
    (the inner self-join yields no row for them); outer-complete against
    the group list if a dense jaccard=0 matrix is needed.  Columns: the
    exact intersection size, both set sizes, and
    jaccard = |∩| / (|A| + |B| − |∩|).  The corpus-overlap matrix a
    mixture designer reads before weighting sources (near-identical
    sources double-count; see also mixture_sample) — the exact
    small-cardinality companion of the KMV-sketch estimates
    (functions/sketches.py) which serve the many-source case.

    Scale shape: text reduces map-side to distinct (group, shingle)
    rows; the intersection is a self equi-join ON THE SHINGLE — per
    shingle it yields one row per group pair containing it, so cost is
    Σ_s m_s² with m_s ≤ |groups|, fine for the handful-of-sources case
    this exact form targets.  The text itself never shuffles; set sizes
    ride a broadcast."""
    # sh is referenced THREE times below (sizes + both self-join sides);
    # without materialization Spark re-runs the explode + distinct per
    # reference.  Persist the already-slim distinct (group, shingle) rows
    # once — at scale this is bounded by the shingle vocabulary × groups,
    # not the corpus (MEMORY_AND_DISK default spills gracefully).
    sh = docs.select(
        F.col(by).alias("g"),
        F.explode(word_shingles(F.col(text), shingle_k)).alias("s"),
    ).distinct().persist()
    sizes = sh.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.g") < F.col("b.g")))
        .groupBy(F.col("a.g").alias("src_a"), F.col("b.g").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(F.broadcast(sizes.withColumnRenamed("g", "src_a")
                               .withColumnRenamed("n", "n_a")), "src_a")
        .join(F.broadcast(sizes.withColumnRenamed("g", "src_b")
                          .withColumnRenamed("n", "n_b")), "src_b")
        .select(
            "src_a", "src_b", "inter", "n_a", "n_b",
            (F.col("inter")
             / (F.col("n_a") + F.col("n_b") - F.col("inter"))).alias("jaccard"),
        )
    )
