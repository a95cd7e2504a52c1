"""Character-bigram language-model scoring — the lightweight stand-in for
CCNet-style LM-perplexity quality filtering (Wenzek et al. 2020 score
documents with a KenLM 5-gram; the cheap in-engine analog is an add-k
char bigram model, which already separates fluent text from
gibberish/boilerplate and needs no external model artifact).

Everything is two corpus passes of plain column expressions:

* ``char_bigram_counts`` — one wordcount-shaped aggregate over the
  corpus's 2-char windows (map-side partial combine; bigram vocabulary is
  tiny — at most |charset|², parquet/broadcast friendly).
* ``perplexity_score`` — per document, the add-k smoothed cross-entropy
  -mean ln P(c_i | c_{i-1}); the model table broadcasts onto the doc
  bigram explode, so the corpus text never shuffles.  Lower = more like
  the training corpus; filter the high tail as low-quality.

Unseen bigrams fall back to the smoothed floor k / (c(prev)+k·V), and an
unseen context to the uniform 1/V, so scoring a NEW corpus against a
trained model is well-defined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bigrams(text_col):
    """2-char windows of lower(trim(text)) as an array<string>.  Split to
    a char array first (one O(L) pass), then pair adjacent elements with
    O(1) array access — substr(t, i, 2) inside the loop would re-scan the
    UTF8 string to codepoint i each time, an O(L²) hot path on long docs.
    The char array is _let-bound so the split evaluates once, not per
    element (dedup/neardup.py's lambda-scope trap).  Docs whose trimmed
    text has <2 chars yield an empty array — guarding with ``when`` (not
    ``greatest(size-1, 1)``) matters under Spark 4's default ANSI mode,
    where element_at(a, 2) on a 1-element array throws
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT instead of returning NULL."""
    from pyg_timeseries_spark.dedup.neardup import _let

    return _let(
        F.split(F.lower(F.trim(text_col)), ""),
        lambda a: F.when(
            F.size(a) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(a) - 1),
                lambda i: F.concat(F.element_at(a, i), F.element_at(a, i + 1)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def char_bigram_counts(docs: DataFrame, text: str = "text") -> DataFrame:
    """(prev, cur, n) corpus-wide character-bigram counts."""
    bg = docs.select(F.explode(_bigrams(F.col(text))).alias("bg")).filter(
        F.length("bg") == 2
    )
    return (
        bg.select(F.substring("bg", 1, 1).alias("prev"),
                  F.substring("bg", 2, 1).alias("cur"))
        .groupBy("prev", "cur")
        .agg(F.count("*").alias("n"))
    )


def perplexity_score(
    docs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    k: float = 0.5,
    out: str = "xent",
    broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """Per document: (id, n_bigrams, xent) where xent is the add-``k``
    smoothed bigram cross-entropy -mean ln P(cur|prev) under ``model``
    (a char_bigram_counts frame).  Perplexity = exp(xent).

    The model joins onto the per-doc bigram counts as a broadcast only
    while it stays small (``broadcast_rows``, default 2M rows ≈ tens of
    MB).  ASCII/European charsets give |charset|² ≪ that; a CJK-heavy
    corpus can push the bigram table toward ~10⁸ rows, where a forced
    broadcast would OOM the driver — above the threshold we fall back to
    a plain shuffle join on the already-slim (prev, cur) keys."""
    bg = _doc_bigram_counts(docs, id_col, text)
    return _score_counts(bg, model, id_col, k, out, broadcast_rows)


def perplexity_score_self(
    docs: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    k: float = 0.5,
    out: str = "xent",
    broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """``perplexity_score(docs, char_bigram_counts(docs))`` — identical
    values — sharing ONE bigram pass over the corpus.  The naive
    composition explodes the corpus once for the model and again for the
    per-doc counts, and the model subtree is additionally recomputed for
    each of its plan references (stats action, context sums, probability
    join) — ~5 full corpus passes per execution.  Here the per-doc
    counts materialize once (persist) and the corpus-wide model is their
    re-aggregation (sum of per-doc counts == global count), so the text
    is scanned and exploded exactly once."""
    bg = _doc_bigram_counts(docs, id_col, text).persist()
    model = bg.groupBy("prev", "cur").agg(F.sum("__c").alias("n"))
    return _score_counts(bg, model, id_col, k, out, broadcast_rows)


def _doc_bigram_counts(docs: DataFrame, id_col: str, text: str) -> DataFrame:
    """Pre-aggregated per-doc bigram counts (id, prev, cur, __c): natural
    text repeats bigrams heavily, so the model join sees distinct
    (doc, prev, cur) rows (~10-20x fewer than raw bigram occurrences at
    corpus doc lengths)."""
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(_bigrams(F.col(text))).alias("bg"),
        )
        .filter(F.length("bg") == 2)
        .groupBy(
            "id",
            F.substring("bg", 1, 1).alias("prev"),
            F.substring("bg", 2, 1).alias("cur"),
        )
        .agg(F.count("*").alias("__c"))
    )


def _score_counts(bg, model, id_col, k, out, broadcast_rows,
                  op="perplexity_score"):
    """Add-k smoothed bigram cross-entropy of pre-aggregated per-id pair
    counts ``bg`` (id, prev, cur, __c) under ``model`` (prev, cur, n);
    shared by perplexity_score and textops/tokenstats.token_xent.  ``op``
    names the caller in the empty-model error."""
    # The model is REFERENCED three times below (context sums feed both the
    # probability and the floor tables) plus once by the stats action; a
    # localCheckpoint materializes its tiny frame (≤ |charset|² rows) once
    # instead of re-running the corpus aggregate per reference.
    model = model.localCheckpoint(eager=True)
    stats = model.agg(
        F.count("*").alias("rows"), F.count_distinct("cur").alias("v")
    ).first()
    n_model, v = stats["rows"], stats["v"]
    if v == 0 or v is None:
        raise ValueError(f"{op}: empty bigram model")
    _bcast = (lambda d: F.broadcast(d)) if n_model <= broadcast_rows else (lambda d: d)
    ctx = model.groupBy("prev").agg(F.sum("n").alias("n_prev"))
    probs = model.join(ctx, "prev").select(
        "prev", "cur",
        ((F.col("n") + F.lit(k))
         / (F.col("n_prev") + F.lit(k * v))).alias("p"),
    )
    floor_ctx = ctx.select(
        "prev", (F.lit(k) / (F.col("n_prev") + F.lit(k * v))).alias("p_floor")
    )
    scored = (
        bg.join(_bcast(probs), ["prev", "cur"], "left")
        .join(_bcast(floor_ctx), "prev", "left")
        .select(
            "id", "__c",
            F.coalesce(
                F.col("p"),           # seen bigram
                F.col("p_floor"),     # seen context, unseen continuation
                F.lit(1.0 / v),       # unseen context: uniform
            ).alias("__p"),
        )
    )
    return scored.groupBy("id").agg(
        F.sum("__c").alias("n_bigrams"),
        (-(F.sum(F.col("__c") * F.log("__p")) / F.sum("__c"))).alias(out),
    ).select(F.col("id").alias(id_col), "n_bigrams", out)
