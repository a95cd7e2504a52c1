"""Token-ID sequence analytics — quality/diversity statistics and a
bigram LM computed DIRECTLY on the pre-tokenized payload
(doc_id, tokens:array<int>, …), no detokenization round-trip.

This is the tokens-native sibling of textops/analysis.py (which scores
raw text) and textops/lm.py (char-bigram LM): a training-data pipeline
that stores sequences already tokenized wants repetition / diversity /
fluency screens over the id arrays themselves.

Scale shape:

* ``token_diversity`` is completely shuffle-free: per-row array-sort +
  run-length fold in plain column expressions (whole-stage codegen,
  no explode, no Python) — the token arrays never leave their input
  partition.
* ``token_bigram_counts`` is the wordcount shape: adjacent-pair explode
  feeding a map-side-combined hash aggregate; the shuffle carries one
  row per distinct (prev, cur) pair per map task, bounded by the
  bigram vocabulary, not by corpus size.
* ``token_xent`` mirrors textops/lm.py perplexity_score: per-doc
  PRE-AGGREGATED bigram counts join a broadcast (or, above a row
  threshold, shuffled) model — the token arrays themselves never
  shuffle.

Reference parity: the reference engine has no token-sequence analytics
(it is a numeric time-series library); these extend the engine's
LLM-pipeline surface per SURVEY.md §2.9.  Smoothed-LM scoring follows
Wenzek et al. 2020 (CCNet) with add-k smoothing in place of KenLM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyg_timeseries_spark.textops.lm import _score_counts


def _adjacent_pairs(tokens_col):
    """array<struct<prev:int, cur:int>> of adjacent token-id pairs.
    O(1) element_at over the already-materialized array; sequences with
    < 2 tokens yield an empty array (ANSI-safe — no out-of-bounds
    element_at is ever evaluated, textops/lm.py:36-38)."""
    t = tokens_col
    return F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(
                F.element_at(t, i).alias("prev"),
                F.element_at(t, i + 1).alias("cur"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<prev:int,cur:int>>")
    )


def token_diversity(
    seqs: DataFrame,
    tokens: str = "tokens",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Per sequence: ``n_tok``, ``n_distinct``, ``distinct_ratio``,
    ``top_share`` (most frequent id's share) and ``tok_entropy``
    (Shannon entropy of the id distribution, nats) — the tokens-native
    repetition screen (a templated/looping sequence shows low entropy
    and high top_share; Gopher's repetition filters make the same cut
    on words, Rae et al. 2021 §A1.1).

    Run-length trick, all inside one projection: sort the ids, find the
    run STARTS (positions where the value changes), pair each start
    with the next to get run lengths, then fold.  Empty/NULL token
    arrays emit n_tok = 0 and NULL statistics.

    Every intermediate array (sorted ids → starts → lengths) is
    _let-bound: each is referenced several times downstream, and without
    the binding Catalyst re-expands the whole upstream tree per
    reference AND per lambda element — the derived-column select then
    re-sorted the array inside every field extraction (measured 24 s →
    sub-second on the sf0.1 bench corpus; the dedup/neardup.py:_let
    trap, multiplied by nesting)."""
    from pyg_timeseries_spark.textops.analysis import _let

    # NULL ids are dropped up front (the engine's missing=NULL-skip
    # convention): array_sort places NULLs last, where the run-boundary
    # comparison `s[i] != s[i-1]` would evaluate to NULL and silently
    # MERGE the null tail into the preceding run, corrupting every
    # statistic.  n_tok therefore counts valid ids only.
    t = F.filter(
        F.coalesce(F.col(tokens), F.array().cast("array<int>")),
        lambda x: x.isNotNull(),
    )
    n = F.size(t)

    def _stats(s):
        # s: sorted ids (lambda var — evaluated once).  starts: 1-based
        # indices where a new run begins — index 1 always, plus every i in
        # 2..n whose value changed.  Index 1 is concatenated rather than
        # folded into the filter predicate: element_at(s, i-1) at i=1 is
        # an index-0 error in Spark, and the sequence(2, n) leg must be
        # guarded because sequence(2, 1) counts DOWN, not empty.
        changes = F.when(
            F.size(s) >= 2,
            F.filter(
                F.sequence(F.lit(2), F.size(s)),
                lambda i: F.element_at(s, i) != F.element_at(s, i - 1),
            ),
        ).otherwise(F.array().cast("array<int>"))

        def _with_starts(starts):
            # lengths: next start − this start, sentinel n+1 at the end
            nxt = F.concat(
                F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
                F.array(F.size(s) + 1),
            )

            def _with_lengths(lengths):
                nn = F.size(s).cast("double")
                clnc = F.aggregate(
                    lengths,
                    F.lit(0.0),
                    lambda acc, c: acc + c.cast("double")
                    * F.log(c.cast("double")),
                )
                return F.struct(
                    F.size(starts).alias("n_distinct"),
                    (F.array_max(lengths).cast("double") / nn)
                    .alias("top_share"),
                    (F.log(nn) - clnc / nn).alias("tok_entropy"),
                )

            return _let(F.zip_with(starts, nxt, lambda a, b: b - a),
                        _with_lengths)

        return _let(F.concat(F.array(F.lit(1)), changes), _with_starts)

    st = F.when(n >= 1, _let(F.array_sort(t), _stats))
    # materialize the struct ONCE per row, then extract fields — the field
    # extractions reference the materialized column, and inside it every
    # shared array is a lambda variable the optimizer cannot re-inline
    out = seqs.select(
        *id_cols, n.alias("n_tok"), st.alias("__st")
    ).select(
        *id_cols,
        "n_tok",
        F.col("__st")["n_distinct"].alias("n_distinct"),
        (F.col("__st")["n_distinct"].cast("double")
         / F.col("n_tok").cast("double")).alias("distinct_ratio"),
        F.col("__st")["top_share"].alias("top_share"),
        F.col("__st")["tok_entropy"].alias("tok_entropy"),
    )
    return out


def token_bigram_counts(seqs: DataFrame, tokens: str = "tokens") -> DataFrame:
    """(prev, cur, n) corpus-wide adjacent token-id pair counts — the
    model table for :func:`token_xent`.  Wordcount shape: the shuffle is
    bounded by the observed bigram vocabulary."""
    pairs = seqs.select(F.explode(_adjacent_pairs(F.col(tokens))).alias("p"))
    return (
        pairs.select(F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def token_xent(
    seqs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    tokens: str = "tokens",
    k: float = 0.5,
    out: str = "tok_xent",
    broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """Per sequence: (id, n_bigrams, tok_xent) — the add-``k`` smoothed
    token-bigram cross-entropy −mean ln P(cur|prev) under ``model`` (a
    :func:`token_bigram_counts` frame).  Perplexity = exp(tok_xent);
    filter the high tail as noise/gibberish relative to the reference
    corpus (CCNet's quality cut, tokens-native).

    Same plan as textops/lm.py perplexity_score: V = distinct
    continuations, unseen (prev, cur) falls to k / (c(prev) + kV), an
    unseen context to uniform 1/V; per-doc bigrams PRE-AGGREGATE before
    the model join; the model broadcasts only below ``broadcast_rows``
    (a 50k-vocab corpus can reach ~10⁹ observed pairs — past the
    threshold the join shuffles on the slim int pair keys instead)."""
    bg = _doc_pair_counts(seqs, id_col, tokens)
    return _score_counts(bg, model, id_col, k, out, broadcast_rows,
                         op="token_xent")


def token_xent_self(
    seqs: DataFrame,
    id_col: str = "doc_id",
    tokens: str = "tokens",
    k: float = 0.5,
    out: str = "tok_xent",
    broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """``token_xent(seqs, token_bigram_counts(seqs))`` — identical values
    — sharing ONE adjacent-pair pass: the per-doc counts materialize once
    (persist) and the corpus model is their re-aggregation (sum of
    per-doc counts == global count), instead of re-exploding the token
    arrays for the model subtree's every plan reference (~5 corpus
    passes in the naive composition)."""
    bg = _doc_pair_counts(seqs, id_col, tokens).persist()
    model = bg.groupBy("prev", "cur").agg(F.sum("__c").alias("n"))
    return _score_counts(bg, model, id_col, k, out, broadcast_rows,
                         op="token_xent")


def _doc_pair_counts(seqs, id_col, tokens):
    """Pre-aggregated per-doc adjacent-pair counts (id, prev, cur, __c)."""
    return (
        seqs.select(
            F.col(id_col).alias("id"),
            F.explode(_adjacent_pairs(F.col(tokens))).alias("pr"),
        )
        .groupBy("id", F.col("pr.prev").alias("prev"), F.col("pr.cur").alias("cur"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
