"""Deterministic synthetic `sequences` table — the engine's authoritative
input shape (BASELINE.json input_hint):

    (doc_id: string, tokens: array<int32>, n_tok: int32, source: string)

Generation is fully distributed and seed-free-deterministic: every column is
a pure function of (source, seq) via xxhash64, so the same (sf, args) always
produce identical rows on any cluster size — no driver-side data, no RNG
state, no shuffle.  At 10^12 rows this is just `spark.range` partitions
streaming through codegen.

Time axis (FIXTURES.md F1): ``doc_id = f"{source}-{seq:012d}"`` with seq
monotone per source → ``ts = epoch + seq * interval``.  Sources are skewed
(web holds ~50% of rows) to exercise salting; a deterministic ~10% of seqs
are dropped to create bucket gaps for the gap-fill operators.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB = 50_257
MAX_TOK = 256  # cap per-row token count so sf0.1-scale tests stay light
EPOCH = "2024-01-01 00:00:00"

# (source, fraction) — web deliberately hot (~50%): the skew fixture.
SOURCES = [
    ("web", 0.50),
    ("code", 0.20),
    ("books", 0.15),
    ("wiki", 0.10),
    ("chat", 0.05),
]


def sequences(
    spark: SparkSession,
    n_rows: int = 100_000,
    interval_s: int = 1,
    gap_frac: float = 0.10,
    with_tokens: bool = True,
    n_partitions: int | None = None,
) -> DataFrame:
    """Build the deterministic sequences table with ``n_rows`` total rows
    (split across sources by the skewed fractions above, before gap drops).
    """
    parts = []
    for source, frac in SOURCES:
        n_src = max(1, int(n_rows * frac))
        rng = spark.range(
            0, n_src, 1,
            numPartitions=max(1, (n_partitions or spark.sparkContext.defaultParallelism)),
        )
        seq = F.col("id")
        doc_id = F.concat(F.lit(source + "-"), F.lpad(seq.cast("string"), 12, "0"))
        # deterministic pseudo-randomness: xxhash64 of (doc_id, salt)
        h = lambda salt: F.xxhash64(doc_id, F.lit(salt))  # noqa: E731
        n_tok = (F.pmod(h("n_tok"), F.lit(MAX_TOK)) + 1).cast("int")
        gap = F.pmod(h("gap"), F.lit(1_000_000)) < int(gap_frac * 1_000_000)
        ts = F.timestamp_seconds(
            F.unix_timestamp(F.lit(EPOCH)) + seq * interval_s
        )
        cols = [
            doc_id.alias("doc_id"),
            n_tok.alias("n_tok"),
            F.lit(source).alias("source"),
            seq.alias("seq"),
            ts.alias("ts"),
        ]
        if with_tokens:
            tokens = F.transform(
                F.sequence(F.lit(0), n_tok - 1),
                lambda i: F.pmod(F.xxhash64(doc_id, i), F.lit(VOCAB)).cast("int"),
            )
            cols.insert(1, tokens.alias("tokens"))
        parts.append(rng.select(*cols).filter(~gap))
    out = functools.reduce(DataFrame.unionByName, parts)
    return out

