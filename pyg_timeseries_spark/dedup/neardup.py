"""Near-duplicate detection for training corpora — MinHash+LSH, SimHash,
n-gram Jaccard — entirely in JVM column expressions (higher-order functions
over arrays; no Python UDFs).

Scale shape (the standard web-dedup pipeline):
  shingle → signature (per-doc map work, pipelined with the scan)
  → band buckets (narrow (bucket, id) rows)
  → self-join on bucket (hash shuffle on uniformly-distributed hashes)
  → exact verify on the candidate pairs only (tiny fraction of n²).
Nothing quadratic ever touches the full corpus; the only shuffle carries
(bucket, id, signature) rows, never document text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---- shingling --------------------------------------------------------------


def _let(bound_col, body):
    """Bind ``bound_col`` as a lambda variable so ``body`` references an
    EVALUATED value, not the expression.  A subexpression referenced inside
    a higher-order-function lambda is re-evaluated per element (Catalyst
    does not hoist through lambda scopes — measured 6.5x on shingling,
    where the regex split re-ran for every shingle position); routing it
    through a single-element transform evaluates it exactly once."""
    return F.element_at(F.transform(F.array(bound_col), body), 1)


def word_shingles(text_col, k: int = 3):
    """Distinct word k-shingles of a text column (array<string>)."""
    wordsarr = F.split(F.trim(F.lower(text_col)), r"\s+")
    return _let(
        wordsarr,
        lambda w: F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(w) - (k - 1), F.lit(1))
                ),
                lambda i: F.concat_ws(" ", F.slice(w, i, k)),
            )
        ),
    )


def char_ngrams(text_col, n: int = 5):
    """Distinct character n-grams (array<string>)."""
    return _let(
        F.lower(text_col),
        lambda t: F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1))
                ),
                lambda i: F.substring(t, i, F.lit(n)),
            )
        ),
    )


def jaccard(a, b):
    """Exact Jaccard similarity of two array columns (as sets)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _jaccard_distinct(a, b):
    """:func:`jaccard` for arrays KNOWN to be distinct (word_shingles /
    char_ngrams apply array_distinct): |∪| = |a| + |b| − |∩|, so the
    array_union hash-build (an O(m) array materialization per pair) is
    replaced by two size lookups.  Identical values on distinct
    inputs."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# ---- MinHash + LSH ----------------------------------------------------------


def minhash_signature(shingles_col, n_hashes: int = 32, hash_fn: str = "xxhash64"):
    """n_hashes-wide MinHash signature: h_p = min over shingles of
    hash(shingle, p).  Deterministic, no broadcast state.

    hash_fn 'xxhash64' (production: fastest, JVM-side) or 'md5'
    (cross-engine: identical hex in Spark and DuckDB, so an external SQL
    engine can reproduce the exact signatures — the driver-oracle path;
    string min is lexicographic byte order in both)."""
    if hash_fn == "md5":
        return F.transform(
            F.sequence(F.lit(0), F.lit(n_hashes - 1)),
            lambda p: F.array_min(
                F.transform(
                    shingles_col,
                    lambda s: F.md5(F.concat(s, F.lit("|"), p.cast("string"))),
                )
            ),
        )
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda p: F.array_min(
            F.transform(shingles_col, lambda s: F.xxhash64(s, p))
        ),
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    shingle_k: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 MinHash band,
    with their exact shingle-Jaccard for thresholding.

    Shape: per-doc signature as n_hashes array_min folds over the
    MATERIALIZED shingle column (a pure map — no corpus-wide explode, no
    aggregate exchange; the projection boundary stops Catalyst from
    re-inlining the shingling into every fold).  The band join carries
    only (band, bucket, id); shingle sets re-attach by id for the exact
    verify, so the wide arrays never ride the candidate shuffle.

    hash_fn='md5' gives cross-engine-reproducible signatures (see
    minhash_signature) at ~2-3x the hash cost of xxhash64."""
    rows = n_hashes // bands
    # The shingle array materializes as a PROJECTION COLUMN first; the 16
    # signature mins are then per-row array_min folds over that attribute
    # (each references "sh", so projection collapse cannot re-inline the
    # shingling 16x — the trap the old explode + hash-aggregate rendition
    # existed to dodge).  Same hash values, same mins (string min is
    # byte-lexicographic in both the aggregate and array_min), but the
    # signature is a pure MAP: no corpus-wide explode (measured ~4x the
    # shingling cost in row-materialization alone) and no aggregate
    # exchange carrying every shingle occurrence.  The shingle frame is
    # deliberately NOT persisted: recomputing it for the two exact-verify
    # join sides costs ~1/4 of building its columnar cache (measured),
    # and at scale caching a corpus-sized string-array column is exactly
    # the memory pressure §5 warns about.
    sh = df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text), shingle_k).alias("sh"),
    )
    if hash_fn == "md5":
        sig_cols = [
            F.array_min(
                F.transform(
                    F.col("sh"),
                    lambda s: F.md5(F.concat(s, F.lit(f"|{p}"))),
                )
            ).alias(f"h{p}")
            for p in range(n_hashes)
        ]
        band_cols = [
            F.md5(
                F.concat_ws(",", *[F.col(f"h{b * rows + r}") for r in range(rows)])
            ).alias(f"b{b}")
            for b in range(bands)
        ]
    else:
        sig_cols = [
            F.array_min(
                F.transform(F.col("sh"), lambda s: F.xxhash64(s, F.lit(p)))
            ).alias(f"h{p}")
            for p in range(n_hashes)
        ]
        band_cols = [
            F.xxhash64(
                F.concat_ws(",", *[F.col(f"h{b * rows + r}").cast("string")
                                   for r in range(rows)]),
                F.lit(b),
            ).alias(f"b{b}")
            for b in range(bands)
        ]
    sig = sh.select("id", *sig_cols)
    buckets = sig.select("id", F.posexplode(F.array(*band_cols)).alias("band", "bucket"))
    a = buckets.select(F.col("id").alias("id_a"), "band", "bucket")
    b = buckets.select(F.col("id").alias("id_b"), "band", "bucket")
    pairs = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    verified = pairs.join(sh_a, "id_a").join(sh_b, "id_b")
    return verified.select(
        "id_a", "id_b",
        _jaccard_distinct(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
    )


def minhash_dedup(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text: str = "text",
    **kw,
) -> DataFrame:
    """Docs to DROP: any doc that has a near-dup with a smaller id (greedy
    keep-first by id; one connected-component edge is enough to drop)."""
    cand = minhash_candidates(df, id_col=id_col, text=text, **kw)
    return (
        cand.filter(F.col("jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )


# ---- SimHash ----------------------------------------------------------------


# literal bit masks for the 64 positions (sign bit as its two's-complement
# long value; shift ops take only python ints, masks keep it column-free)
_BIT_MASKS = [1 << b for b in range(63)] + [-(1 << 63)]


def simhash64(tokens_col):
    """64-bit SimHash of a token array: bit b is the sign of
    Σ_tokens (±1 per bit of xxhash64(token)).  Returned as BIGINT."""
    masks = F.array(*[F.lit(m).cast("long") for m in _BIT_MASKS])
    votes = F.aggregate(
        tokens_col,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, t: F.zip_with(
            acc,
            F.transform(
                masks,
                lambda m: F.when(
                    F.xxhash64(t).bitwiseAND(m) != 0, F.lit(1)
                ).otherwise(F.lit(-1)).cast("long"),
            ),
            lambda x, y: x + y,
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes, masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def hamming64(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share ≥1 of 4 16-bit chunks
    (pigeonhole: ≤3 differing bits ⇒ some chunk identical), verified by
    exact Hamming distance."""
    words_arr = F.split(F.trim(F.lower(F.col(text))), r"\s+")
    sh = df.select(F.col(id_col).alias("id"), simhash64(words_arr).alias("h"))
    bits = 64 // chunks
    chunked = sh.select(
        "id", "h",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("h"), c * bits).bitwiseAND(
                    F.lit((1 << bits) - 1)
                )
                for c in range(chunks)
            ])
        ).alias("chunk_idx", "chunk"),
    )
    a = chunked.select(F.col("id").alias("id_a"), F.col("h").alias("h_a"),
                       "chunk_idx", "chunk")
    b = chunked.select(F.col("id").alias("id_b"), F.col("h").alias("h_b"),
                       "chunk_idx", "chunk")
    pairs = (
        a.join(b, on=["chunk_idx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming64(F.col("h_a"), F.col("h_b")))
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs.select("id_a", "id_b", "hamming")


# ---- exact n-gram Jaccard over explicit pairs -------------------------------


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    shingle_k: int = 3,
    max_ids: int | None = None,
) -> DataFrame:
    """All-pairs exact word-shingle Jaccard on a (small) id range — the
    verification oracle for the LSH paths; O(m²), gate with max_ids."""
    src = df
    if max_ids is not None:
        src = src.filter(F.col(id_col) < max_ids)
    sh = src.select(
        F.col(id_col).alias("id"), word_shingles(F.col(text), shingle_k).alias("sh")
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
    )


# ---- embedding near-dup -----------------------------------------------------


def embedding_neardup(
    corpus: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    id_col: str = "vec_id",
    vec: str = "embedding",
    n_planes: int = 16,
    bands: int = 4,
    scheme: str = "xxhash",
) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ threshold, LSH-bucketed candidates
    (random-hyperplane bands from similarity/ann.py) + exact verify.

    Plan shape: the self-join on (band, bucket) carries ids only (one
    posexplode pass over all bands); vectors re-attach by id AFTER the
    candidate pairs are deduplicated — the embedding payload never rides
    the band shuffle."""
    from pyg_timeseries_spark.similarity.ann import cosine, simhash_bucket_rows

    br = simhash_bucket_rows(corpus, dim, n_planes, bands, id_col, vec,
                             scheme, out_id="id")
    cand = (
        br.select(F.col("id").alias("id_a"), "band", "bucket")
        .join(br.select(F.col("id").alias("id_b"), "band", "bucket"),
              on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = corpus.select(
        F.col(id_col).alias("_vid"), F.col(vec).cast("array<double>").alias("_v")
    )
    return (
        cand.join(vecs.select(F.col("_vid").alias("id_a"),
                              F.col("_v").alias("va")), on="id_a")
        .join(vecs.select(F.col("_vid").alias("id_b"),
                          F.col("_v").alias("vb")), on="id_b")
        .withColumn("sim", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def simhash_bits_md5(tokens_col):
    """64-bit SimHash as a '0'/'1' bit-string, from md5 nibble bits —
    reproducible in any engine with md5 + string ops (the oracle path).
    Bit b comes from hex digit b//4 of md5(token), nibble bit b%4."""
    hashes = F.transform(tokens_col, lambda t: F.md5(t))
    divisors = [1, 2, 4, 8]

    def vote(b):
        k = b // 4
        d = divisors[b % 4]
        def bit_of(h):
            hv = F.conv(h.substr(F.lit(k + 1), F.lit(1)), 16, 10).cast("int")
            return F.pmod(F.floor(hv / F.lit(d)).cast("int"), F.lit(2))
        return F.aggregate(
            hashes, F.lit(0),
            lambda acc, h: acc + (bit_of(h) * 2 - 1),
        )

    bits = [F.when(vote(b) > 0, F.lit("1")).otherwise(F.lit("0"))
            for b in range(64)]
    return F.concat(*bits)


def simhash_pairs_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    max_hamming: int = 16,
    chunks: int = 4,
) -> DataFrame:
    """simhash_pairs with the cross-engine md5 bit-string signature."""
    words_arr = F.split(F.trim(F.lower(F.col(text))), r"\s+")
    sh = df.select(F.col(id_col).alias("id"), simhash_bits_md5(words_arr).alias("h"))
    width = 64 // chunks
    chunked = sh.select(
        "id", "h",
        F.posexplode(
            F.array(*[
                F.substring(F.col("h"), c * width + 1, width) for c in range(chunks)
            ])
        ).alias("chunk_idx", "chunk"),
    )
    a = chunked.select(F.col("id").alias("id_a"), F.col("h").alias("h_a"),
                       "chunk_idx", "chunk")
    b = chunked.select(F.col("id").alias("id_b"), F.col("h").alias("h_b"),
                       "chunk_idx", "chunk")
    hamming = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: F.col("h_a").substr(i, F.lit(1)) != F.col("h_b").substr(i, F.lit(1)),
        )
    )
    return (
        a.join(b, on=["chunk_idx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
