"""Continuous-aggregate tier cascade: raw → 1m → 1h → 1d.

The rollup row for a (source, bucket) carries *associative integer moment
sums* so that (a) every tier is computed from the tier below, never from raw
(cascading re-aggregation, SURVEY.md §7.0), and (b) merging an incremental
delta into an existing rollup is the same algebra as computing from scratch —
which is what makes the checkpoint invariant bit-for-bit: integer sums are
exact and order-free, mirroring the reference's resumable moment vectors
(/root/reference/src/pyg_timeseries/_ts.py:26-37).

Token payloads flow through the cascade as ordered concatenation (the
north-rule per-row invariant is token-array equality).  Ordering is made
deterministic by sorting (ts, tokens) structs inside the aggregation —
`collect_list` alone has no order guarantee across shuffles.

Scale design (100 TB raw):
* raw→1m is the hot stage: a single hash-aggregate keyed on
  (source, minute-bucket) — Catalyst partial+final aggregation means each
  input partition pre-combines locally before one shuffle of *bucket rows*
  (≈ raw/60 at 1s cadence), not raw rows.
* 1m→1h→1d shuffle bucket counts shrink 60× per tier; with AQE the shuffles
  coalesce.
* The skewed `source` is harmless at this stage because the aggregation key
  is (source, bucket) — cardinality per key is bounded by the bucket width,
  so no single reducer is hot.  Skew handling is only needed for the
  *per-key sequential* operators (plans/partitioning.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

TIERS = ("1m", "1h", "1d")
_TRUNC = {"1m": "minute", "1h": "hour", "1d": "day"}
# parent tier each tier is computed from
PARENT = {"1m": "raw", "1h": "1m", "1d": "1h"}

ROLLUP_COLS = [
    "source", "bucket", "cnt", "sum_n_tok", "sum2_n_tok", "sum3_n_tok",
    "min_n_tok", "max_n_tok", "first_ts", "last_ts",
]

# ---- sketch measures ---------------------------------------------------------
# Optional per-cell mergeable summaries riding the cascade next to the moment
# sums: a KMV distinct-count sketch of the id column (how many distinct docs
# per (source, bucket)) and a bottom-k uniform sample of (id, value) pairs
# (percentiles of the token-length distribution).  Both merge EXACTLY —
# k-smallest of a union == k-smallest of the union of children's k-smallest —
# so cascade == direct and incremental == one-shot bit-for-bit, the same
# contract as the integer moments (functions/sketches.py has the estimators).
# Per-1m-cell build state is O(k): the build uses the same rank-filter
# (WindowGroupLimit) shape as functions/sketches.kmv_sketch — Spark's
# InferWindowGroupLimit turns the row_number <= k filter into a per-map
# top-k BEFORE the exchange, so a hot cell never materializes its full
# distinct-hash set in any aggregate buffer and the shuffle carries at most
# k rows per (cell, map partition).

SKETCH_K = 32


def _sketch_cells(
    df: DataFrame, tier: str, ts: str, v: str, id_col: str, k: int, key: str
) -> DataFrame:
    """Per (source, bucket): bounded KMV + bottom-k sample columns.

    Content-identical to the former collect_set-then-slice aggregate (k
    smallest distinct hashes / (h, v) structs), but built via distinct →
    row_number ≤ k → collect_list so state is O(k) per cell, not
    O(distinct-per-cell)."""
    from pyspark.sql import Window

    from pyg_timeseries_spark.functions.sketches import kmv_hash

    cells = df.select(
        F.col(key).alias("source"),
        bucket_col(ts, tier, df).alias("bucket"),
        kmv_hash(F.col(id_col)).alias("__h"),
        F.struct(
            kmv_hash(F.col(id_col), salt="bk").alias("h"),
            F.col(v).cast("double").alias("v"),
        ).alias("__s"),
    )
    wh = Window.partitionBy("source", "bucket").orderBy("__h")
    kmv = (
        cells.select("source", "bucket", "__h")
        .filter(F.col("__h").isNotNull())  # collect_set dropped null hashes
        .distinct()
        .withColumn("__rn", F.row_number().over(wh))
        .filter(F.col("__rn") <= k)
        .groupBy("source", "bucket")
        .agg(F.sort_array(F.collect_list("__h")).alias("kmv"))
    )
    ws = Window.partitionBy("source", "bucket").orderBy("__s")
    smp = (
        cells.select("source", "bucket", "__s")
        .distinct()
        .withColumn("__rn", F.row_number().over(ws))
        .filter(F.col("__rn") <= k)
        .groupBy("source", "bucket")
        .agg(F.sort_array(F.collect_list("__s")).alias("sample"))
    )
    # Null-safe full join: a NULL source (or NULL bucket) cell is a real
    # group on both sides — plain name-join would split it into a kmv-only
    # and a sample-only row.  Key selection uses side-presence (kmv rows
    # always carry a non-null array), not coalesce of the key itself,
    # because the key value may legitimately BE null.
    smp_r = smp.withColumnRenamed("source", "__s_src").withColumnRenamed(
        "bucket", "__s_bkt"
    )
    return kmv.join(
        smp_r,
        F.col("source").eqNullSafe(F.col("__s_src"))
        & F.col("bucket").eqNullSafe(F.col("__s_bkt")),
        "full",
    ).select(
        F.when(F.col("kmv").isNotNull(), F.col("source"))
        .otherwise(F.col("__s_src")).alias("source"),
        F.when(F.col("kmv").isNotNull(), F.col("bucket"))
        .otherwise(F.col("__s_bkt")).alias("bucket"),
        # all-null-id cell: collect_set yielded [], the join yields NULL
        F.coalesce("kmv", F.array().cast("array<long>")).alias("kmv"),
        "sample",
    )


def _sketch_merge_aggs(k: int) -> list:
    return [
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("kmv")))),
            1, k,
        ).alias("kmv"),
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("sample")))),
            1, k,
        ).alias("sample"),
    ]


def bucket_col(ts_col: str, tier: str, df: DataFrame | None = None) -> F.Column:
    """Truncate ``ts_col`` to the tier's bucket.

    For TIMESTAMP_NTZ inputs Spark's date_trunc routes through the session
    timezone (a non-UTC session shifts buckets — fractional-hour zones even
    shift HOUR buckets), so when ``df`` is given and the column is NTZ the
    bucket is rebuilt from components, which never touches the timezone.
    """
    unit = _TRUNC[tier]
    if df is not None and isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        c = F.col(ts_col)
        h = F.hour(c) if unit in ("hour", "minute") else F.lit(0)
        mi = F.minute(c) if unit == "minute" else F.lit(0)
        return F.make_timestamp_ntz(
            F.year(c), F.month(c), F.dayofmonth(c), h, mi, F.lit(0.0)
        )
    return F.date_trunc(unit, F.col(ts_col))


# how each measure re-aggregates from finer rows: the one merge algebra
# behind the cascade and the incremental refresh
_MERGE = (
    ("cnt", F.sum), ("sum_n_tok", F.sum), ("sum2_n_tok", F.sum),
    ("sum3_n_tok", F.sum), ("min_n_tok", F.min), ("max_n_tok", F.max),
    ("first_ts", F.min), ("last_ts", F.max),
)


def _raw_measures(ts: str, v: str) -> list:
    """The ROLLUP_COLS measures of one cell, from raw rows (batch and
    streaming 1m aggregates alike)."""
    c = F.col(v).cast("long")
    return [
        F.count(c).alias("cnt"),
        F.sum(c).alias("sum_n_tok"),
        F.sum(c * c).alias("sum2_n_tok"),
        F.sum(c * c * c).alias("sum3_n_tok"),
        F.min(c).alias("min_n_tok"),
        F.max(c).alias("max_n_tok"),
        F.min(ts).alias("first_ts"),
        F.max(ts).alias("last_ts"),
    ]


def _ordered_concat(tokens: str, *order) -> F.Column:
    """Concatenate the group's ``tokens`` arrays ascending by the ``order``
    columns (ties fall to the arrays themselves).  collect_list alone has
    no order guarantee across shuffles, so the (order…, tokens) structs
    are sorted inside the aggregate."""
    return F.flatten(F.transform(
        F.array_sort(F.collect_list(F.struct(*order, F.col(tokens)))),
        lambda s: s.getField(tokens),
    ))


def _merge_measures(df: DataFrame, with_tokens: bool, k: int) -> list:
    """Re-aggregate rollup rows: _MERGE, tokens concatenated by bucket
    when asked for and present, and sketches merged when present."""
    aggs = [fn(name).alias(name) for name, fn in _MERGE]
    if with_tokens and "tokens" in df.columns:
        aggs.append(_ordered_concat("tokens", "bucket").alias("tokens"))
    if "kmv" in df.columns:
        aggs.extend(_sketch_merge_aggs(k))
    return aggs


def rollup_from_raw(
    df: DataFrame,
    tier: str = "1m",
    ts: str = "ts",
    v: str = "n_tok",
    tokens: str | None = "tokens",
    key: str = "source",
    sketch_id: str | None = None,
    sketch_k: int = SKETCH_K,
) -> DataFrame:
    """Aggregate raw sequences into one tier directly (used for tier '1m' and
    as the oracle for cascade equivalence tests).

    ``sketch_id`` names an id column (e.g. ``doc_id``); when given, each cell
    additionally carries a KMV distinct-count sketch of the ids and a
    bottom-k (id, v) sample for mergeable quantiles — both cascade exactly.
    """
    aggs = _raw_measures(ts, v)
    if tokens:
        # deterministic in-bucket order: sort (ts, tokens) structs, then concat
        aggs.append(_ordered_concat(tokens, F.col(ts)).alias("tokens"))
    base = (
        df.groupBy(
            F.col(key).alias("source"), bucket_col(ts, tier, df).alias("bucket")
        )
        .agg(*aggs)
    )
    if sketch_id is not None:
        # bounded O(k) sketch build joined back on the cell key — both sides
        # hash-partition on (source, bucket) so the join adds no extra
        # repartitioning of the wide side.  Null-safe equality: a cell with
        # NULL source or NULL bucket (null ts) is a real group-by cell on
        # both sides, and a plain equi-join would silently drop its sketch
        sk = _sketch_cells(df, tier, ts, v, sketch_id, sketch_k, key).\
            withColumnRenamed("source", "__sk_source").\
            withColumnRenamed("bucket", "__sk_bucket")
        base = base.join(
            sk,
            F.col("source").eqNullSafe(F.col("__sk_source"))
            & F.col("bucket").eqNullSafe(F.col("__sk_bucket")),
            "left",
        ).drop("__sk_source", "__sk_bucket")
    return base


def rollup_cascade(
    child: DataFrame, tier: str, with_tokens: bool = True,
    sketch_k: int = SKETCH_K,
) -> DataFrame:
    """Re-aggregate a finer rollup tier into a coarser one — exact because all
    measures are associative (integer sums / min / max / ordered concat;
    sketch columns, when present, merge by union-k-smallest which is also
    exact)."""
    return (
        child.groupBy("source", bucket_col("bucket", tier, child).alias("bucket"))
        .agg(*_merge_measures(child, with_tokens, sketch_k))
    )


def rollup_all_tiers(
    raw: DataFrame,
    ts: str = "ts",
    v: str = "n_tok",
    tokens: str | None = "tokens",
    key: str = "source",
) -> dict[str, DataFrame]:
    """The full cascade raw→1m→1h→1d. Each tier derives from its parent."""
    out: dict[str, DataFrame] = {}
    out["1m"] = rollup_from_raw(raw, "1m", ts=ts, v=v, tokens=tokens, key=key)
    out["1h"] = rollup_cascade(out["1m"], "1h", with_tokens=tokens is not None)
    out["1d"] = rollup_cascade(out["1h"], "1d", with_tokens=tokens is not None)
    return out


# ---- bounded token chunks ----------------------------------------------------
# The array-token cascade carries a (source, day)'s ENTIRE token payload as
# one row at the 1d tier — at 10^12-sequence scale a single hot row is GBs
# and collect_list on one grouping key OOMs an executor regardless of
# parallelism.  The store instead keeps tokens ONCE, at 1m granularity,
# split into part-rows of at most MAX_TOKENS_PER_ROW tokens; coarser tiers
# carry measures only and token payloads FLATTEN AT READ (tokens_at_tier).
# The bit-for-bit invariant lives on the chunked representation:
# chunks(head)+chunks(tail) == chunks(full) row-for-row.

MAX_TOKENS_PER_ROW = 65_536


def _slice_parts(arr, cap: int):
    """array<int> → array of ≤cap-length slices (1 slice minimum)."""
    n_parts = F.greatest(F.ceil(F.size(arr) / F.lit(cap)).cast("int"), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), n_parts - 1),
        lambda i: F.slice(arr, i * cap + 1, cap),
    )


def token_chunk_rows(
    df: DataFrame,
    ts: str = "ts",
    tokens: str = "tokens",
    key: str = "source",
    cap: int = MAX_TOKENS_PER_ROW,
    prev: DataFrame | None = None,
) -> DataFrame:
    """raw → (source, bucket[1m], part, tokens) with every row ≤ cap tokens.

    Within a bucket, docs concat in ts order (the same order the array-token
    rollup uses), then the flat array slices into parts.  ``prev`` — chunk
    rows already stored — concatenates before the docs of its bucket, part
    by part: the append order, so merging a batch this way equals chunking
    all of it at once, in one aggregate over the raw rows.  The flat array
    is transient per (source, minute) — bounded by per-minute ingest
    volume, never by day/history volume."""
    rows = df.select(
        F.col(key).alias("source"), bucket_col(ts, "1m", df).alias("bucket"),
        F.lit(1).alias("_d"), F.lit(0).alias("part"), F.col(ts).alias("_ts"),
        F.col(tokens).alias("tokens"),
    )
    if prev is not None:
        rows = prev.select(
            "source", "bucket", F.lit(0).alias("_d"), "part",
            F.lit(None).cast(rows.schema["_ts"].dataType).alias("_ts"), "tokens",
        ).unionByName(rows)
    flat = rows.groupBy("source", "bucket").agg(
        _ordered_concat("tokens", "_d", "part", "_ts").alias("_flat"))
    return flat.select(
        "source", "bucket",
        F.posexplode(_slice_parts(F.col("_flat"), cap)).alias("part", "tokens"),
    )


def tokens_at_tier(chunks: DataFrame, tier: str) -> DataFrame:
    """Flatten 1m chunk rows to (source, bucket, tokens) at any tier — the
    read-time view.  The output row for a hot (source, day) is inherently
    big (it IS the payload); the STORED representation stays bounded."""
    # chunk buckets already are minutes: grouping 1m on the column itself
    # keeps a (source, bucket) partitioning the chunks may carry
    b = F.col("bucket") if tier == "1m" else bucket_col("bucket", tier, chunks)
    return chunks.groupBy("source", b.alias("bucket")).agg(
        _ordered_concat("tokens", "bucket", "part").alias("tokens")
    )


def merge_rollup(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge rollup rows into an existing rollup table — the continuous-
    aggregate refresh.  Rows of one (source, bucket) cell combine with the
    same associative algebra as the cascade (in-bucket refresh: the
    reference's same-time-unit replace, _ewm.py:41-44, rendered at bucket
    granularity); ``delta`` may be a finer tier's rows with ``bucket``
    truncated to this tier.  Every measure is order-free, so the merge is
    exact under any arrival order; token payloads are not merged here
    (they live in the chunk table, token_chunk_rows)."""
    both = existing.unionByName(delta, allowMissingColumns=True)
    return both.groupBy("source", "bucket").agg(
        *_merge_measures(both, False, SKETCH_K)
    )


def rollup_grouping_sets(
    df: DataFrame,
    ts: str = "ts",
    v: str = "v",
    key: str = "key",
) -> DataFrame:
    """One-shot multi-tier rollup: every tier (1m/1h/1d) from a SINGLE scan
    via GROUPING SETS (SURVEY.md §2.8's one-shot option).

    Trade-off vs the cascade (rollup_all_tiers): GROUPING SETS expands each
    input row once per tier — 3× map-side rows into ONE partial+final hash
    aggregate, no intermediate tier materialization, one shuffle; the
    cascade runs three small aggregations where the coarser tiers read the
    (much smaller) finer tier.  At high fan-in (many raw rows per minute)
    the cascade does less total work; grouping-sets wins when you want all
    tiers in one pass over a source you will not keep, or a single output
    table keyed by tier.  Output: (tier, key, bucket, cnt, sum_v, min_v,
    max_v) with tier ∈ {'1m','1h','1d'}."""
    prepared = df.select(
        F.col(key).alias("key"),
        bucket_col(ts, "1m", df).alias("b1m"),
        bucket_col(ts, "1h", df).alias("b1h"),
        bucket_col(ts, "1d", df).alias("b1d"),
        F.col(v).alias("v"),
    )
    return prepared.sparkSession.sql(
        """
        SELECT CASE WHEN grouping(b1h) = 1 AND grouping(b1d) = 1 THEN '1m'
                    WHEN grouping(b1m) = 1 AND grouping(b1d) = 1 THEN '1h'
                    ELSE '1d' END AS tier,
               key, coalesce(b1m, b1h, b1d) AS bucket,
               count(v) AS cnt, sum(v) AS sum_v,
               min(v) AS min_v, max(v) AS max_v
        FROM {src}
        GROUP BY key, GROUPING SETS ((b1m), (b1h), (b1d))
        """,
        src=prepared,
    )
