"""Iceberg-native sink for the rollup store — the production path the
parquet manifest store (plans/checkpoint.py) stands in for when no Iceberg
runtime is on the classpath.

Everything here maps 1:1 onto the parquet store's operations:

    commit_partitions(touched)   →  MERGE INTO tier ON (source, bucket)
    read_table(parts=…)          →  SELECT … WHERE bucket partition-prunes
                                    (days(bucket) partition spec)
    time-travel read_table(v)    →  VERSION AS OF snapshot_id
    expire_snapshots             →  CALL …system.expire_snapshots(...)

The SQL generators are pure functions (unit-tested without jars); the
IcebergRollupStore executes them when `iceberg_available()` — on this
sandbox image it raises a clear error instead.

Reference analog: persist_data's incremental upsert driver
(/root/reference/src/pyg_timeseries/_decorators.py:246-330).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyg_timeseries_spark.sources.tables import iceberg_available

MEASURES = ["cnt", "sum_n_tok", "sum2_n_tok", "sum3_n_tok"]


def create_tier_ddl(table: str, with_sketches: bool = False) -> str:
    """CREATE TABLE for a rollup tier, day-partitioned on the bucket —
    Iceberg's hidden partitioning (days(bucket)) is exactly the manifest
    store's p_day.  ``with_sketches`` adds the KMV + bottom-k sample
    columns (plans/rollup.py sketch measures)."""
    sketch_cols = (
        ",\n  kmv array<bigint>,\n"
        "  sample array<struct<h: bigint, v: double>>"
    ) if with_sketches else ""
    return (
        f"CREATE TABLE IF NOT EXISTS {table} (\n"
        "  source string,\n"
        "  bucket timestamp_ntz,\n"
        "  cnt bigint,\n"
        "  sum_n_tok bigint,\n"
        "  sum2_n_tok bigint,\n"
        "  sum3_n_tok bigint,\n"
        "  min_n_tok bigint,\n"
        "  max_n_tok bigint,\n"
        "  first_ts timestamp_ntz,\n"
        "  last_ts timestamp_ntz"
        f"{sketch_cols}\n"
        ") USING iceberg\n"
        "PARTITIONED BY (days(bucket))"
    )


def create_token_chunks_ddl(table: str) -> str:
    """Chunked token payload table (plans/rollup.py token_chunk_rows)."""
    return (
        f"CREATE TABLE IF NOT EXISTS {table} (\n"
        "  source string,\n"
        "  bucket timestamp_ntz,\n"
        "  part int,\n"
        "  tokens array<int>\n"
        ") USING iceberg\n"
        "PARTITIONED BY (days(bucket))"
    )


def merge_tier_sql(table: str, delta_view: str, with_sketches: bool = False,
                   sketch_k: int = 32) -> str:
    """MERGE INTO implementing the associative bucket algebra of
    plans/rollup.merge_rollup: matched cells combine (integer sums exact and
    order-free), unmatched insert.  Iceberg rewrites only the data files of
    touched partitions — the same O(delta) the manifest store implements by
    hand."""
    set_clauses = [f"t.{m} = t.{m} + s.{m}" for m in MEASURES]
    set_clauses += [
        "t.min_n_tok = least(t.min_n_tok, s.min_n_tok)",
        "t.max_n_tok = greatest(t.max_n_tok, s.max_n_tok)",
        "t.first_ts = least(t.first_ts, s.first_ts)",
        "t.last_ts = greatest(t.last_ts, s.last_ts)",
    ]
    if with_sketches:
        # union-k-smallest: EXACT merge (plans/rollup._sketch_merge_aggs)
        set_clauses.append(
            "t.kmv = slice(array_sort(array_distinct("
            f"concat(t.kmv, s.kmv))), 1, {sketch_k})"
        )
        set_clauses.append(
            "t.sample = slice(array_sort(array_distinct("
            f"concat(t.sample, s.sample))), 1, {sketch_k})"
        )
    return (
        f"MERGE INTO {table} t\n"
        f"USING {delta_view} s\n"
        "ON t.source = s.source AND t.bucket = s.bucket\n"
        "WHEN MATCHED THEN UPDATE SET\n  "
        + ",\n  ".join(set_clauses)
        + "\nWHEN NOT MATCHED THEN INSERT *"
    )


def time_travel_sql(table: str, snapshot_id: int) -> str:
    return f"SELECT * FROM {table} VERSION AS OF {snapshot_id}"


def expire_snapshots_sql(catalog: str, table: str, older_than: str,
                         retain_last: int = 2) -> str:
    return (
        f"CALL {catalog}.system.expire_snapshots("
        f"table => '{table}', older_than => TIMESTAMP '{older_than}', "
        f"retain_last => {retain_last})"
    )


class IcebergRollupStore:
    """RollupStore with Iceberg tables as the physical layer.  Same ingest
    contract; runs only when the Iceberg runtime is present (gated)."""

    def __init__(self, spark: SparkSession, catalog: str, db: str,
                 prefix: str = "rollup"):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime not on the classpath — use "
                "plans.checkpoint.RollupStore (parquet manifest store, same "
                "contract) or add iceberg-spark-runtime jars."
            )
        self.spark = spark
        self.catalog = catalog
        self.db = db
        self.prefix = prefix
        for tier in ("1m", "1h", "1d"):
            spark.sql(create_tier_ddl(self.table(tier)))
        spark.sql(create_token_chunks_ddl(f"{catalog}.{db}.tokens_1m"))

    def table(self, tier: str) -> str:
        return f"{self.catalog}.{self.db}.{self.prefix}_{tier}"

    def ingest(self, raw: DataFrame, ts: str = "ts", v: str = "n_tok",
               tokens: str | None = "tokens", key: str = "source") -> None:
        from pyg_timeseries_spark.plans.rollup import (
            rollup_cascade, rollup_from_raw, token_chunk_rows,
        )

        delta = rollup_from_raw(raw, "1m", ts=ts, v=v, tokens=None, key=key)
        delta.createOrReplaceTempView("_delta_1m")
        self.spark.sql(merge_tier_sql(self.table("1m"), "_delta_1m"))
        child = delta
        for tier in ("1h", "1d"):
            child = rollup_cascade(child, tier, with_tokens=False)
            child.createOrReplaceTempView(f"_delta_{tier}")
            self.spark.sql(merge_tier_sql(self.table(tier), f"_delta_{tier}"))
        if tokens:
            chunks = token_chunk_rows(raw, ts=ts, tokens=tokens, key=key)
            chunks.writeTo(f"{self.catalog}.{self.db}.tokens_1m").append()
