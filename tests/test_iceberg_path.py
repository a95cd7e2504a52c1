"""Iceberg sink code path (jar-gated): SQL generation correctness and the
algebraic equivalence of the MERGE SET clauses with merge_rollup — runnable
without the Iceberg runtime (which this sandbox image lacks)."""

import pytest
from pyspark.sql import functions as F

from pyg_timeseries_spark.datagen import sequences
from pyg_timeseries_spark.plans.rollup import merge_rollup, rollup_from_raw
from pyg_timeseries_spark.sources import iceberg as IB
from pyg_timeseries_spark.sources.tables import iceberg_available


def test_ddl_shapes():
    ddl = IB.create_tier_ddl("cat.db.rollup_1m")
    assert "USING iceberg" in ddl
    assert "PARTITIONED BY (days(bucket))" in ddl
    assert "tokens" not in ddl
    assert "part int" in IB.create_token_chunks_ddl("cat.db.tokens_1m")


def test_merge_sql_clauses():
    sql = IB.merge_tier_sql("cat.db.rollup_1m", "_delta")
    assert "MERGE INTO cat.db.rollup_1m t" in sql
    assert "ON t.source = s.source AND t.bucket = s.bucket" in sql
    for m in IB.MEASURES:
        assert f"t.{m} = t.{m} + s.{m}" in sql
    assert "t.min_n_tok = least(t.min_n_tok, s.min_n_tok)" in sql
    assert "t.max_n_tok = greatest(t.max_n_tok, s.max_n_tok)" in sql
    assert "WHEN NOT MATCHED THEN INSERT *" in sql
    assert "concat" not in sql
    assert "VERSION AS OF 42" in IB.time_travel_sql("t", 42)
    assert "expire_snapshots" in IB.expire_snapshots_sql(
        "cat", "db.rollup_1m", "2024-02-01 00:00:00")


def test_merge_set_algebra_equals_merge_rollup(spark):
    """Apply the generated SET clauses as Spark expressions on matched cells:
    the result must equal merge_rollup's — so the MERGE statement computes
    the same table Iceberg-side as the parquet store computes by hand."""
    raw = sequences(spark, 8_000).persist()
    cut = F.lit("2024-01-01 00:40:30").cast("timestamp")  # mid-bucket
    head = rollup_from_raw(raw.filter(F.col("ts") < cut), "1m", tokens=None)
    tail = rollup_from_raw(raw.filter(F.col("ts") >= cut), "1m", tokens=None)

    sql = IB.merge_tier_sql("x", "_d")
    set_block = sql.split("UPDATE SET\n")[1].split("\nWHEN NOT MATCHED")[0]
    clauses = [c.strip() for c in set_block.split(",\n")]

    t = head.select([F.col(c).alias(f"t_{c}") for c in head.columns])
    s = tail.select([F.col(c).alias(f"s_{c}") for c in tail.columns])
    joined = t.join(
        s, (F.col("t_source") == F.col("s_source"))
        & (F.col("t_bucket") == F.col("s_bucket")), "inner")
    matched = joined.select(
        F.col("t_source").alias("source"), F.col("t_bucket").alias("bucket"),
        *[
            F.expr(rhs.replace("t.", "t_").replace("s.", "s_")).alias(
                lhs.replace("t.", ""))
            for lhs, rhs in (c.split(" = ", 1) for c in clauses)
        ],
    )
    unmatched_t = head.join(tail.select("source", "bucket"),
                            ["source", "bucket"], "left_anti")
    unmatched_s = tail.join(head.select("source", "bucket"),
                            ["source", "bucket"], "left_anti")
    merged_via_sql = matched.unionByName(unmatched_t).unionByName(unmatched_s)

    expected = merge_rollup(head, tail)

    def rows(df):
        return sorted(map(tuple, df.toPandas().itertuples(index=False)))

    assert rows(merged_via_sql) == rows(expected)
    raw.unpersist()


def _replay_merge(target, delta, merge_sql):
    """Execute a generated MERGE statement with DataFrame ops, driven by
    PARSING the statement itself (ON keys + SET clauses + INSERT *) — not by
    re-stating the algebra — so the replay exercises exactly what an Iceberg
    runtime would execute."""
    on = merge_sql.split("\nON ")[1].split("\nWHEN")[0]
    keys = [p.split(" = ")[0].split("t.")[1] for p in on.split(" AND ")]
    set_block = merge_sql.split("UPDATE SET\n")[1].split("\nWHEN NOT MATCHED")[0]
    clauses = [c.strip() for c in set_block.split(",\n")]
    t = target.select([F.col(c).alias(f"t_{c}") for c in target.columns])
    s = delta.select([F.col(c).alias(f"s_{c}") for c in delta.columns])
    cond = None
    for k in keys:
        c = F.col(f"t_{k}") == F.col(f"s_{k}")
        cond = c if cond is None else (cond & c)
    assigned = {
        lhs.replace("t.", ""): rhs.replace("t.", "t_").replace("s.", "s_")
        for lhs, rhs in (c.split(" = ", 1) for c in clauses)
    }
    matched = t.join(s, cond, "inner").select(
        *[
            (F.expr(assigned[c]) if c in assigned else F.col(f"t_{c}")).alias(c)
            for c in target.columns
        ]
    )
    unmatched_t = target.join(delta.select(*keys), keys, "left_anti")
    unmatched_s = delta.join(target.select(*keys), keys, "left_anti")
    return matched.unionByName(unmatched_t).unionByName(unmatched_s)


def test_merge_replay_3_batches_equals_parquet_store(spark, tmp_path):
    """Dry-run of the whole Iceberg ingest: replay IcebergRollupStore's
    statement SEQUENCE (merge 1m delta; cascade → merge 1h; cascade →
    merge 1d) over three time-ordered batches, executing each generated
    MERGE via _replay_merge — the result must equal the parquet manifest
    store after ingesting the same batches.  One layer beyond the
    single-merge algebra test: it covers statement ordering, the
    cascade-the-delta strategy, and the NOT MATCHED insert path across
    repeated merges."""
    from pyg_timeseries_spark.plans.checkpoint import RollupStore
    from pyg_timeseries_spark.plans.rollup import rollup_cascade

    raw = sequences(spark, 9_000).persist()
    cuts = ["2024-01-01 00:25:30", "2024-01-01 00:50:10"]
    c0 = F.lit(cuts[0]).cast("timestamp")
    c1 = F.lit(cuts[1]).cast("timestamp")
    batches = [
        raw.filter(F.col("ts") < c0),
        raw.filter((F.col("ts") >= c0) & (F.col("ts") < c1)),
        raw.filter(F.col("ts") >= c1),
    ]

    store = RollupStore(str(tmp_path / "pq"), spark)
    tiers = {}  # the "Iceberg tables", replayed batch by batch
    for b in batches:
        store.ingest(b, tokens=None)
        delta = rollup_from_raw(b, "1m", tokens=None)
        for tier in ("1m", "1h", "1d"):
            if tier != "1m":
                delta = rollup_cascade(delta, tier, with_tokens=False)
            sql = IB.merge_tier_sql(f"cat.db.rollup_{tier}", "_d")
            if tier in tiers:
                tiers[tier] = _replay_merge(tiers[tier], delta, sql)
            else:
                tiers[tier] = delta  # CREATE + first INSERT *
            tiers[tier] = tiers[tier].localCheckpoint()

    def rows(df):
        return sorted(map(tuple, df.toPandas().itertuples(index=False)))

    for tier in ("1m", "1h", "1d"):
        got = tiers[tier].select(*store.read_table(f"rollup_{tier}").columns)
        assert rows(got) == rows(store.read_table(f"rollup_{tier}")), tier
    raw.unpersist()


def test_store_gated_without_jars(spark):
    if iceberg_available(spark):
        pytest.skip("iceberg runtime present — gate not exercisable")
    with pytest.raises(RuntimeError, match="Iceberg runtime"):
        IB.IcebergRollupStore(spark, "cat", "db")


def test_merge_set_algebra_sketches(spark):
    """The sketch-column SET clauses (union-k-smallest in SQL) equal
    merge_rollup's sketch merge element-for-element."""
    raw = sequences(spark, 8_000).persist()
    cut = F.lit("2024-01-01 00:40:30").cast("timestamp")
    head = rollup_from_raw(raw.filter(F.col("ts") < cut), "1m", tokens=None,
                           sketch_id="doc_id")
    tail = rollup_from_raw(raw.filter(F.col("ts") >= cut), "1m", tokens=None,
                           sketch_id="doc_id")

    sql = IB.merge_tier_sql("x", "_d", with_sketches=True)
    assert "t.kmv = slice(array_sort(array_distinct(concat(t.kmv, s.kmv))), 1, 32)" in sql
    set_block = sql.split("UPDATE SET\n")[1].split("\nWHEN NOT MATCHED")[0]
    clauses = [c.strip() for c in set_block.split(",\n")]

    t = head.select([F.col(c).alias(f"t_{c}") for c in head.columns])
    s = tail.select([F.col(c).alias(f"s_{c}") for c in tail.columns])
    joined = t.join(
        s, (F.col("t_source") == F.col("s_source"))
        & (F.col("t_bucket") == F.col("s_bucket")), "inner")
    matched = joined.select(
        F.col("t_source").alias("source"), F.col("t_bucket").alias("bucket"),
        *[
            F.expr(rhs.replace("t.", "t_").replace("s.", "s_")).alias(
                lhs.replace("t.", ""))
            for lhs, rhs in (c.split(" = ", 1) for c in clauses)
        ],
    )
    unmatched_t = head.join(tail.select("source", "bucket"),
                            ["source", "bucket"], "left_anti")
    unmatched_s = tail.join(head.select("source", "bucket"),
                            ["source", "bucket"], "left_anti")
    merged_via_sql = matched.unionByName(unmatched_t).unionByName(unmatched_s)

    expected = merge_rollup(head, tail)

    def rows(df):
        pdf = df.toPandas().sort_values(["source", "bucket"]).reset_index(drop=True)
        pdf["kmv"] = pdf["kmv"].apply(tuple)
        pdf["sample"] = pdf["sample"].apply(
            lambda a: tuple((e["h"], e["v"]) for e in a))
        return list(map(tuple, pdf.itertuples(index=False)))

    assert rows(merged_via_sql) == rows(expected)
    raw.unpersist()
