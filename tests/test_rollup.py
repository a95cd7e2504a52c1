"""Rollup cascade + incremental checkpoint invariants (north_rule core):
tier-from-parent == tier-from-raw, and ingest(head)+ingest(tail) ==
ingest(full), bit-for-bit including token arrays.
"""

import pytest
import os

from pyspark.sql import functions as F

from pyg_timeseries_spark.datagen import sequences
from pyg_timeseries_spark.plans.checkpoint import RollupStore
from pyg_timeseries_spark.plans.rollup import (
    bucket_col, rollup_all_tiers, rollup_cascade, rollup_from_raw,
)
from tools.store_bytes import table_stats

N_ROWS = 30_000  # ~8 hours of 1s data on the hot source


@pytest.fixture(scope="module")
def raw(spark):
    return sequences(spark, N_ROWS).persist()


def rows_of(df):
    """Canonical sorted row list with token arrays as tuples (exact compare)."""
    pdf = df.toPandas().sort_values(["source", "bucket"]).reset_index(drop=True)
    if "tokens" in pdf.columns:
        pdf["tokens"] = pdf["tokens"].apply(lambda a: tuple(a) if a is not None else None)
    return list(map(tuple, pdf.itertuples(index=False)))


def test_cascade_equals_direct(raw):
    m1 = rollup_from_raw(raw, "1m")
    for tier in ("1h", "1d"):
        direct = rollup_from_raw(raw, tier)
        via = m1
        for t in (("1h",) if tier == "1h" else ("1h", "1d")):
            via = rollup_cascade(via, t)
        assert rows_of(direct) == rows_of(via), f"cascade mismatch at {tier}"


def test_counts_conserved(raw):
    tiers = rollup_all_tiers(raw)
    n_raw = raw.count()
    tok_raw = raw.select(F.sum("n_tok")).collect()[0][0]
    for tier, df in tiers.items():
        agg = df.select(F.sum("cnt"), F.sum("sum_n_tok"), F.sum(F.size("tokens"))).collect()[0]
        assert agg[0] == n_raw, tier
        assert agg[1] == tok_raw, tier
        assert agg[2] == tok_raw, f"token payload lost at {tier}"


def test_incremental_equals_full(spark, raw, tmp_path):
    cut = F.lit("2024-01-01 03:00:00").cast("timestamp")
    head = raw.filter(F.col("ts") < cut)
    tail = raw.filter(F.col("ts") >= cut)

    full_store = RollupStore(str(tmp_path / "full"), spark)
    full_tiers = full_store.ingest(raw)

    inc_store = RollupStore(str(tmp_path / "inc"), spark)
    inc_store.ingest(head)
    inc_tiers = inc_store.ingest(tail)

    for tier in ("1m", "1h", "1d"):
        assert rows_of(full_tiers[tier]) == rows_of(inc_tiers[tier]), (
            f"incremental != full at tier {tier}"
        )

    # token payloads are bounded part-rows in tokens_1m; the tiers are
    # measures-only (no unbounded array column)
    assert inc_store.read_table("tokens_1m") is not None
    for tier in ("1m", "1h", "1d"):
        assert "tokens" not in inc_tiers[tier].columns, tier

    # lineage was recorded for both batches
    lin = inc_store.lineage().toPandas()
    assert set(lin.batch_id) == {1, 2}
    assert (lin.rows > 0).all()


def test_ingest_is_o_delta(spark, tmp_path):
    """The scale claim made executable: merging a batch reads only the
    day-partitions the delta touches — never the full rollup history."""
    from urllib.parse import urlparse

    raw = sequences(spark, 20_000, interval_s=60).persist()  # ~7-14 days/source
    cut = F.lit("2024-01-05 12:00:00").cast("timestamp")  # mid-day → day 05 overlaps
    head, tail = raw.filter(F.col("ts") < cut), raw.filter(F.col("ts") >= cut)

    store = RollupStore(str(tmp_path / "odelta"), spark)
    store.ingest(head)
    hist_1m = store.read_table("rollup_1m").persist()
    total_hist = hist_1m.count()

    store.ingest(tail, with_scan_stats=True)
    stats = store.last_ingest_stats
    touched = set(stats["touched_parts"])
    # the tail batch spans a strict subset of the store's days
    all_days = {
        r[0] for r in hist_1m.select(F.to_date("bucket").cast("string")).distinct().collect()
    }
    assert touched - all_days, "tail must add new days"
    overlap_days = touched & all_days
    hist_in_touched = hist_1m.filter(
        F.to_date("bucket").cast("string").isin(list(touched))
    ).count()
    assert overlap_days, "fixture must overlap at least one existing day"
    # O(delta): the merge scanned exactly the touched partitions' rows…
    assert stats["prev_rows_scanned_1m"] == hist_in_touched
    # …which is a strict subset of history
    assert stats["prev_rows_scanned_1m"] < total_hist

    # manifest: untouched days still point at commit 1, touched days at 2
    man = store.meta["tables"]["rollup_1m"]["snapshots"]["2"]["parts"]
    assert {tuple(man[d]) for d in (all_days - touched)} == {(1,)}
    assert {tuple(man[d]) for d in touched} == {(2,)}

    # and the pruned read lists only the touched partitions' directories
    pruned = store.read_table("rollup_1m", parts=sorted(touched))
    touched_dirs = {
        os.path.join(store._table_dir("rollup_1m", 2), f"p_day={d}") for d in touched
    }
    read_dirs = {os.path.dirname(urlparse(f).path) for f in pruned.inputFiles()}
    assert read_dirs and read_dirs <= touched_dirs

    # incremental result equals a from-scratch ingest (tokens included)
    full = RollupStore(str(tmp_path / "odelta_full"), spark).ingest(raw)
    for tier in ("1m", "1h", "1d"):
        assert rows_of(store.read_table(f"rollup_{tier}")) == rows_of(full[tier]), tier
    hist_1m.unpersist()
    raw.unpersist()


def test_read_table_is_one_scan(spark, tmp_path):
    """Plans do not grow with history: three ingests on three days leave
    each tier spread over three commits, and reading a tier is still ONE
    parquet relation whose construction runs at most one Spark job (no
    schema inference; partition dirs listed from the manifest)."""
    import re

    raw = sequences(spark, 6_000, interval_s=90).persist()  # > 3 days on web
    store = RollupStore(str(tmp_path / "scan"), spark)
    days = [F.lit(d).cast("timestamp") for d in ("2024-01-02", "2024-01-03")]
    store.ingest(raw.filter(F.col("ts") < days[0]))
    store.ingest(raw.filter((F.col("ts") >= days[0]) & (F.col("ts") < days[1])))
    store.ingest(raw.filter(F.col("ts") >= days[1]))
    commits = {v for vs in store._m.parts("rollup_1h").values() for v in vs}
    assert commits == {1, 2, 3}

    sc = spark.sparkContext
    for name in ("rollup_1m", "rollup_1h", "rollup_1d", "tokens_1m"):
        sc.setJobGroup(name, name)
        df = store.read_table(name)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(name))
        sc.setJobGroup(None, None)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert len(re.findall(r"Relation \[", plan)) == 1, (name, plan)
        assert n_jobs <= 1, (name, n_jobs)
    full = RollupStore(str(tmp_path / "scan_full"), spark).ingest(raw)
    assert rows_of(store.read_table("rollup_1h")) == rows_of(full["1h"])
    raw.unpersist()


def test_time_travel_versions(spark, raw, tmp_path):
    cut = F.lit("2024-01-01 03:00:00").cast("timestamp")
    store = RollupStore(str(tmp_path / "tt"), spark)
    store.ingest(raw.filter(F.col("ts") < cut))
    v1_rows = rows_of(store.read_table("rollup_1m"))
    store.ingest(raw.filter(F.col("ts") >= cut))
    assert rows_of(store.read_table("rollup_1m", version=1)) == v1_rows
    assert len(rows_of(store.read_table("rollup_1m"))) > len(v1_rows)


def test_exact_rebuild_guarded_without_retained_raw(spark, raw, tmp_path):
    """exact_rebuild on a store whose earlier batches did not retain raw must
    refuse the rebuild instead of silently undercounting overlap cells."""
    cut = F.lit("2024-01-01 03:00:30").cast("timestamp")  # mid-bucket cut
    store = RollupStore(str(tmp_path / "guard"), spark)
    store.ingest(raw.filter(F.col("ts") < cut), exact_rebuild=False)
    with pytest.raises(ValueError, match="exact_rebuild"):
        store.ingest(raw.filter(F.col("ts") >= cut), exact_rebuild=True)


def test_no_raw_retained_without_tokens(spark, raw, tmp_path):
    """Raw is read only to re-chunk tokens: ``ingest(tokens=None,
    exact_rebuild=True)`` writes no raw table, and a later exact_rebuild
    over such a batch refuses instead of undercounting."""
    early = raw.filter(F.col("ts") < F.lit("2024-01-01 02:00:00").cast("timestamp"))
    cut = F.lit("2024-01-01 01:00:30").cast("timestamp")  # mid-bucket cut
    odd, even = (early.filter(F.col("seq") % 2 == p) for p in (1, 0))
    path = tmp_path / "noraw"
    store = RollupStore(str(path), spark)
    store.ingest(odd, exact_rebuild=True)  # tokens: retains raw
    assert store._m.version("raw") == 1 and store.meta["raw_complete"]
    store.ingest(even.filter(F.col("ts") < cut), tokens=None, exact_rebuild=True)
    assert store._m.version("raw") == 1 and store.meta["raw_complete"] is False
    assert os.listdir(path / "raw") == ["v1"]
    with pytest.raises(ValueError, match="exact_rebuild"):
        store.ingest(even.filter(F.col("ts") >= cut), exact_rebuild=True)

    bare = RollupStore(str(tmp_path / "bare"), spark)
    bare.ingest(early, tokens=None, exact_rebuild=True)
    assert not (tmp_path / "bare" / "raw").exists()
    assert "raw" not in bare.meta["tables"]


def test_token_payload_encodings(spark, raw, tmp_path):
    """Commits write v2 pages with a 64 KiB dictionary budget: the token
    ids outgrow it and fall back to DELTA_BINARY_PACKED, ``source`` keeps
    its dictionary, and ``bucket`` keeps the footer min/max that
    ``expire`` and the ``apply`` watermark read."""
    store = RollupStore(str(tmp_path / "enc"), spark)
    store.ingest(raw)
    cols = table_stats(str(tmp_path / "enc" / "tokens_1m"))["chunks"]
    assert all(set(c.encodings) == {"DELTA_BINARY_PACKED"}
               for c in cols["tokens.list.element"])
    assert all("RLE_DICTIONARY" in c.encodings for c in cols["source"])
    assert all(c.statistics is not None and c.statistics.has_min_max
               for c in cols["bucket"])
    n_tok = raw.select(F.sum("n_tok")).first()[0]
    stored = sum(c.total_compressed_size for c in cols["tokens.list.element"])
    assert stored / n_tok <= 2.4


def test_chunked_tokens_incremental_equals_full(spark, raw, tmp_path):
    """Token chunks: ingest(head)+ingest(tail) == ingest(full) on the
    BOUNDED chunk table, and the read-time flatten equals the array-token
    cascade's 1d payload exactly."""
    cut = F.lit("2024-01-01 03:00:30").cast("timestamp")  # mid-bucket cut
    cap = 512

    full = RollupStore(str(tmp_path / "cf"), spark)
    full.ingest(raw, chunk_cap=cap)
    inc = RollupStore(str(tmp_path / "ci"), spark)
    inc.ingest(raw.filter(F.col("ts") < cut), chunk_cap=cap)
    inc.ingest(raw.filter(F.col("ts") >= cut), chunk_cap=cap)

    def chunk_rows(store):
        pdf = store.read_table("tokens_1m").toPandas().sort_values(
            ["source", "bucket", "part"]).reset_index(drop=True)
        pdf["tokens"] = pdf["tokens"].apply(tuple)
        return list(map(tuple, pdf.itertuples(index=False)))

    assert chunk_rows(inc) == chunk_rows(full)
    # every stored row is bounded
    mx = inc.read_table("tokens_1m").select(F.max(F.size("tokens"))).first()[0]
    assert mx <= cap
    # measures-only tiers have no token column
    assert "tokens" not in inc.read_table("rollup_1d").columns

    # flatten-at-read == the array-token cascade's 1d payload
    exp = rollup_from_raw(raw, "1d").select("source", "bucket", "tokens")
    got = inc.read_tokens("1d")
    assert rows_of(got) == rows_of(exp)


def test_chunked_tokens_hot_bucket_bounded(spark, tmp_path):
    """A single hot (source, day) with 10M+ tokens: the stored representation
    stays ≤ cap tokens/row (an array-token 1d row would be one 10M-element
    array — the executor-OOM shape at real scale)."""
    import pandas as pd  # noqa: F401

    n_docs, toks_per_doc = 2_500, 4_096  # 10.24M tokens, one source, one day
    df = spark.range(n_docs).select(
        F.lit("hot").alias("source"),
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("2024-03-01 00:00:00"))
            + (F.col("id") % 1200) * 60 + F.floor(F.col("id") / 1200)
        ).alias("ts"),
        F.lit(toks_per_doc).cast("int").alias("n_tok"),
        F.transform(
            F.sequence(F.lit(0), F.lit(toks_per_doc - 1)),
            lambda i: F.pmod(F.xxhash64(F.col("id"), i), F.lit(50257)).cast("int"),
        ).alias("tokens"),
    )
    store = RollupStore(str(tmp_path / "hot"), spark)
    store.ingest(df)
    chunks = store.read_table("tokens_1m")
    stats = chunks.select(
        F.sum(F.size("tokens")).alias("total"),
        F.max(F.size("tokens")).alias("mx"),
        F.count(F.lit(1)).alias("rows"),
    ).first()
    assert stats["total"] == n_docs * toks_per_doc
    from pyg_timeseries_spark.plans.rollup import MAX_TOKENS_PER_ROW

    assert stats["mx"] <= MAX_TOKENS_PER_ROW
    # day-level read view reassembles the full payload count
    day = store.read_tokens("1d").select(F.sum(F.size("tokens"))).first()[0]
    assert day == n_docs * toks_per_doc


def test_chunked_exact_rebuild_out_of_order(spark, raw, tmp_path):
    """Interleaved late arrival + chunked tokens: exact_rebuild re-chunks
    overlap buckets from retained raw — equals the one-shot ingest."""
    odd = raw.filter(F.col("seq") % 2 == 1)
    even = raw.filter(F.col("seq") % 2 == 0)
    inc = RollupStore(str(tmp_path / "oc"), spark)
    inc.ingest(odd, exact_rebuild=True, chunk_cap=256)
    inc.ingest(even, exact_rebuild=True, chunk_cap=256)
    full = RollupStore(str(tmp_path / "of"), spark)
    full.ingest(raw, exact_rebuild=True, chunk_cap=256)
    assert rows_of(inc.read_tokens("1m")) == rows_of(full.read_tokens("1m"))
    for tier in ("1m", "1h", "1d"):
        assert rows_of(inc.read_table(f"rollup_{tier}")) == rows_of(
            full.read_table(f"rollup_{tier}")), tier


def test_lineage_per_stage(spark, raw, tmp_path):
    """Every ingest stage (raw + each tier commit) emits per-partition row
    counts (north-rule lineage)."""
    store = RollupStore(str(tmp_path / "lin"), spark)
    store.ingest(raw)
    lin = store.lineage().toPandas()
    assert set(lin.stage) == {"raw", "commit_1m", "commit_1h", "commit_1d"}
    assert (lin.rows > 0).all()


def test_expire_snapshots_manifest_gc(spark, raw, tmp_path):
    """expire_snapshots keeps every commit a live manifest references and
    removes the rest; the current view is unaffected."""
    cut = F.lit("2024-01-01 03:00:00").cast("timestamp")
    store = RollupStore(str(tmp_path / "gc"), spark)
    store.ingest(raw.filter(F.col("ts") < cut))
    store.ingest(raw.filter(F.col("ts") >= cut))
    # both batches touch the single fixture day → the live manifest (v2)
    # references only commit 2; v1's dir is garbage after keep=1
    before = rows_of(store.read_table("rollup_1m"))
    store.expire_snapshots(keep=1)
    base = os.path.join(store.path, "rollup_1m")
    live_dirs = sorted(os.listdir(base))
    assert live_dirs == ["v2"]
    assert rows_of(store.read_table("rollup_1m")) == before


def test_retention_expiry(spark, raw, tmp_path):
    """TTL keeps the newest keep_buckets bucket-intervals from the tier max;
    on single-day data the cutoff bisects the (one) boundary partition."""
    store = RollupStore(str(tmp_path / "ttl"), spark)
    store.ingest(raw)
    before = store.read_table("rollup_1m").count()
    store.expire("1m", keep_buckets=10)
    after = store.read_table("rollup_1m")
    per_src = after.groupBy("source").count().toPandas()
    assert (per_src["count"] <= 10).all()
    assert after.count() < before
    assert store.last_expire_stats["trimmed_parts"] == ["2024-01-01"]


def test_expire_is_metadata_only(spark, tmp_path):
    """The scale claim for retention made executable: expiring history runs
    no Spark job and writes no file.  Whole day-partitions leave the
    manifest unread, and the one boundary day the cutoff bisects keeps its
    ORIGINAL commit, trimmed at read by a row predicate."""
    import datetime as dt

    raw = sequences(spark, 20_000, interval_s=60).persist()  # ~7 days on web
    store = RollupStore(str(tmp_path / "meta_ttl"), spark)
    store.ingest(raw)
    full = store.read_table("rollup_1m").persist()
    tokens = store.read_tokens("1m").persist()
    max_b = full.select(F.max("bucket")).first()[0]
    all_days = sorted(
        r[0] for r in full.select(F.to_date("bucket").cast("string")).distinct().collect()
    )
    assert len(all_days) >= 5, "fixture must span multiple days"

    def files():
        return {os.path.join(d, f) for d, _, fs in os.walk(store.path) for f in fs}

    keep = 2 * 1440 + 30  # 2 days + 30 min back from max → mid-day cutoff
    before, sc = files(), spark.sparkContext
    sc.setJobGroup("expire", "expire")
    store.expire("1m", keep_buckets=keep)
    stats = store.last_expire_stats
    store.expire_tokens(keep_buckets=keep)
    assert len(sc.statusTracker().getJobIdsForGroup("expire")) == 0
    sc.setJobGroup(None, None)
    # only the manifest changed: no data file written or removed
    assert files() == before
    # one partition trimmed; everything older dropped metadata-only
    assert len(stats["trimmed_parts"]) == 1
    boundary = stats["trimmed_parts"][0]
    assert stats["dropped_parts"] == [d for d in all_days if d < boundary]
    # every surviving day, the trimmed one included, still points at its
    # ORIGINAL commit (v1): proof no survivor was scanned or rewritten
    man = store._m.parts("rollup_1m")
    assert boundary in man and all(vs == [1] for vs in man.values())
    # the view equals a plain bucket filter of the pre-expire table
    cutoff = F.lit(max_b - dt.timedelta(seconds=(keep - 1) * 60))
    assert rows_of(store.read_table("rollup_1m")) == rows_of(
        full.filter(F.col("bucket") >= cutoff))
    assert rows_of(store.read_tokens("1m")) == rows_of(
        tokens.filter(F.col("bucket") >= cutoff))
    full.unpersist()
    tokens.unpersist()
    raw.unpersist()


def test_expire_empty_boundary_drops_not_commits(spark, tmp_path):
    """A cutoff that lands inside a day none of whose rows survive (data
    gap: old day + much newer day) must DROP the boundary day, not commit
    an empty partition — an empty parquet dir in the manifest would fail
    schema inference on every subsequent read."""
    import pandas as pd

    rows = []
    for h, d in ((0, "2024-01-01"), (12, "2024-01-03")):
        for m in range(30):
            rows.append(("web", f"{d} {h:02d}:{m:02d}:00", 1))
    pdf = pd.DataFrame(rows, columns=["source", "ts", "n_tok"]).assign(
        ts=lambda x: pd.to_datetime(x.ts)
    )
    raw2 = spark.createDataFrame(pdf).withColumn(
        "tokens", F.array(F.lit(1).cast("int"))
    )
    store = RollupStore(str(tmp_path / "gap"), spark)
    store.ingest(raw2)
    # keep ~2.2 days back from max (2024-01-03 12:29) → cutoff lands inside
    # 2024-01-01 but AFTER that day's last row (00:29)
    store.expire("1m", keep_buckets=2 * 1440 + 700)
    stats = store.last_expire_stats
    assert stats["trimmed_parts"] == []
    assert stats["dropped_parts"] == ["2024-01-01"]
    # the store stays fully readable and holds exactly the newer day
    left = store.read_table("rollup_1m")
    assert left.count() == 30
    assert left.select(F.min("bucket")).first()[0].day == 3


def _minutes(spark, stamps):
    """One 'web' row per timestamp text (session clock; None: a NULL ts);
    n_tok comes from the hour and minute, the token array is n_tok copies
    of n_tok."""
    return spark.createDataFrame(
        [("web", t, t and (int(t[11:13]) + int(t[14:16])) % 7 + 1 or 1)
         for t in stamps],
        "source string, ts string, n_tok int",
    ).select("source", F.col("ts").cast("timestamp").alias("ts"), "n_tok",
             F.array_repeat("n_tok", "n_tok").alias("tokens"))


def _every_10_min(day, minute=0, hours=range(24)):
    return [f"{day} {h:02d}:{m + minute:02d}:00" for h in hours for m in range(0, 60, 10)]


def test_trim_predicate_lifecycle(spark, tmp_path):
    """The boundary day's row predicate lives until a commit re-points the
    day: a late batch into an older day is visible, a batch into the
    trimmed day re-points it (its expired rows stay hidden, its own rows
    show), and compact after an expire keeps the rows and clears it.  A
    second expire into the trimmed day narrows its predicate, and a
    session in another timezone reads the same rows.  The unexpired 1h
    and 1d tiers keep every row ingested.  A
    NULL-ts row (a partition without a date label) neither stops the
    expire nor expires."""
    days = ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]
    base = [t for d in days for t in _every_10_min(d)]
    late_old = _every_10_min("2024-01-02", minute=5, hours=(10, 11))
    into_trimmed = _every_10_min("2024-01-03", minute=5, hours=(6, 18))
    store = RollupStore(str(tmp_path / "trim"), spark)
    store.ingest(_minutes(spark, base + [None]))

    def check(stamps, label):
        ref = RollupStore(str(tmp_path / f"ref_{label}"), spark)
        ref.ingest(_minutes(spark, stamps))
        assert rows_of(store.read_table("rollup_1m")) == rows_of(
            ref.read_table("rollup_1m")), label
        assert rows_of(store.read_tokens("1m")) == rows_of(ref.read_tokens("1m")), label

    # max 01-04 23:50, keep 35h50m + 1 bucket → cutoff 01-03 12:00
    store.expire("1m", keep_buckets=2151)
    store.expire_tokens(keep_buckets=2151)
    assert store.last_expire_stats == {"dropped_parts": days[:2],
                                       "trimmed_parts": ["2024-01-03"]}
    kept = [None] + [t for t in base if t >= "2024-01-03 12:00:00"]
    check(kept, "expired")

    # a second trim of the day only narrows it: a larger keep puts the
    # cutoff at 01-03 11:11, and no expired row comes back
    store.expire("1m", keep_buckets=2200)
    store.expire_tokens(keep_buckets=2200)
    assert store.last_expire_stats == {"dropped_parts": [],
                                       "trimmed_parts": ["2024-01-03"]}
    check(kept, "re-expired")

    # the predicate's bounds are instants: a New York session reading the
    # store expired under UTC hides the same rows (01-03 00:00-04:59 UTC
    # fall on the New York 01-02)
    def instants():
        return [exact_rows(df.select(*(
            F.unix_micros(f.name).alias(f.name)
            if f.dataType.typeName() == "timestamp" else f.name
            for f in df.schema)))
            for df in (store.read_table("rollup_1m"), store.read_tokens("1m"))]
    utc = instants()
    tz_key = "spark.sql.session.timeZone"
    old = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "America/New_York")
    try:
        assert instants() == utc
    finally:
        spark.conf.set(tz_key, old)

    store.ingest(_minutes(spark, late_old))
    check(kept + late_old, "late_old")

    store.ingest(_minutes(spark, into_trimmed))
    version = store.meta["tables"]["rollup_1m"]["version"]
    assert store._m.parts("rollup_1m")["2024-01-03"] == [version]
    assert store._m._preds("rollup_1m") == {}
    assert store._m._preds("tokens_1m") == {}
    check(kept + late_old + into_trimmed, "into_trimmed")
    # 1h and 1d were never expired: they hold every row ingested, late
    # rows into expired 1m days merged into the full coarse cells
    every = RollupStore(str(tmp_path / "ref_every"), spark)
    every.ingest(_minutes(spark, base + [None] + late_old + into_trimmed))
    for tier in ("1h", "1d"):
        assert rows_of(store.read_table(f"rollup_{tier}")) == rows_of(
            every.read_table(f"rollup_{tier}")), tier

    # a second expire trims 01-04; compact re-points it with the same rows
    pre = store.read_table("rollup_1m")  # its files stay: a lazy old view
    store.expire("1m", keep_buckets=1071)  # cutoff 01-04 06:00
    assert store.last_expire_stats["trimmed_parts"] == ["2024-01-04"]
    before = rows_of(store.read_table("rollup_1m"))
    cut = F.lit("2024-01-04 06:00:00").cast("timestamp")
    assert before == rows_of(pre.filter(
        (F.col("bucket") >= cut) | F.col("bucket").isNull()))
    store.compact("rollup_1m", max_files=0)
    assert store._m._preds("rollup_1m") == {}
    assert rows_of(store.read_table("rollup_1m")) == before


def test_expire_reads_int96_footers(spark, tmp_path, monkeypatch):
    """Commits written with INT96 timestamps (no footer min/max, as before
    the footers carried stats) still expire exactly; reading the max
    bucket then costs a Spark job."""
    import pyg_timeseries_spark.plans.manifest as M

    days = ["2024-01-01", "2024-01-02"]
    raw = _minutes(spark, [t for d in days for t in _every_10_min(d)])
    store = RollupStore(str(tmp_path / "int96"), spark)
    monkeypatch.setattr(M, "_TS_STORED", "INT96")
    store.ingest(raw)
    monkeypatch.undo()
    assert store._m.file_stats("rollup_1m", 1, "bucket")["2024-01-02"][1:] == (None, None)
    store.expire("1m", keep_buckets=12 * 60 - 9)  # max 01-02 23:50 → cutoff 12:00
    assert store.last_expire_stats == {"dropped_parts": ["2024-01-01"],
                                       "trimmed_parts": ["2024-01-02"]}
    cut = F.lit("2024-01-02 12:00:00").cast("timestamp")
    assert rows_of(store.read_table("rollup_1m")) == rows_of(
        rollup_from_raw(raw.filter(F.col("ts") >= cut), "1m", tokens=None))


def test_ingest_scan_stats_opt_in(spark, raw, tmp_path):
    """The prev_rows_scanned diagnostics are extra count actions over the
    pruned prev scans — opt-in, so a production batch spends its jobs on
    the commits, not bookkeeping.  Asserted by job count: the same merge
    batch runs strictly fewer Spark jobs without scan stats."""
    cut = F.lit("2024-01-01 03:00:00").cast("timestamp")
    head, tail = raw.filter(F.col("ts") < cut), raw.filter(F.col("ts") >= cut)
    sc = spark.sparkContext

    def jobs_of(label, store_dir, **kw):
        store = RollupStore(str(tmp_path / store_dir), spark)
        store.ingest(head)
        sc.setJobGroup(label, label)
        store.ingest(tail, **kw)
        n = len(sc.statusTracker().getJobIdsForGroup(label))
        sc.setJobGroup(None, None)
        return n, store

    n_default, store = jobs_of("nostats", "js_off")
    assert not any(k.startswith("prev_rows_scanned")
                   for k in store.last_ingest_stats)
    n_stats, store2 = jobs_of("stats", "js_on", with_scan_stats=True)
    assert "prev_rows_scanned_1m" in store2.last_ingest_stats
    assert n_default < n_stats


def test_ingest_empty_batch_noop(spark, raw, tmp_path):
    store = RollupStore(str(tmp_path / "emptyb"), spark)
    store.ingest(raw)
    before = rows_of(store.read_table("rollup_1m"))
    out = store.ingest(raw.filter(F.lit(False)))
    assert rows_of(store.read_table("rollup_1m")) == before
    assert rows_of(out["1m"]) == before
    # and on a fresh store an empty first batch yields empty tiers
    fresh = RollupStore(str(tmp_path / "emptyf"), spark)
    out2 = fresh.ingest(raw.filter(F.lit(False)))
    assert out2["1m"] is None


# -- sketch measures on the cascade ------------------------------------------


def sketch_rows(df):
    pdf = (
        df.select("source", "bucket", "kmv", "sample")
        .toPandas()
        .sort_values(["source", "bucket"])
        .reset_index(drop=True)
    )
    pdf["kmv"] = pdf["kmv"].apply(tuple)
    pdf["sample"] = pdf["sample"].apply(
        lambda a: tuple((e["h"], e["v"]) for e in a)
    )
    return list(map(tuple, pdf.itertuples(index=False)))


def test_sketch_cascade_equals_direct(raw):
    """KMV + bottom-k sample columns cascade exactly: merging fine-tier
    sketches == sketching raw at the coarse tier, element for element."""
    m1 = rollup_from_raw(raw, "1m", sketch_id="doc_id")
    via = m1
    for tier in ("1h", "1d"):
        via = rollup_cascade(via, tier)
        direct = rollup_from_raw(raw, tier, sketch_id="doc_id")
        assert sketch_rows(direct) == sketch_rows(via), tier


def test_sketch_incremental_equals_full(spark, raw, tmp_path):
    """The store's ingest invariant extends to sketch columns bit-for-bit."""
    cut = F.lit("2024-01-01 03:00:00").cast("timestamp")
    full_store = RollupStore(str(tmp_path / "skf"), spark)
    full_tiers = full_store.ingest(raw, sketch_id="doc_id")
    inc_store = RollupStore(str(tmp_path / "ski"), spark)
    inc_store.ingest(raw.filter(F.col("ts") < cut), sketch_id="doc_id")
    inc_tiers = inc_store.ingest(raw.filter(F.col("ts") >= cut),
                                 sketch_id="doc_id")
    for tier in ("1m", "1h", "1d"):
        assert sketch_rows(full_tiers[tier]) == sketch_rows(inc_tiers[tier]), tier


def test_sketch_estimates_sane(spark, raw):
    """1d-tier estimates recover the true distinct-doc count (exact when
    under k) and a median inside the value range."""
    from pyg_timeseries_spark.functions.sketches import (
        bottomk_quantile, kmv_estimate,
    )
    from pyg_timeseries_spark.plans.rollup import SKETCH_K

    d1 = rollup_from_raw(raw, "1d", sketch_id="doc_id")
    got = d1.select(
        "source", "cnt",
        kmv_estimate(F.col("kmv"), SKETCH_K).alias("est"),
        bottomk_quantile(F.col("sample"), 0.5).alias("q50"),
        "min_n_tok", "max_n_tok",
    ).collect()
    assert got
    for r in got:
        # every doc_id is distinct in the fixture → distinct == cnt
        if r["cnt"] < SKETCH_K:
            assert r["est"] == float(r["cnt"])
        else:
            assert abs(r["est"] - r["cnt"]) / r["cnt"] < 1.5  # k=32 is coarse
        assert r["min_n_tok"] <= r["q50"] <= r["max_n_tok"]


# -- compaction ---------------------------------------------------------------


def test_compact_small_files(spark, raw, tmp_path):
    """Three same-day ingests fragment the day's partitions; compact()
    rewrites ONLY fragmented partitions to one file each, rows identical,
    untouched partitions keep their original commit version."""
    store = RollupStore(str(tmp_path / "cmp"), spark)
    thirds = [
        raw.filter(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == i)
        for i in range(3)
    ]
    # a wide write leaves one file per (task, partition); disable AQE's
    # small-data coalescing so this test fragments like a wide cluster
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(coalesce_key)
    spark.conf.set(coalesce_key, "false")
    try:
        # hash split violates the in-bucket append order for token concat,
        # so ingest measures-only (sketches on) — compaction is file layout
        for t in thirds:
            store.ingest(t, tokens=None, sketch_id="doc_id")
    finally:
        spark.conf.set(coalesce_key, old)

    def full_rows(df):
        return (rows_of(df.drop("kmv", "sample")), sketch_rows(df))

    before = full_rows(store.read_table("rollup_1m"))
    frag = store.fragmentation("rollup_1m")
    assert frag, "no partitions?"
    assert max(frag.values()) > 1, "fixture failed to fragment"

    man_before = store._m.parts("rollup_1m")
    stats = store.compact("rollup_1m", max_files=1)
    assert stats["compacted_parts"], "nothing compacted"
    # all compacted partitions now one file
    after = store.fragmentation("rollup_1m")
    for p in stats["compacted_parts"]:
        assert after[p] == 1, (p, after[p])
    # pure motion: identical rows (incl. the sketch columns)
    assert full_rows(store.read_table("rollup_1m")) == before
    # untouched partitions keep their original version
    man_after = store._m.parts("rollup_1m")
    for p, v in man_before.items():
        if p not in stats["compacted_parts"]:
            assert man_after[p] == v, p
    # idempotent: second compact is a no-op
    stats2 = store.compact("rollup_1m", max_files=1)
    assert stats2["compacted_parts"] == []


def test_compact_preserves_time_travel(spark, raw, tmp_path):
    store = RollupStore(str(tmp_path / "cmp_tt"), spark)
    cut = F.lit("2024-01-01 03:00:00").cast("timestamp")
    store.ingest(raw.filter(F.col("ts") < cut), tokens=None)
    store.ingest(raw.filter(F.col("ts") >= cut), tokens=None)
    v2 = store.meta["tables"]["rollup_1m"]["version"]
    v2_rows = rows_of(store.read_table("rollup_1m", version=v2))
    store.compact("rollup_1m", max_files=0)  # force full rewrite
    assert rows_of(store.read_table("rollup_1m", version=v2)) == v2_rows
    assert rows_of(store.read_table("rollup_1m")) == v2_rows


def test_four_way_incremental_equals_full(spark, raw, tmp_path):
    """ingest(q1);...;ingest(q4) == ingest(full) — the resume invariant
    holds under chained multi-batch ingestion, tokens and sketches
    included (time-ordered splits keep the append contract)."""
    cuts = ["2024-01-01 02:00:00", "2024-01-01 04:00:00", "2024-01-01 06:00:00"]
    ts = [F.lit(c).cast("timestamp") for c in cuts]
    quarters = [
        raw.filter(F.col("ts") < ts[0]),
        raw.filter((F.col("ts") >= ts[0]) & (F.col("ts") < ts[1])),
        raw.filter((F.col("ts") >= ts[1]) & (F.col("ts") < ts[2])),
        raw.filter(F.col("ts") >= ts[2]),
    ]
    full = RollupStore(str(tmp_path / "q_full"), spark)
    full_tiers = full.ingest(raw, sketch_id="doc_id")
    inc = RollupStore(str(tmp_path / "q_inc"), spark)
    for q in quarters:
        inc_tiers = inc.ingest(q, sketch_id="doc_id")
    for tier in ("1m", "1h", "1d"):
        a, b = full_tiers[tier], inc_tiers[tier]
        assert rows_of(a.drop("kmv", "sample")) == rows_of(b.drop("kmv", "sample")), tier
        assert sketch_rows(a) == sketch_rows(b), tier
    # chunked token payload too
    def chunk_rows(store):
        pdf = store.read_table("tokens_1m").toPandas().sort_values(
            ["source", "bucket", "part"]).reset_index(drop=True)
        pdf["tokens"] = pdf["tokens"].apply(tuple)
        return list(map(tuple, pdf.itertuples(index=False)))

    assert chunk_rows(inc) == chunk_rows(full)


def test_grouping_sets_equals_cascade(spark, raw):
    """One-shot GROUPING SETS tiers == the cascade's tiers measure-for-
    measure (cnt/sum/min/max on the value column)."""
    from pyg_timeseries_spark.plans.rollup import rollup_grouping_sets

    src = raw.select("source", "ts", F.col("n_tok").cast("double").alias("v"))
    gs = rollup_grouping_sets(src, key="source").persist()
    for tier in ("1m", "1h", "1d"):
        direct = (
            src.groupBy(
                "source", bucket_col("ts", tier, src).alias("bucket")
            ).agg(
                F.count("v").alias("cnt"), F.sum("v").alias("sum_v"),
                F.min("v").alias("min_v"), F.max("v").alias("max_v"),
            )
        )
        got = gs.filter(F.col("tier") == tier).drop("tier").withColumnRenamed(
            "key", "source"
        )
        assert got.exceptAll(direct).count() == 0
        assert direct.exceptAll(got).count() == 0
    gs.unpersist()


def test_grouping_sets_single_exchange(spark, raw):
    """The one-shot plan must be Expand -> one partial+final aggregate with
    a single Exchange (no per-tier jobs)."""
    import contextlib
    import io

    from pyg_timeseries_spark.plans.rollup import rollup_grouping_sets

    src = raw.select("source", "ts", F.col("n_tok").cast("double").alias("v"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rollup_grouping_sets(src, key="source").explain()
    plan = buf.getvalue()
    assert "Expand" in plan
    assert plan.count("Exchange") == 1


def test_sketch_join_null_keys(spark, raw):
    """Cells with NULL source or NULL bucket (null ts) are real group-by
    groups; the sketch re-attach join must be null-safe so they carry
    sketches like any other cell (round-5 ADVICE: a plain equi-join
    silently NULLed their kmv/sample)."""
    few = raw.limit(200)
    nulled = few.withColumn(
        "source",
        F.when(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0, F.lit(None)).otherwise(F.col("source")),
    ).withColumn(
        "ts",
        F.when(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == 0, F.lit(None)).otherwise(F.col("ts")),
    )
    out = rollup_from_raw(nulled, "1h", sketch_id="doc_id")
    null_cells = out.filter(
        F.col("source").isNull() | F.col("bucket").isNull()
    ).collect()
    assert null_cells  # the fixture produces such cells
    for r in null_cells:
        assert r["kmv"] is not None and len(r["kmv"]) > 0, r
        assert r["sample"] is not None and len(r["sample"]) > 0, r


def exact_rows(df):
    """Every row as its repr (floats round-trip exactly), sorted, with the
    schema — a bit-for-bit comparison key."""
    return df.schema.simpleString(), sorted(map(repr, df.collect()))


def test_merge_passes_one_row_cells_through(spark, raw):
    """The precondition of the one-aggregate merge: when every cell has
    exactly one row, merge_rollup returns its input bit-for-bit — long
    sums, min/max, the KMV sketch and the bottom-k sample — and stored
    multi-part chunk rows re-chunked with an empty batch come back
    bit-for-bit too."""
    from pyg_timeseries_spark.plans.rollup import merge_rollup, token_chunk_rows

    m1 = rollup_from_raw(raw, "1m", tokens=None, sketch_id="doc_id").persist()
    web = F.col("source") == "web"
    merged = merge_rollup(m1.filter(web), m1.filter(~web))
    assert exact_rows(merged) == exact_rows(m1)

    chunks = token_chunk_rows(raw, cap=64).persist()
    assert chunks.filter(F.col("part") > 0).count() > 0  # multi-part cells
    again = token_chunk_rows(raw.limit(0), cap=64, prev=chunks)
    assert exact_rows(again) == exact_rows(chunks)
    m1.unpersist()
    chunks.unpersist()


# Spark jobs of the fixture's merge batch (the tail ingest below, lineage
# included): the bound pins the one-aggregate-per-tier commit path
MERGE_BATCH_JOBS = 12


def test_ingest_job_counts(spark, raw, tmp_path):
    """A merge batch stays within its measured job count with its lineage
    recorded — raw rows come from an Observation on the batch, commit rows
    from the written files' footers, so lineage runs no Spark job of its
    own."""
    cut = F.lit("2024-01-01 03:00:30").cast("timestamp")  # mid-bucket
    head, tail = raw.filter(F.col("ts") < cut), raw.filter(F.col("ts") >= cut)
    sc = spark.sparkContext
    store = RollupStore(str(tmp_path / "jobs"), spark)
    store.ingest(head)
    sc.setJobGroup("merge", "merge")
    store.ingest(tail)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("merge"))
    sc.setJobGroup(None, None)
    assert n_jobs <= MERGE_BATCH_JOBS
    lin = store.lineage().toPandas()
    lin = lin[lin.batch_id == 2]
    assert set(lin.stage) == {"raw", "commit_1m", "commit_1h", "commit_1d"}
    assert lin[lin.stage == "raw"].rows.sum() == tail.count()
    per_day = lin[lin.stage == "commit_1m"].set_index("p_day").rows.to_dict()
    got = store.read_table("rollup_1m").groupBy(
        F.to_date("bucket").cast("string")).count().collect()
    assert per_day == {r[0]: r[1] for r in got}


def test_lineage_read_runs_no_job(spark, tmp_path):
    """lineage() is a local frame over the store metadata: after 10 ingests
    it runs no Spark job (an append table of per-stage commits would have
    passed the 32-directory listing threshold), and its per-(batch, stage)
    raw totals replay the batches."""
    raw = sequences(spark, 2_000, interval_s=90, with_tokens=False).persist()
    edges = [f"2024-01-01 {h:02d}:00:30" for h in range(2, 20, 2)]
    bounds = [None, *(F.lit(e).cast("timestamp") for e in edges), None]
    store = RollupStore(str(tmp_path / "lin10"), spark)
    sizes = []
    for lo, hi in zip(bounds, bounds[1:]):
        b = raw
        if lo is not None:
            b = b.filter(F.col("ts") >= lo)
        if hi is not None:
            b = b.filter(F.col("ts") < hi)
        sizes.append(b.count())
        store.ingest(b, tokens=None)
    assert len(sizes) == 10
    sc = spark.sparkContext
    sc.setJobGroup("lineage", "lineage")
    lin = store.lineage()
    assert len(sc.statusTracker().getJobIdsForGroup("lineage")) == 0
    sc.setJobGroup(None, None)
    pdf = lin.toPandas()
    assert pdf[pdf.stage == "raw"].sort_values("batch_id").rows.tolist() == sizes
    assert set(pdf.batch_id) == set(range(1, 11))
    raw.unpersist()


@pytest.mark.parametrize("tz,ts_type,day", [
    ("Asia/Kolkata", "timestamp", "2024-01-01"),
    ("Asia/Kolkata", "timestamp_ntz", "2024-01-01"),
    ("America/New_York", "timestamp", "2024-11-03"),  # the repeated 01:00 hour
])
def test_ingest_under_non_utc_session(spark, tmp_path, tz, ts_type, day):
    """The collected cells (day-partitions, 1h/1d cells, per-source lower
    bounds) live on the bucket's own clock: under a +05:30 session two
    batches cut mid-day equal a one-shot ingest at every tier and in
    read_tokens, for TIMESTAMP and TIMESTAMP_NTZ ``ts``; across a DST
    fall-back both 01:00 hours stay separate cells, as in the direct
    cascade.  An expire at a mid-day cutoff then equals a bucket filter."""
    import datetime as dt

    tz_key = "spark.sql.session.timeZone"
    old = spark.conf.get(tz_key)
    spark.conf.set(tz_key, tz)
    try:
        shift = (dt.date.fromisoformat(day) - dt.date(2024, 1, 1)).days
        raw = sequences(spark, 6_000, interval_s=45).withColumn(
            "ts", (F.col("ts") + F.expr(f"INTERVAL {shift} DAYS")).cast(ts_type)
        ).persist()
        cut = F.lit(f"{day} 13:37:30").cast(ts_type)  # mid-day, mid-minute
        full = RollupStore(str(tmp_path / "tz_full"), spark)
        full.ingest(raw, chunk_cap=64)
        inc = RollupStore(str(tmp_path / "tz_inc"), spark)
        inc.ingest(raw.filter(F.col("ts") < cut), chunk_cap=64)
        inc.ingest(raw.filter(F.col("ts") >= cut), chunk_cap=64)
        assert len(inc.last_ingest_stats["touched_parts"]) >= 2
        direct = rollup_all_tiers(raw, tokens=None)
        for tier in ("1m", "1h", "1d"):
            assert exact_rows(inc.read_table(f"rollup_{tier}")) == exact_rows(
                full.read_table(f"rollup_{tier}")), tier
            assert exact_rows(full.read_table(f"rollup_{tier}")) == exact_rows(
                direct[tier]), tier
            assert exact_rows(inc.read_tokens(tier)) == exact_rows(
                full.read_tokens(tier)), tier
        # retention at a mid-day cutoff (New York: inside the repeated
        # 01:00 hour) equals a plain bucket filter at the cutoff computed
        # as the text arithmetic on the session clock always computed it
        full_1m, full_tok = full.read_table("rollup_1m"), full.read_tokens("1m")
        max_s = full_1m.select(F.max("bucket").cast("string")).first()[0]
        cut_s = f"{day} 01:37:00"
        keep = (dt.datetime.fromisoformat(max_s)
                - dt.datetime.fromisoformat(cut_s)) // dt.timedelta(minutes=1) + 1
        inc.expire("1m", keep)
        assert inc.last_expire_stats == {"dropped_parts": [], "trimmed_parts": [day]}
        inc.expire_tokens(keep)
        kept = F.col("bucket") >= F.lit(cut_s).cast(ts_type)
        assert exact_rows(inc.read_table("rollup_1m")) == exact_rows(full_1m.filter(kept))
        assert exact_rows(inc.read_tokens("1m")) == exact_rows(full_tok.filter(kept))
        raw.unpersist()
    finally:
        spark.conf.set(tz_key, old)
