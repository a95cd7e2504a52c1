"""End-to-end engine: incremental ingest + resumable EWM over the 1m tier +
Gorilla compression + lineage — incremental == full, bit-for-bit."""

import time

import numpy as np
from pyspark.sql import functions as F

from pyg_timeseries_spark.datagen import sequences
from pyg_timeseries_spark.operators.ewm import ewma_
from pyg_timeseries_spark.plans.pipeline import TimeseriesEngine


def _incremental_apply_equals_sweep(spark, tmp_path, raw, cut):
    """Ingest raw below/above ``cut`` with a resumable ewma_ pass after each
    ingest; the two passes together must equal one pass over all of raw."""
    cut = F.lit(cut).cast("timestamp")
    head = raw.filter(F.col("ts") < cut)
    tail = raw.filter(F.col("ts") >= cut)

    # full run
    full_eng = TimeseriesEngine(spark, str(tmp_path / "full"))
    full_eng.ingest(raw, tokens=None)
    full_out = full_eng.apply(ewma_, "1m", "ewma10", n=10).toPandas()

    # incremental run: head, operator pass, then tail, operator pass
    inc_eng = TimeseriesEngine(spark, str(tmp_path / "inc"))
    inc_eng.ingest(head, tokens=None)
    first = inc_eng.apply(ewma_, "1m", "ewma10", n=10).toPandas()
    inc_eng.ingest(tail, tokens=None)
    second = inc_eng.apply(ewma_, "1m", "ewma10", n=10).toPandas()

    # align: full rows per key == first+second rows per key
    fullp = full_out.sort_values(["key", "ts"]).reset_index(drop=True)
    inc = (
        np.concatenate([
            np.concatenate([
                first[first.key == k].sort_values("ts")["ewma"].to_numpy(),
                second[second.key == k].sort_values("ts")["ewma"].to_numpy(),
            ])
            for k in sorted(fullp.key.unique())
        ])
    )
    assert np.array_equal(fullp["ewma"].to_numpy(), inc, equal_nan=True), (
        "incremental operator pass != full pass"
    )
    return inc_eng


def test_engine_end_to_end_incremental(spark, tmp_path):
    raw = sequences(spark, 20_000, with_tokens=False).persist()
    inc_eng = _incremental_apply_equals_sweep(spark, tmp_path, raw, "2024-01-01 01:30:00")

    # compression round-trip on the tier
    chunks = inc_eng.compress_tier("1m")
    assert chunks.count() > 0
    rep = chunks.select((F.sum(F.length("blob")) / F.sum("n_points")).alias("bpp")).first()
    assert rep["bpp"] < 16.0

    # lineage recorded both batches
    lin = inc_eng.lineage().toPandas()
    assert set(lin.batch_id) == {1, 2}
    raw.unpersist()


def test_apply_watermark_on_session_clock(spark, tmp_path, monkeypatch):
    """The op watermark is the tier's max bucket on the session clock, not
    on the driver process's: with the process in New York and the session
    in UTC, the second pass starts after the first pass's last bucket."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        raw = sequences(spark, 20_000, interval_s=5, with_tokens=False).persist()
        inc_eng = _incremental_apply_equals_sweep(
            spark, tmp_path, raw, "2024-01-01 12:00:00")
        assert inc_eng.store.meta["op_watermark"]["ewma10"] == (
            inc_eng.tier("1m").select(F.max("bucket").cast("string")).first()[0]
            + "+00:00")
        raw.unpersist()
    finally:
        monkeypatch.undo()
        time.tzset()


def _chunk_rows(df):
    return sorted(df.select("source", F.unix_micros("chunk_start"), "n_points",
                            "blob").collect())


def _decoded_equals_tier(eng, chunks):
    from pyg_timeseries_spark.compress.chunks import decompress_series

    tier = eng.tier("1m").select("source", F.unix_micros("bucket"),
                                 F.col("sum_n_tok").cast("double"))
    back = decompress_series(chunks).select("source", F.unix_micros("bucket"),
                                            "sum_n_tok")
    return sorted(back.collect()) == sorted(tier.collect())


def test_compress_tier_reencodes_only_a_changed_tier(spark, tmp_path):
    """A second compress_tier call on an unchanged tier runs no Spark job
    and writes no file; after an ingest the chunks are re-encoded,
    bit-equal to a fresh encode of the tier; after an expire they decode
    to exactly the trimmed tier; a chunk table written without a record of
    its tier (as an earlier compress_tier wrote it) is rebuilt once, not
    served alongside the new chunks."""
    from pyg_timeseries_spark.compress.chunks import compress_series

    raw = sequences(spark, 4_000, interval_s=120, with_tokens=False).persist()
    cut = F.lit("2024-01-02 12:00:30").cast("timestamp")  # mid-minute
    eng = TimeseriesEngine(spark, str(tmp_path / "gz"))
    store, name, sc = eng.store, "chunks_1m_sum_n_tok", spark.sparkContext
    eng.ingest(raw.filter(F.col("ts") < cut), tokens=None)
    eng.compress_tier("1m")

    version = store._m.version(name)
    sc.setJobGroup("again", "again")
    eng.compress_tier("1m")
    assert len(sc.statusTracker().getJobIdsForGroup("again")) == 0
    sc.setJobGroup(None, None)
    assert store._m.version(name) == version

    eng.ingest(raw.filter(F.col("ts") >= cut), tokens=None)
    chunks = eng.compress_tier("1m")
    assert store._m.version(name) == version + 1
    assert _chunk_rows(chunks) == _chunk_rows(
        compress_series(eng.tier("1m"), key="source", ts="bucket"))

    eng.expire("1m", 1_500)  # drops the first day, trims the second
    stats = store.last_expire_stats
    assert stats["dropped_parts"] and stats["trimmed_parts"]
    assert _decoded_equals_tier(eng, eng.compress_tier("1m"))

    # a chunk table with no record of the tier it was encoded from
    with store._m.operation():
        store.write_table(name, store.read_table(name, version=version))
        del store.meta["derived"][name]
    assert _decoded_equals_tier(eng, eng.compress_tier("1m"))
    raw.unpersist()
