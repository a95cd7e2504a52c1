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
