"""Gorilla codec: lossless round-trip (property-based) + Spark chunk table
round-trip + compression-ratio sanity."""

import numpy as np
from hypothesis import given, settings, strategies as st

from pyg_timeseries_spark.compress import gorilla


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=0, max_size=300)
)
@settings(max_examples=50, deadline=None)
def test_timestamps_roundtrip(deltas):
    ts = np.cumsum(np.array([1_700_000_000] + deltas, dtype=np.int64))
    assert np.array_equal(gorilla.decode_timestamps(gorilla.encode_timestamps(ts)), ts)


@given(
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        min_size=0,
        max_size=300,
    )
)
@settings(max_examples=50, deadline=None)
def test_values_roundtrip(vals):
    a = np.array(vals, dtype=np.float64)
    out = gorilla.decode_values(gorilla.encode_values(a))
    # bit-for-bit, including NaN payloads
    assert np.array_equal(a.view(np.uint64), out.view(np.uint64))


def test_chunk_roundtrip_and_ratio():
    rng = np.random.default_rng(7)
    n = 5000
    ts = 1_700_000_000 + np.arange(n, dtype=np.int64) * 60  # regular 1m grid
    vals = np.round(rng.normal(1000, 5, n))  # integerish counts
    blob = gorilla.encode_chunk(ts, vals.astype(float))
    ts2, v2 = gorilla.decode_chunk(blob)
    assert np.array_equal(ts, ts2)
    assert np.array_equal(vals.astype(float), v2)
    # regular grid timestamps ≈ free; integerish values compress well
    assert len(blob) < n * 16 * 0.5, f"poor compression: {len(blob)/n:.1f} B/pt"


def test_spark_chunk_roundtrip(spark):
    from pyg_timeseries_spark.compress.chunks import (
        compress_series, compression_report, decompress_series,
    )
    from pyg_timeseries_spark.datagen import sequences
    from pyg_timeseries_spark.plans.rollup import rollup_from_raw

    raw = sequences(spark, 20_000, with_tokens=False)
    m1 = rollup_from_raw(raw, "1m", tokens=None)
    chunks = compress_series(m1).persist()
    back = decompress_series(chunks)

    a = m1.select("source", "bucket", F_round("sum_n_tok")).toPandas()
    b = back.select("source", "bucket", F_round("sum_n_tok")).toPandas()
    a = a.sort_values(["source", "bucket"]).reset_index(drop=True)
    b = b.sort_values(["source", "bucket"]).reset_index(drop=True)
    assert (a["source"] == b["source"]).all()
    assert (a["bucket"].astype("int64") == b["bucket"].astype("int64")).all()
    assert np.array_equal(a.iloc[:, 2].to_numpy(), b.iloc[:, 2].to_numpy())

    rep = compression_report(chunks).collect()[0]
    assert rep["bytes_per_point"] < 16.0


def F_round(c):
    from pyspark.sql import functions as F

    return F.col(c).cast("double").alias(c)


def test_spark_chunk_roundtrip_on_any_session_clock(spark, tmp_path):
    """240 1m points across the New York fall-back (2024-11-03 04:00-08:00
    UTC) come back on their own instants under UTC, Asia/Kolkata and New
    York, and with encode and decode in different sessions; an NTZ series
    comes back as the same wall times, still NTZ."""
    from pyspark.sql import functions as F

    from pyg_timeseries_spark.compress.chunks import (
        compress_series, decompress_series,
    )

    t0 = 1_730_606_400  # 2024-11-03 04:00:00 UTC
    rows = [("a", (t0 + 60 * i) * 1_000_000, float(i % 7)) for i in range(240)]
    zones = ("UTC", "Asia/Kolkata", "America/New_York")

    def session(tz):
        s = spark.newSession()
        s.conf.set("spark.sql.session.timeZone", tz)
        return s

    for i, (enc_tz, dec_tz) in enumerate(
            [(z, z) for z in zones] + [(zones[2], zones[0]), (zones[0], zones[1])]):
        enc = session(enc_tz)
        series = enc.createDataFrame(rows, "source string, us long, sum_n_tok double")
        for ts_type in ("timestamp", "timestamp_ntz"):
            path = str(tmp_path / f"{ts_type}{i}")
            df = series.select("source", F.timestamp_micros("us").cast(ts_type)
                               .alias("bucket"), "sum_n_tok")
            want = sorted(df.select("source", F.col("bucket").cast("string"),
                                    "sum_n_tok").collect())
            compress_series(df).write.parquet(path)
            back = decompress_series(session(dec_tz).read.parquet(path))
            assert back.schema["bucket"].dataType == df.schema["bucket"].dataType
            if ts_type == "timestamp":  # the instants
                got = sorted(back.select("source", F.unix_micros("bucket"),
                                         "sum_n_tok").collect())
                assert got == sorted(rows), (enc_tz, dec_tz)
            else:  # the wall times, whatever either session's clock
                got = sorted(back.select("source", F.col("bucket").cast("string"),
                                         "sum_n_tok").collect())
                assert got == want, (enc_tz, dec_tz)
