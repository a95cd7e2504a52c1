"""Streaming rollup (file source → foreachBatch store ingest; memory-sink
windowed agg) and multimodal binary plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyg_timeseries_spark.datagen import sequences
from pyg_timeseries_spark.multimodal.binaryops import (
    fake_decode_image, frame_sample, image_features, resize_image,
    synthesize_media,
)
from pyg_timeseries_spark.plans.checkpoint import RollupStore
from pyg_timeseries_spark.plans.rollup import rollup_from_raw
from pyg_timeseries_spark.streaming.stream_rollup import (
    start_file_stream_ingest, stream_rollup_1m,
)


def test_stream_rollup_memory_sink(spark, tmp_path):
    raw = sequences(spark, 5000, with_tokens=False)
    src = str(tmp_path / "stream_src")
    raw.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    agg = stream_rollup_1m(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName("m1_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM m1_stream")
    exp = rollup_from_raw(spark.read.parquet(src), "1m", tokens=None)
    g = got.select("source", "bucket", "cnt", "sum_n_tok").toPandas()
    e = exp.select("source", "bucket", "cnt", "sum_n_tok").toPandas()
    g = g.sort_values(["source", "bucket"]).reset_index(drop=True)
    e = e.sort_values(["source", "bucket"]).reset_index(drop=True)
    assert g.equals(e), "streaming 1m rollup != batch rollup"


def test_stream_foreach_batch_ingest_matches_batch(spark, tmp_path):
    raw = sequences(spark, 5000, with_tokens=False)
    src = str(tmp_path / "ingest_src")
    # two files → two-ish micro-batches with availableNow
    raw.filter(F.col("seq") % 2 == 0).coalesce(1).write.parquet(src + "/a.parquet")
    raw.filter(F.col("seq") % 2 == 1).coalesce(1).write.parquet(src + "/b.parquet")
    schema = spark.read.parquet(src + "/a.parquet").schema

    store = RollupStore(str(tmp_path / "stream_store"), spark)
    q = start_file_stream_ingest(
        spark, src + "/*", store, schema,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    batch_store = RollupStore(str(tmp_path / "batch_store"), spark)
    batch_tiers = batch_store.ingest(raw, tokens=None)

    got = store.read_table("rollup_1m").toPandas()
    exp = batch_tiers["1m"].toPandas()
    got = got.sort_values(["source", "bucket"]).reset_index(drop=True)
    exp = exp.sort_values(["source", "bucket"]).reset_index(drop=True)
    cols = ["source", "bucket", "cnt", "sum_n_tok", "sum2_n_tok", "min_n_tok", "max_n_tok"]
    assert got[cols].equals(exp[cols]), "streamed store != batch store"


def test_foreach_batch_replayed_epoch_ingested_once(spark, tmp_path):
    """Exactly-once sink: a micro-batch Spark replays under the same epoch
    id (its ingest committed, its offsets not) is not merged a second
    time — also when the replay comes from a store re-opened from disk."""
    from pyg_timeseries_spark.streaming.stream_rollup import foreach_batch_ingest

    raw = sequences(spark, 2000, with_tokens=False)
    store = RollupStore(str(tmp_path / "replay"), spark)
    foreach_batch_ingest(store)(raw, 0)
    foreach_batch_ingest(store)(raw, 0)
    reopened = RollupStore(str(tmp_path / "replay"), spark)
    foreach_batch_ingest(reopened)(raw, 0)

    once = RollupStore(str(tmp_path / "once"), spark)
    foreach_batch_ingest(once)(raw, 0)
    for tier in ("rollup_1m", "rollup_1h", "rollup_1d"):
        got = reopened.read_table(tier).toPandas().sort_values(["source", "bucket"])
        exp = once.read_table(tier).toPandas().sort_values(["source", "bucket"])
        assert got.reset_index(drop=True).equals(exp.reset_index(drop=True)), tier


def test_stream_ingest_chunked_tokens(spark, tmp_path):
    """foreachBatch ingest of token payloads: streamed micro-batches
    build the same bounded chunk table as one batch ingest."""
    from pyg_timeseries_spark.streaming.stream_rollup import foreach_batch_ingest

    raw = sequences(spark, 4000, with_tokens=True)
    src = str(tmp_path / "ctok_src")
    cut = F.col("seq") < 1200
    raw.filter(cut).coalesce(1).write.parquet(src + "/a.parquet")
    raw.filter(~cut).coalesce(1).write.parquet(src + "/b.parquet")
    schema = spark.read.parquet(src + "/a.parquet").schema

    store = RollupStore(str(tmp_path / "ctok_store"), spark)

    def fn(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        store.ingest(batch_df, tokens="tokens", chunk_cap=256)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src + "/*")
        .writeStream.outputMode("update").foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ctok_ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)

    batch_store = RollupStore(str(tmp_path / "ctok_batch"), spark)
    batch_store.ingest(raw, tokens="tokens", chunk_cap=256)

    def rows(st):
        pdf = st.read_table("tokens_1m").toPandas().sort_values(
            ["source", "bucket", "part"]).reset_index(drop=True)
        pdf["tokens"] = pdf["tokens"].apply(tuple)
        return list(map(tuple, pdf.itertuples(index=False)))

    assert rows(store) == rows(batch_store)
    mx = store.read_table("tokens_1m").select(F.max(F.size("tokens"))).first()[0]
    assert mx <= 256


def test_stream_ewma_out_of_order(spark, tmp_path):
    """transformWithStateInPandas path: late rows inside the watermark revise
    their open bucket; buckets finalize in order through the exact EWM
    kernel when the watermark passes — emitted rows match the batch engine
    over the same finalized buckets."""
    import pandas as pd

    from pyg_timeseries_spark.operators.ewm import ewma
    from pyg_timeseries_spark.streaming.stream_rollup import stream_ewma_ooo

    def mk(rows):
        return pd.DataFrame(rows, columns=["source", "ts", "n_tok"]).assign(
            ts=lambda d: pd.to_datetime(d.ts)
        )

    t0 = "2024-01-01 00:0{m}:{s}"
    f1 = mk([("a", t0.format(m=i, s="10"), float(10 + i)) for i in range(7)]
            + [("b", t0.format(m=i, s="20"), float(50 + i)) for i in range(7)])
    # f2: LATE row into minute 4 (open — wm after f1 is 00:04:30) + advance
    f2 = mk([("a", "2024-01-01 00:04:40", 100.0),
             ("a", "2024-01-01 00:10:10", 1.0),
             ("b", "2024-01-01 00:10:20", 2.0)])
    # f3: advance far enough to flush everything through minute 10
    f3 = mk([("a", "2024-01-01 00:20:00", 5.0),
             ("b", "2024-01-01 00:20:00", 6.0)])

    src = str(tmp_path / "ooo_src")
    for i, f in enumerate([f1, f2, f3]):
        spark.createDataFrame(f).coalesce(1).write.parquet(f"{src}/f{i}.parquet")
        # distinct mtimes → deterministic file order with maxFilesPerTrigger
        import time as _time

        _time.sleep(1.1)

    schema = spark.read.parquet(f"{src}/f0.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = stream_ewma_ooo(stream, 10, watermark="2 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("ewma_ooo")
        .option("checkpointLocation", str(tmp_path / "ooo_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("SELECT * FROM ewma_ooo").toPandas().sort_values(
        ["source", "bucket"]).reset_index(drop=True)

    # batch reference over ALL rows: 1m sums → ewma
    allf = pd.concat([f1, f2, f3], ignore_index=True)
    raw = spark.createDataFrame(allf)
    m1 = raw.groupBy(
        "source", F.date_trunc("minute", "ts").alias("bucket")
    ).agg(F.sum("n_tok").alias("sum_v"))
    exp = ewma(m1, 10, key="source", ts="bucket", v="sum_v").toPandas()

    # finalized set: the event-time timeout adds a flush batch after the
    # last file, so everything closed by the final watermark
    # (00:20 - 2min = 00:18) emits — all buckets except the 00:20 ones.
    exp_final = exp[exp.bucket < pd.Timestamp("2024-01-01 00:18:00")]
    assert len(got) == len(exp_final)
    m = got.merge(exp, on=["source", "bucket"], suffixes=("", "_exp"))
    assert len(m) == len(got)
    # the late f2 row revised minute 4 before it closed
    a4 = got[(got.source == "a")
             & (got.bucket == pd.Timestamp("2024-01-01 00:04:00"))]
    assert len(a4) == 1 and a4["sum_v"].iloc[0] == 114.0
    assert np.array_equal(m["ewma"].to_numpy(float),
                          m["ewma_exp"].to_numpy(float)), "not bit-identical"


def test_media_features_plumbing(spark):
    media = synthesize_media(spark, 60)
    feats = image_features(media).toPandas()
    assert len(feats) == media.filter(F.col("kind") == "image").count()
    assert feats["mean_r"].between(0, 255).all()
    # determinism: same payload → same features on re-run
    feats2 = image_features(media).toPandas()
    assert feats.sort_values("media_id").reset_index(drop=True).equals(
        feats2.sort_values("media_id").reset_index(drop=True)
    )


def test_resize_and_frame_sample(spark):
    media = synthesize_media(spark, 30)
    thumbs = resize_image(media, target=8).toPandas()
    assert (thumbs["thumb"].apply(len) == 8 * 8 * 3).all()
    fs = frame_sample(media, every_n=7).toPandas()
    assert (fs["frame_idx"] % 7 == 0).all()


def test_real_decode_gated():
    with pytest.raises(NotImplementedError):
        from pyg_timeseries_spark.multimodal.binaryops import decode_image

        decode_image(b"notanimage", 4, 4)


def test_fake_decode_deterministic():
    a = fake_decode_image(b"payload", 16, 8)
    b = fake_decode_image(b"payload", 16, 8)
    assert a.shape == (8, 16, 3)
    assert np.array_equal(a, b)


def test_stream_ewma_stateful_matches_batch(spark, tmp_path):
    """Two micro-batches through applyInPandasWithState == one batch EWM."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pyg_timeseries_spark.operators.ewm import ewma as batch_ewma
    from pyg_timeseries_spark.plans.rollup import rollup_from_raw
    from pyg_timeseries_spark.streaming.stream_rollup import stream_ewma

    raw = sequences(spark, 4000, with_tokens=False)
    m1 = rollup_from_raw(raw, "1m", tokens=None).select(
        "source", "bucket", F.col("sum_n_tok").cast("double").alias("sum_n_tok")
    ).persist()
    cut = m1.selectExpr("percentile(cast(bucket as double), 0.5) as c").first()["c"]
    import datetime
    cut_ts = datetime.datetime.utcfromtimestamp(cut)
    src = str(tmp_path / "ewm_stream_src")
    # file names order the micro-batches: a_* then b_*
    m1.filter(F.col("bucket") < F.lit(cut_ts)).coalesce(1).write.parquet(src + "/a.parquet")
    m1.filter(F.col("bucket") >= F.lit(cut_ts)).coalesce(1).write.parquet(src + "/b.parquet")
    schema = spark.read.parquet(src + "/a.parquet").schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        stream_ewma(stream, 10)
        .writeStream.outputMode("append")
        .format("memory").queryName("ewm_stream")
        .option("checkpointLocation", str(tmp_path / "ewm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM ewm_stream").toPandas()
    exp = batch_ewma(
        m1, 10, key="source", ts="bucket", v="sum_n_tok", out="ewma"
    ).toPandas()
    g = got.sort_values(["source", "bucket"]).reset_index(drop=True)
    e = exp.sort_values(["source", "bucket"]).reset_index(drop=True)
    assert len(g) == len(e)
    assert np.array_equal(
        g["ewma"].to_numpy(float), e["ewma"].to_numpy(float), equal_nan=True
    ), "streaming stateful EWM != batch EWM"


def test_stream_ingest_sketch_measures(spark, tmp_path):
    """foreachBatch ingest with sketch_id: the streamed store's tier cells
    carry the same KMV + bottom-k sketches as one batch ingest — the
    union-k-smallest merge is associative across micro-batches."""
    raw = sequences(spark, 4000, with_tokens=False)
    src = str(tmp_path / "sk_src")
    raw.filter(F.col("seq") % 2 == 0).coalesce(1).write.parquet(src + "/a.parquet")
    raw.filter(F.col("seq") % 2 == 1).coalesce(1).write.parquet(src + "/b.parquet")
    schema = spark.read.parquet(src + "/a.parquet").schema

    store = RollupStore(str(tmp_path / "sk_stream"), spark)
    q = start_file_stream_ingest(
        spark, src + "/*", store, schema,
        checkpoint_dir=str(tmp_path / "sk_ckpt"), sketch_id="doc_id",
    )
    q.awaitTermination(180)

    batch_store = RollupStore(str(tmp_path / "sk_batch"), spark)
    batch_tiers = batch_store.ingest(raw, tokens=None, sketch_id="doc_id")

    def srows(df):
        pdf = df.select("source", "bucket", "kmv", "sample").toPandas()
        pdf = pdf.sort_values(["source", "bucket"]).reset_index(drop=True)
        pdf["kmv"] = pdf["kmv"].apply(tuple)
        pdf["sample"] = pdf["sample"].apply(
            lambda a: tuple((e["h"], e["v"]) for e in a))
        return list(map(tuple, pdf.itertuples(index=False)))

    for tier in ("1m", "1h", "1d"):
        assert srows(store.read_table(f"rollup_{tier}")) == srows(
            batch_tiers[tier]), tier


def test_stream_dedup_equals_batch_distinct(spark, tmp_path):
    """Doubled + scrambled backlog through watermarked streaming dedup ==
    batch DISTINCT; state is watermark-bounded by construction."""
    import os
    import uuid

    import pandas as pd

    from pyg_timeseries_spark.streaming.stream_rollup import stream_dedup

    pdf = pd.DataFrame(
        {
            "id": list(range(50)) * 3,  # every id three times
            "ts": pd.date_range("2024-01-01", periods=150, freq="13s"),
            "v": range(150),
        }
    )
    src = str(tmp_path / "src")
    raw = spark.createDataFrame(pdf).withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).select("id", "ts")
    raw.orderBy(F.md5(F.col("id").cast("string"))).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = stream_dedup(stream, ["id"], ts="ts", watermark="1 hour")
    qname = "dd_" + uuid.uuid4().hex[:8]
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName(qname)
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(300)
    got = sorted(r["id"] for r in spark.table(qname).select("id").collect())
    assert got == sorted(range(50))
