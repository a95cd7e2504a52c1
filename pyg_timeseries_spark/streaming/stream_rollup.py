"""Structured Streaming front-end for the rollup engine.

Batch and streaming share one aggregation definition: `stream_rollup_1m`
applies the same (source, 1-minute window) measures as plans/rollup.py
(`_raw_measures`) but over a streaming DataFrame with a watermark — late
rows inside the watermark re-aggregate their open bucket (the reference's
same-time-unit replace, `_ewm.py:41-44`, at bucket granularity); rows
later than the watermark are dropped deterministically.

`foreach_batch_ingest` is the exactly-once sink: each micro-batch flows
through RollupStore.ingest, and the batch's epoch id lands in the same
manifest swap as the ingest, so an epoch Spark replays after a crash (its
ingest committed, its offsets not) is skipped instead of merged twice.

(The sandbox driver contract is batch; this module is exercised by
tests/test_streaming.py with a file source + memory/foreachBatch sinks.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyg_timeseries_spark.plans.checkpoint import RollupStore
from pyg_timeseries_spark.plans.rollup import ROLLUP_COLS, _raw_measures


def stream_rollup_1m(
    stream_df: DataFrame,
    ts: str = "ts",
    v: str = "n_tok",
    key: str = "source",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Continuous 1m aggregate with late-data tolerance of ``watermark``."""
    return (
        stream_df.withWatermark(ts, watermark)
        .groupBy(F.col(key).alias("source"), F.window(ts, "1 minute").alias("w"))
        .agg(*_raw_measures(ts, v))
        .select("source", F.col("w.start").alias("bucket"), *ROLLUP_COLS[2:])
    )


def foreach_batch_ingest(store: RollupStore, ts: str = "ts", v: str = "n_tok",
                         tokens: str | None = None, key: str = "source",
                         sketch_id: str | None = None):
    """foreachBatch callback: route each raw micro-batch through the
    incremental store, once per (query, epoch).
    ``sketch_id`` forwards the per-cell KMV + bottom-k sketch measures —
    their union-merge is associative, so the streaming tiers carry the
    same sketches a batch ingest would."""

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        query = str(batch_df.sparkSession.sparkContext.getLocalProperty(
            "sql.streaming.queryId"))
        epochs = store.meta.setdefault("stream_epochs", {})
        if epochs.get(query, -1) >= epoch_id or batch_df.isEmpty():
            return
        # committed by the ingest's swap; a failed ingest reloads it away
        epochs[query] = epoch_id
        store.ingest(batch_df, ts=ts, v=v, tokens=tokens, key=key,
                     sketch_id=sketch_id)

    return fn


def start_file_stream_ingest(
    spark,
    input_dir: str,
    store: RollupStore,
    schema,
    ts: str = "ts",
    v: str = "n_tok",
    key: str = "source",
    checkpoint_dir: str | None = None,
    sketch_id: str | None = None,
):
    """File-source streaming ingestion into the rollup store (the local
    stand-in for a Kafka source; same code path from the watermark down)."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    q = (
        stream.writeStream.outputMode("update")
        .foreachBatch(foreach_batch_ingest(store, ts=ts, v=v, key=key,
                                           sketch_id=sketch_id))
        .option("checkpointLocation", checkpoint_dir or (store.path + "/_stream_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    return q


def stream_ewma_ooo(
    stream_df,
    n: float,
    key: str = "source",
    ts: str = "ts",
    v: str = "n_tok",
    out: str = "ewma",
    bucket_minutes: int = 1,
    watermark: str = "2 minutes",
):
    """Out-of-order-tolerant stateful streaming EWM over 1m buckets via
    ``applyInPandasWithState`` with an event-time timeout:

    * rows accumulate into OPEN (source, bucket) cells held in the
      GroupState — a late row inside the watermark revises its open bucket
      (the reference's in-bucket refresh, `_ewm.py:41-44`, at bucket
      granularity);
    * when the event-time watermark passes a bucket's end (checked on every
      invocation, and keys with no new rows get a timeout callback via
      ``setTimeoutTimestamp``), closed buckets finalize IN BUCKET ORDER
      through the exact EWM kernel, chaining the packed (data, state)
      vector — the emitted series is bit-identical to the batch engine over
      the same finalized buckets;
    * rows later than the watermark are dropped by Spark deterministically.

    Emits one row per FINALIZED bucket: (key, bucket, sum_v, ewma).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from pyg_timeseries_spark.kernels import ewm_numpy

    bucket_ms = bucket_minutes * 60_000
    out_schema = T.StructType(
        [
            T.StructField(key, T.StringType()),
            T.StructField("bucket", T.TimestampType()),
            T.StructField("sum_v", T.DoubleType()),
            T.StructField(out, T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("packed", T.ArrayType(T.DoubleType())),
            T.StructField("open_buckets", T.ArrayType(T.LongType())),
            T.StructField("open_sums", T.ArrayType(T.DoubleType())),
        ]
    )

    def fn(group_key, pdf_iter, state: GroupState):
        packed, open_map = None, {}
        if state.exists:
            packed, bks, sums = state.get
            open_map = dict(zip(bks or [], sums or []))
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            tsv = pdf[ts].astype("datetime64[ms]").astype("int64")
            bks_new = (tsv // bucket_ms) * bucket_ms
            for b_ms, s_v in (
                pd.Series(pdf[v].astype(float).values).groupby(bks_new.values).sum()
            ).items():
                open_map[int(b_ms)] = open_map.get(int(b_ms), 0.0) + float(s_v)
        wm = state.getCurrentWatermarkMs()
        closed = sorted(b for b in open_map if b + bucket_ms <= wm)
        frames = []
        if closed:
            vals = np.array([open_map.pop(b) for b in closed])
            prior = (
                np.asarray(packed, float)
                if packed is not None and len(packed) == ewm_numpy.STATE_LEN
                else None
            )
            res, s = ewm_numpy.ewma(vals, n, state=prior)
            packed = [float(x) for x in s]
            frames.append(
                pd.DataFrame(
                    {
                        key: group_key[0],
                        "bucket": pd.to_datetime(np.array(closed), unit="ms"),
                        "sum_v": vals,
                        out: res,
                    }
                )
            )
        state.update((packed, sorted(open_map), [open_map[b] for b in sorted(open_map)]))
        if open_map:
            # wake this key when the watermark can close its oldest bucket
            state.setTimeoutTimestamp(min(open_map) + bucket_ms)
        for f in frames:
            yield f

    return (
        stream_df.select(key, ts, v)
        .withWatermark(ts, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_ewma(
    stream_df,
    n: float,
    key: str = "source",
    ts: str = "bucket",
    v: str = "sum_n_tok",
    out: str = "ewma",
):
    """Stateful streaming EWM mean via ``applyInPandasWithState``: per key the
    GroupState holds exactly the engine's packed kernel state
    (kernels/ewm_numpy.py), so a restarted / resumed stream continues
    bit-identically — the reference's (data, state) invariant lifted onto
    Structured Streaming.

    Contract: rows must arrive time-ordered per key across micro-batches
    (use a watermark + sorted sources upstream); within a batch any order is
    fine (sorted here).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from pyg_timeseries_spark.kernels import ewm_numpy

    out_schema = T.StructType(
        [
            T.StructField(key, T.StringType()),
            T.StructField(ts, T.TimestampType()),
            T.StructField(v, T.DoubleType()),
            T.StructField(out, T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("packed", T.ArrayType(T.DoubleType()))]
    )

    def fn(group_key, pdf_iter, state: GroupState):
        prior = None
        if state.exists:
            (packed,) = state.get
            if packed is not None and len(packed) == ewm_numpy.STATE_LEN:
                prior = np.asarray(packed, dtype=np.float64)
        frames = [p for p in pdf_iter]
        pdf = pd.concat(frames, ignore_index=True).sort_values(ts)
        a = pdf[v].to_numpy(dtype=np.float64, na_value=np.nan)
        res, s = ewm_numpy.ewma(a, n, state=prior)
        state.update(([float(x) for x in s],))
        yield pd.DataFrame(
            {
                key: group_key[0],
                ts: pdf[ts].values,
                v: pdf[v].values,
                out: res,
            }
        )

    return (
        stream_df.select(key, ts, v)
        .groupBy(key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def stream_dedup(
    stream: DataFrame,
    keys: list[str],
    ts: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup on ``keys`` with watermark-bounded state
    (dropDuplicatesWithinWatermark): the first arrival wins; a duplicate
    arriving within the watermark of the kept row is dropped; state for a
    key is evicted once the watermark passes it — the ingest-side dedup
    for a continuously-arriving corpus, bounded-memory by construction
    (unlike an unbounded dropDuplicates, whose state never expires).

    Exactness contract: when every duplicate pair arrives within the
    watermark window (always true for an availableNow replay of a finite
    backlog), the kept set equals batch ``SELECT DISTINCT keys`` — which is
    how the driver oracles it."""
    return stream.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(keys)
