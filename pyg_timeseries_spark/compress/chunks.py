"""Spark plumbing for Gorilla-compressed series chunks.

A downsampled series (e.g. the 1m rollup's sum_n_tok per source) is packed
into one BinaryType blob per (source, chunk) — delta-of-delta timestamps +
XOR-compressed values — and unpacked back losslessly.  Encode and decode run
as Arrow-batched grouped pandas UDFs; blobs live in the rollup store like
any other table, so the state/retention machinery applies.

Chunking by a coarse window (default 1 day per chunk) bounds blob size and
preserves partition pruning: a time-range query only decodes the chunks
whose window overlaps.

Timestamps cross Arrow only as integers.  Spark turns each one into epoch
micros before the encode UDF (``unix_micros``: the instant of a TIMESTAMP;
the wall time of a TIMESTAMP_NTZ) and back after the decode UDF
(``timestamp_micros``), to the type the chunks were encoded from — the type
of ``chunk_start``, the chunk's first timestamp.  No wall time is rendered
on the session clock on either side, so a round trip is exact under any
session timezone, across a DST fall-back, and with encode and decode in
different sessions.  The blob holds whole epoch seconds; a sub-second
timestamp raises rather than being rounded.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyg_timeseries_spark.compress import gorilla

_US = 1_000_000
_EPOCH_NTZ = "TIMESTAMP_NTZ'1970-01-01 00:00:00'"


def _to_micros(c: Column, dtype: T.DataType) -> Column:
    """Epoch micros: the instant (TIMESTAMP) or the wall time (NTZ)."""
    if isinstance(dtype, T.TimestampNTZType):
        return F.timestamp_diff("MICROSECOND", F.expr(_EPOCH_NTZ), c)
    return F.unix_micros(c)


def _from_micros(c: Column, dtype: T.DataType) -> Column:
    """The inverse of ``_to_micros``."""
    if isinstance(dtype, T.TimestampNTZType):
        return F.timestamp_add("MICROSECOND", c, F.expr(_EPOCH_NTZ))
    return F.timestamp_micros(c)


def compress_series(
    df: DataFrame,
    key: str = "source",
    ts: str = "bucket",
    v: str = "sum_n_tok",
    chunk: str = "day",
) -> DataFrame:
    """(key, ts, v) rows → (key, chunk_start, n_points, blob) rows, one per
    key and ``chunk`` window (a ``date_trunc`` unit on the session clock)."""
    t = df.schema[ts].dataType
    win = _to_micros(F.date_trunc(chunk, F.col(ts)).cast(t), t)
    src = df.select(key, win.alias("_w"), _to_micros(F.col(ts), t).alias("_t"),
                    F.col(v).cast("double").alias("_v"))
    out_schema = T.StructType([
        df.schema[key],
        T.StructField("_t0", T.LongType()),
        T.StructField("n_points", T.LongType()),
        T.StructField("blob", T.BinaryType()),
    ])

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_t")
        us = pdf["_t"].to_numpy(np.int64)
        if (us % _US).any():
            raise ValueError("Gorilla chunks store whole epoch seconds; "
                             f"{ts} has a sub-second timestamp")
        blob = gorilla.encode_chunk(us // _US, pdf["_v"].to_numpy())
        return pd.DataFrame({key: [pdf[key].iloc[0]], "_t0": [us[0]],
                             "n_points": [len(pdf)], "blob": [blob]})

    return src.groupBy(key, "_w").applyInPandas(enc, schema=out_schema).select(
        key, _from_micros(F.col("_t0"), t).alias("chunk_start"),
        "n_points", "blob")


def decompress_series(
    chunks: DataFrame,
    key: str = "source",
    ts_name: str = "bucket",
    v_name: str = "sum_n_tok",
) -> DataFrame:
    """Inverse of compress_series — exact round-trip; the timestamps come
    back with ``chunk_start``'s type."""
    out_schema = T.StructType([
        chunks.schema[key],
        T.StructField("_t", T.LongType()),
        T.StructField(v_name, T.DoubleType()),
    ])

    def dec(pdf: pd.DataFrame) -> pd.DataFrame:
        ts, vals = zip(*(gorilla.decode_chunk(bytes(b)) for b in pdf["blob"]))
        return pd.DataFrame({
            key: np.repeat(pdf[key].to_numpy(), [len(x) for x in ts]),
            "_t": np.concatenate(ts) * _US,
            v_name: np.concatenate(vals),
        })

    t = chunks.schema["chunk_start"].dataType
    return chunks.groupBy(key, "chunk_start").applyInPandas(dec, schema=out_schema) \
        .select(key, _from_micros(F.col("_t"), t).alias(ts_name), v_name)


def compression_report(chunks: DataFrame) -> DataFrame:
    """bytes-per-point diagnostics (raw float64+int64 = 16 bytes/point)."""
    return chunks.select(
        "n_points",
        F.length("blob").alias("bytes"),
        (F.length("blob") / F.col("n_points")).alias("bytes_per_point"),
    ).agg(
        F.sum("n_points").alias("points"),
        F.sum("bytes").alias("bytes"),
        (F.sum("bytes") / F.sum("n_points")).alias("bytes_per_point"),
        F.lit(16.0).alias("raw_bytes_per_point"),
    )
