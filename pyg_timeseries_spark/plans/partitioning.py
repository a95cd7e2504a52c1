"""Partitioning, skew handling, and segment-chained stateful execution.

Two distinct scale problems, two mechanisms (SURVEY.md §7.3):

1. **Bucket aggregations** (raw→1m): keyed on (source, bucket) — a hot
   `source` is harmless because bucket cardinality grows with data volume;
   AQE splits any residual reducer skew.  `repartition_for_rollup` simply
   pre-spreads raw rows on (source, bucket-hash) when an upstream layout is
   pathological (e.g. a single source file).

2. **Per-key sequential kernels** (EWM family): groupBy(key).applyInPandas
   needs a key's whole (bucketed) series in one task.  For a key too long /
   too hot for one task, `run_segmented` slices the series into contiguous
   time segments and chains the kernel's (data, state) pairs segment-to-
   segment: segment k runs from segment k-1's final state.  Because every
   engine kernel is an exact sequential recurrence, the chained run is
   BIT-IDENTICAL to one sweep (the head/tail invariant applied k times) —
   this is the "salting + state stitching" of the north rule: within a
   segment all keys run in parallel; peak task memory is bounded by the
   segment length, not series length.

   The segments execute as a short driver loop of Spark jobs (S jobs).
   Wall-clock per key is inherently sequential — the recurrence's data
   dependency — but throughput across keys stays fully parallel and
   bounded-memory.  (A parallel-prefix affine scan could remove the
   sequential wall too, at the cost of bit-exactness; rejected while the
   north rule demands exact resume parity.)
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def repartition_for_rollup(df: DataFrame, key: str = "source", ts: str = "ts",
                           n_partitions: int | None = None) -> DataFrame:
    """Spread raw rows by (key, coarse time) ahead of the bucket aggregation
    so no input partition is single-source (defeats pathological layouts;
    the aggregation itself re-shuffles on (key, bucket))."""
    parts = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(parts, F.col(key), F.date_trunc("hour", F.col(ts)))


def time_segments(df: DataFrame, n_segments: int, ts: str = "ts") -> list:
    """Global time-range boundaries splitting df into n contiguous segments
    (computed from min/max — one cheap agg; boundaries are data-independent
    given the range, so re-runs are deterministic)."""
    lo, hi = df.select(F.min(ts), F.max(ts)).first()
    if lo is None or n_segments <= 1:
        return [(None, None)]
    total = (hi - lo).total_seconds() or 1.0
    bounds = [lo + (hi - lo) * i / n_segments for i in range(1, n_segments)]
    edges = [None, *bounds, None]
    return [(edges[i], edges[i + 1]) for i in range(len(edges) - 1)]


def merge_state(prev: DataFrame | None, new: DataFrame, key: str) -> DataFrame:
    """Carry state forward across segments: a key with no rows in a segment
    emits no row in ``new``, so its accumulated state must survive from
    ``prev`` (otherwise the next segment restarts it from scratch — silently
    wrong for sparse/irregular keys).  New rows win; prior rows for absent
    keys are kept via anti-join."""
    if prev is None:
        return new
    carried = prev.join(new.select(key), on=key, how="left_anti")
    return new.unionByName(carried)


def run_segmented(
    df: DataFrame,
    op_: Callable[..., tuple[DataFrame, DataFrame]],
    n_segments: int,
    ts: str = "ts",
    state_df: DataFrame | None = None,
    **op_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """Run a stateful (data, state) operator (e.g. operators.ewm.ewma_) over
    contiguous time segments, chaining state.  Returns (data, final_state);
    data is the union of per-segment outputs — bit-identical to a single
    sweep.  State for keys absent from a segment is carried forward
    unchanged (merge_state), so sparsity never resets a key."""
    key = op_kwargs.get("key", "key")
    segments = time_segments(df, n_segments, ts=ts)
    out_parts: list[DataFrame] = []
    state = state_df
    for lo, hi in segments:
        seg = df
        if lo is not None:
            seg = seg.filter(F.col(ts) >= F.lit(lo))
        if hi is not None:
            seg = seg.filter(F.col(ts) < F.lit(hi))
        data, seg_state = op_(seg, ts=ts, state_df=state, **op_kwargs)
        # cut the lineage: each segment's state plan embeds the previous
        # one three times (prior join, merge, anti-join), so an uncut
        # chain grows ~3^k and planning 6 segments alone can exhaust the
        # JVM heap.  The state is one small row per key.
        state = merge_state(state, seg_state, key).localCheckpoint()
        out_parts.append(data)
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionByName(p)
    return out, state
