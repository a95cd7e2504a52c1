"""End-to-end engine façade: ingest → tiers → operators → compression,
with every stage resumable and lineage-tracked.

This is the integration layer a user drives (SURVEY.md §3.4): a
`TimeseriesEngine` wraps a RollupStore and exposes

  ingest(raw)                    — incremental tier refresh (exact)
  tier(name)                     — current rollup DataFrame
  apply(op_, tier, **kw)         — run a stateful operator over a tier,
                                   persisting its state in the store under
                                   op_name; next call resumes exactly
  compress_tier(tier)            — Gorilla chunk table for the tier,
                                   re-encoded only when the tier changed
  lineage()                      — per-batch, per-stage row counts of each
                                   committed day-partition
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyg_timeseries_spark.compress.chunks import compress_series
from pyg_timeseries_spark.plans.checkpoint import RollupStore


class TimeseriesEngine:
    def __init__(self, spark: SparkSession, store_path: str):
        self.spark = spark
        self.store = RollupStore(store_path, spark)

    # -- ingestion ----------------------------------------------------------
    def ingest(self, raw: DataFrame, **kw) -> dict[str, DataFrame]:
        return self.store.ingest(raw, **kw)

    def tier(self, name: str) -> DataFrame | None:
        return self.store.read_table(f"rollup_{name}")

    # -- stateful operators over tiers --------------------------------------
    def apply(
        self,
        op_: Callable[..., tuple[DataFrame, DataFrame]],
        tier: str,
        op_name: str,
        v: str = "sum_n_tok",
        new_only: bool = True,
        **op_kwargs,
    ) -> DataFrame:
        """Run a stateful (data, state) operator over a rollup tier, resuming
        from (and updating) the state persisted under ``op_name``.

        With ``new_only`` the operator only processes buckets after the
        state's checkpoint — incremental cost O(delta).  The bucket AT the
        checkpoint is not re-folded: if a later ingest merges rows into it
        (a batch cut mid-bucket), the state keeps its earlier value and the
        incremental passes differ from one sweep.  Cut ingest batches on
        the tier's bucket boundaries when using ``new_only``.
        """
        df = self.tier(tier)
        if df is None:
            raise ValueError(f"tier {tier} is empty — ingest first")
        src = df.select(
            F.col("source").alias("key"), F.col("bucket").alias("ts"),
            F.col(v).cast("double").alias("v"),
        )
        prior = self.store.read_state(op_name)
        if prior is not None and new_only:
            # state rows carry no timestamp; the op watermark is tracked in meta
            cut = self.store.meta.get("op_watermark", {}).get(op_name)
            if cut is not None:
                src = src.filter(
                    F.col("ts") > F.lit(cut).cast(df.schema["bucket"].dataType))
        data, state = op_(src, state_df=prior, **op_kwargs)
        # the tier's max bucket as text on its own clock (a TIMESTAMP with
        # its offset), read from footers; it lands in the state's swap
        hi = self.store.newest_bucket(f"rollup_{tier}")
        self.store.meta.setdefault("op_watermark", {})[op_name] = (
            hi and hi.isoformat(" "))
        self.store.write_state(op_name, state)
        return data

    # -- compression --------------------------------------------------------
    def compress_tier(self, tier: str, v: str = "sum_n_tok") -> DataFrame:
        """The tier's ``v`` series as Gorilla chunks, one per (source, day),
        in the table ``chunks_{tier}_{v}``.  Kept by ``RollupStore.derive``:
        the chunks are re-encoded only when an ingest or an expire changed
        the tier since the last call; on an unchanged tier a call runs no
        Spark job and writes no file."""
        return self.store.derive(
            f"chunks_{tier}_{v}", f"rollup_{tier}",
            lambda df: compress_series(df, key="source", ts="bucket", v=v))

    def lineage(self) -> DataFrame:
        return self.store.lineage()

    def expire(self, tier: str, keep_buckets: int) -> None:
        self.store.expire(tier, keep_buckets)
