"""Versioned rollup + state store with exact, O(delta) incremental refresh.

This is the engine's rendition of the reference's ``persist_data`` incremental
driver (/root/reference/src/pyg_timeseries/_decorators.py:246-330): keep the
rolled-up history, a high-watermark, and per-operator (data, state) rows;
a new batch only touches buckets at/after the watermark, and the result is
bit-identical to recomputing from all raw rows (CI-enforced invariant,
SURVEY.md §7.0).

Storage is a manifest-versioned parquet layout — the Iceberg contract in
miniature, through the one commit primitive of plans/manifest.py:
immutable commit directories, one atomic manifest swap per store operation
(``ingest`` commits every tier, the retained raw, the lineage and the batch
counter together), and a per-partition manifest so a commit rewrites ONLY
the day-partitions its delta touches.  Time-travel = read an older
manifest.  When Iceberg jars are on the classpath the same operations map
to ``writeTo(...).append()`` / ``MERGE INTO`` — gated behind an import-try
in sources/tables.py; the sandbox image has no Iceberg runtime, so the
parquet backend is the tested path.

O(delta) ingest (the engine's core scale claim — at 10^12 sequences the
rollup history is petabytes; re-aggregating it per batch is the scale-killer):

* the existing tier is READ only for the day-partitions the delta touches
  (the manifest lists only their directories — cold history is never
  scanned);
* only (source, bucket) cells present in the delta are re-aggregated; other
  rows in the touched partitions are carried through untouched;
* coarser tiers are recomputed from the merged child tier restricted to the
  affected parent cells — exact regardless of arrival order, because a parent
  cell is always rebuilt from ALL of its child rows (never merged
  incrementally), and O(delta) because a parent cell has a bounded child
  fan-in (60 or 24 rows per source);
* the commit writes only the touched partitions into a new immutable
  directory and flips their manifest entries.

Layout::

    store/
      manifest.json                # {table: {version, snapshots: {N:
                                   #   {parts: {p_day: [commit]}, schema}}}}
      rollup_1m/v{N}/p_day=…/…     # immutable commits, only touched days
      state_{op}/v{N}/*.parquet    # operator state rows (key, state[])
      lineage/v{N}/*.parquet       # per-stage per-partition row counts
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyg_timeseries_spark.plans.manifest import Manifest
from pyg_timeseries_spark.plans.rollup import (
    MAX_TOKENS_PER_ROW, bucket_col, merge_rollup, merge_token_chunks,
    rollup_cascade, rollup_from_raw, token_chunk_rows, tokens_at_tier,
)

PART_COL = "p_day"
_CELL = ["source", "bucket"]


def _with_pday(df: DataFrame) -> DataFrame:
    """Day-partition column from the bucket timestamp.  Component-based (via
    to_date on the already-truncated bucket) so NTZ buckets never route
    through the session timezone."""
    return df.withColumn(PART_COL, F.to_date("bucket").cast("string"))


class RollupStore:
    def __init__(self, path: str, spark: SparkSession):
        self.path = path
        self.spark = spark
        self._m = Manifest(path, spark, {"batches": 0, "raw_complete": None})
        self.last_ingest_stats: dict = {}
        self.last_expire_stats: dict = {}

    @property
    def meta(self) -> dict:
        """The store's metadata: tables plus ``batches``, ``raw_complete``
        and operator watermarks; what is set here lands with the next
        store operation's commit swap."""
        return self._m.meta

    # -- snapshot io (simple whole-table tables: states, chunks) -------------
    def _table_dir(self, name: str, version: int) -> str:
        return self._m.table_dir(name, version)

    def write_table(self, name: str, df: DataFrame) -> int:
        return self._m.commit(name, df)

    # -- partitioned tables (rollup tiers) ------------------------------------
    def commit_partitions(self, name: str, df: DataFrame,
                          touched_parts: list[str]) -> int:
        """Write ``df`` (the full new content of ``touched_parts``) as an
        immutable commit and flip those partitions' manifest entries; a
        touched partition with no rows in ``df`` leaves the manifest."""
        return self._m.commit(name, _with_pday(df), PART_COL, touched_parts)

    def drop_partitions(self, name: str, parts: list[str]) -> int:
        """Metadata-only commit: remove ``parts`` from the live manifest.
        No data is read or written — the Iceberg ``DROP PARTITION`` /
        delete-by-partition-predicate analog (a new manifest simply stops
        referencing the expired day-partitions; expire_snapshots later GCs
        commit dirs nothing references)."""
        return self._m.drop(name, parts)

    def read_table(self, name: str, version: int | None = None,
                   parts: list[str] | None = None) -> DataFrame | None:
        """Current (or time-travel ``version``) view of a table.  For
        partitioned tables, ``parts`` restricts the read to those
        day-partitions — the scan lists only their commit directories, so
        untouched history is never scanned.  None when nothing matches."""
        if not self._m.dirs(name, version, parts):
            return None
        return self._m.read(name, version, parts)

    # -- lineage ------------------------------------------------------------
    def record_lineage(self, batch_id: int, stage: str, df: DataFrame) -> None:
        """Per-partition row counts for the stage input — every stage emits
        lineage (north_rule).  One tiny append commit per stage."""
        counts = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .withColumn("batch_id", F.lit(batch_id))
            .withColumn("stage", F.lit(stage))
            .withColumn("wall_ts", F.lit(time.time()))
        )
        self._m.commit("lineage", counts, append=True)

    def lineage(self) -> DataFrame | None:
        return self.read_table("lineage")

    # -- the incremental driver --------------------------------------------
    def ingest(
        self,
        raw: DataFrame,
        ts: str = "ts",
        v: str = "n_tok",
        tokens: str | None = "tokens",
        key: str = "source",
        with_lineage: bool = True,
        with_scan_stats: bool = False,
        exact_rebuild: bool = False,
        token_mode: str = "chunked",
        chunk_cap: int = MAX_TOKENS_PER_ROW,
        sketch_id: str | None = None,
    ) -> dict[str, DataFrame]:
        """Append a raw batch: roll it up, merge into each tier, commit.

        Exactness argument: 1m cells touched by the delta are either merged
        with the associative bucket algebra (append contract: batches arrive
        time-ordered per key) or, under ``exact_rebuild``, recomputed from
        retained raw; every coarser-tier cell a delta touches is rebuilt from
        ALL of its child rows — so ingest(head); ingest(tail) == ingest(full)
        row-for-row including token arrays.

        Cost argument (O(delta), not O(history)): only delta-touched
        day-partitions are read (manifest pruning), only delta-touched cells
        are re-aggregated, only touched partitions are rewritten.

        ``with_scan_stats`` records prev_rows_scanned_* in
        last_ingest_stats (diagnostic count actions over the pruned prev
        scans; off by default so a batch runs one job per committed table).

        ``exact_rebuild`` lifts the append contract entirely: raw batches are
        retained in the store and any 1m cell touched by BOTH history and
        this batch (an interleaving late arrival) is recomputed from retained
        raw.  Requires every prior batch to have retained raw (guarded).

        ``sketch_id`` names an id column of the raw batch (e.g. doc_id):
        every tier cell then also carries a KMV distinct-count sketch of
        the ids and a bottom-k (id, v) sample for mergeable quantiles
        (plans/rollup.py sketch measures).  Both merge exactly, so the
        incremental invariant extends to the sketch columns bit-for-bit.

        ``token_mode``: 'chunked' (the default — the 100 TB-safe shape)
        stores token payloads ONCE at 1m granularity as bounded part-rows
        ≤ ``chunk_cap`` tokens (tokens_1m table; coarser tiers are
        measures-only and token payloads flatten at read via read_tokens,
        which the tokens_cascade driver oracle checks end-to-end against
        the array-mode 1d rows).  'array' (compat) carries payloads inside
        the tier rows — concatenated per bucket, so a hot (source, day) at
        the 1d tier becomes ONE unbounded row; use only at small scale.
        """
        # every table this batch changes, and the batch counter, land in
        # one manifest swap: a crash at any step leaves the store as it was
        with self._m.operation():
            batch_id = self.meta["batches"] + 1
            if with_lineage:
                self.record_lineage(batch_id, "raw", raw)
            complete = self.meta.get("raw_complete")
            self.meta["raw_complete"] = exact_rebuild if complete is None else (
                complete and exact_rebuild
            )
            if exact_rebuild:
                self._m.commit("raw", raw, append=True)

            chunked = tokens is not None and token_mode == "chunked"
            tier_tokens = None if chunked else tokens
            delta = rollup_from_raw(raw, "1m", ts=ts, v=v, tokens=tier_tokens,
                                    key=key, sketch_id=sketch_id)
            delta = delta.persist()
            touched_parts = [
                r[0] for r in _with_pday(delta).select(PART_COL).distinct().collect()
            ]
            self.last_ingest_stats = {"touched_parts": touched_parts}
            out: dict[str, DataFrame] = {}
            if not touched_parts:  # empty batch: nothing to merge or commit
                delta.unpersist()
                self.meta["batches"] = batch_id
                for tier in ("1m", "1h", "1d"):
                    out[tier] = self.read_table(f"rollup_{tier}")
                return out

            # -- 1m: merge or rebuild delta-touched cells ------------------------
            prev = self.read_table("rollup_1m", parts=touched_parts)
            if prev is None:
                content_1m = delta
            else:
                prev = prev.persist()
                cells = delta.select(*_CELL)
                overlap = prev.join(F.broadcast(cells), _CELL, "left_semi")
                keep = prev.join(F.broadcast(cells), _CELL, "left_anti")
                if exact_rebuild:
                    merged_cells = self._rebuild_overlaps(
                        overlap, delta, lambda r: rollup_from_raw(
                            r, "1m", ts=ts, v=v, tokens=tier_tokens, key=key,
                            sketch_id=sketch_id), ts, key)
                else:
                    merged_cells = merge_rollup(
                        overlap, delta, with_tokens=tier_tokens is not None
                    )
                content_1m = keep.unionByName(merged_cells)
                if with_scan_stats:
                    # extra count action over the (pruned) prev scan — diagnostic
                    # only, so a production batch runs one job per committed table
                    self.last_ingest_stats["prev_rows_scanned_1m"] = prev.count()
            self.commit_partitions("rollup_1m", content_1m, touched_parts)
            if prev is not None:
                prev.unpersist()
            out["1m"] = self.read_table("rollup_1m")
            if with_lineage:
                self.record_lineage(
                    batch_id, "commit_1m",
                    self.read_table("rollup_1m", parts=touched_parts),
                )

            # -- chunked token payload: one bounded-row table at 1m granularity --
            if chunked:
                delta_chunks = token_chunk_rows(
                    raw, ts=ts, tokens=tokens, key=key, cap=chunk_cap
                ).persist()
                prev_c = self.read_table("tokens_1m", parts=touched_parts)
                if prev_c is None:
                    content_c = delta_chunks
                else:
                    c_cells = delta_chunks.select(*_CELL).distinct()
                    overlap_c = prev_c.join(F.broadcast(c_cells), _CELL, "left_semi")
                    keep_c = prev_c.join(F.broadcast(c_cells), _CELL, "left_anti")
                    if exact_rebuild:
                        merged_c = self._rebuild_overlaps(
                            overlap_c, delta_chunks, lambda r: token_chunk_rows(
                                r, ts=ts, tokens=tokens, key=key, cap=chunk_cap),
                            ts, key)
                    else:
                        merged_c = merge_token_chunks(overlap_c, delta_chunks,
                                                      cap=chunk_cap)
                    content_c = keep_c.unionByName(merged_c)
                self.commit_partitions("tokens_1m", content_c, touched_parts)
                delta_chunks.unpersist()
                out["tokens_1m"] = self.read_table("tokens_1m")

            # -- coarser tiers: rebuild affected parent cells from the child ----
            child_tier, delta_cells = "1m", delta.select(*_CELL)
            tier_has_tokens = tier_tokens is not None
            for tier in ("1h", "1d"):
                parent_cells = delta_cells.select(
                    "source", bucket_col("bucket", tier, delta_cells).alias("bucket")
                ).distinct()
                child_now = self.read_table(f"rollup_{child_tier}", parts=touched_parts)
                child_subset = child_now.join(
                    F.broadcast(
                        parent_cells.select(
                            F.col("source").alias("_ps"), F.col("bucket").alias("_pb")
                        )
                    ),
                    (F.col("source") == F.col("_ps"))
                    & (bucket_col("bucket", tier, child_now) == F.col("_pb")),
                    "left_semi",
                )
                recomputed = rollup_cascade(
                    child_subset, tier, with_tokens=tier_has_tokens
                )
                prev_t = self.read_table(f"rollup_{tier}", parts=touched_parts)
                if prev_t is None:
                    content = recomputed
                else:
                    keep_t = prev_t.join(F.broadcast(parent_cells), _CELL, "left_anti")
                    content = keep_t.unionByName(recomputed)
                    if with_scan_stats:
                        self.last_ingest_stats[f"prev_rows_scanned_{tier}"] = (
                            prev_t.count())
                self.commit_partitions(f"rollup_{tier}", content, touched_parts)
                out[tier] = self.read_table(f"rollup_{tier}")
                if with_lineage:
                    # per-stage lineage over the COMMIT content (delta-touched
                    # partitions only — never a full-tier read)
                    self.record_lineage(
                        batch_id, f"commit_{tier}",
                        self.read_table(f"rollup_{tier}", parts=touched_parts),
                    )
                child_tier, delta_cells = tier, parent_cells

            delta.unpersist()
            self.meta["batches"] = batch_id
            return out

    def _rebuild_overlaps(self, overlap, delta, rebuild, ts, key):
        """Recompute from retained raw the (source, bucket) cells present in
        both history and the new delta — the only cells where a concat-order
        merge of measures or token chunks can diverge from a full recompute
        (``rebuild`` maps the cells' raw rows to delta rows; a bucket's
        chunks are a pure function of its full ts-ordered content, so this
        is exact under out-of-order arrival).  Delta-only cells pass
        through unchanged."""
        ov_cells = overlap.select(*_CELL).distinct()
        delta_only = delta.join(F.broadcast(ov_cells), _CELL, "left_anti")
        if ov_cells.isEmpty():
            return delta_only
        if not self.meta.get("raw_complete"):
            raise ValueError(
                "exact_rebuild needs retained raw spanning the store's "
                "history, but earlier batches were ingested with "
                "exact_rebuild=False — the rebuild would undercount."
            )
        raw_all = self.read_table("raw")
        affected_raw = (
            raw_all.withColumn("_b", bucket_col(ts, "1m", raw_all))
            .join(
                F.broadcast(
                    ov_cells.select(
                        F.col("source").alias("_os"), F.col("bucket").alias("_ob")
                    )
                ),
                (F.col(key) == F.col("_os")) & (F.col("_b") == F.col("_ob")),
                "left_semi",
            )
            .drop("_b")
        )
        return delta_only.unionByName(rebuild(affected_raw))

    def read_tokens(self, tier: str = "1m") -> DataFrame | None:
        """Token payloads at any tier granularity, flattened at read from the
        bounded 1m chunk rows (chunked token_mode only)."""
        chunks = self.read_table("tokens_1m")
        if chunks is None:
            return None
        return tokens_at_tier(chunks, tier)

    def sketch_stats(self, tier: str = "1d",
                     quantiles: tuple = (0.5, 0.9)) -> DataFrame | None:
        """Estimates from the sketch measures at a tier (requires the store
        to have been ingested with ``sketch_id``): per (source, bucket) the
        KMV distinct-id estimate and nearest-rank value quantiles from the
        bottom-k sample, alongside the sketch payloads."""
        from pyg_timeseries_spark.functions.sketches import (
            bottomk_quantile, kmv_estimate,
        )
        from pyg_timeseries_spark.plans.rollup import SKETCH_K

        t = self.read_table(f"rollup_{tier}")
        if t is None or "kmv" not in t.columns:
            return None
        cols = [
            "source", "bucket", "cnt",
            F.size("kmv").alias("n_kept"),
            kmv_estimate(F.col("kmv"), SKETCH_K).alias("distinct_est"),
        ]
        for q in quantiles:
            cols.append(
                bottomk_quantile(F.col("sample"), q).alias(f"q{int(q * 100)}")
            )
        return t.select(*cols, "kmv", "sample")

    # -- operator state -----------------------------------------------------
    def write_state(self, op: str, state_df: DataFrame) -> int:
        return self.write_table(f"state_{op}", state_df)

    def read_state(self, op: str) -> DataFrame | None:
        return self.read_table(f"state_{op}")

    # -- retention ----------------------------------------------------------
    _TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}

    # -- compaction ----------------------------------------------------------
    def fragmentation(self, name: str) -> dict:
        """Per live day-partition: the number of parquet data files backing
        it (driver-side listing of the partition's manifest-referenced
        directories — metadata only, no data read)."""
        return {
            p: sum(f.endswith(".parquet")
                   for d in self._m.dirs(name, parts=[p]) for f in os.listdir(d))
            for p in self._m.parts(name)
        }

    def compact(self, name: str, max_files: int = 4) -> dict:
        """Rewrite day-partitions backed by more than ``max_files`` parquet
        files into one coalesced commit — the Iceberg rewrite_data_files
        analog.  A commit writes one file per (task, partition), so wide
        clusters leave every touched day split across as many files as the
        write had tasks (AQE coalescing caps this only up to its target
        size), taxing scan planning and open costs; compaction is incremental
        (only fragmented partitions are read or written — O(fragmented),
        never O(table)) and pure motion: rows are bit-identical, untouched
        partitions keep their original commit version, and prior versions
        stay time-travelable until expire_snapshots GCs them."""
        frag = {
            p: n for p, n in self.fragmentation(name).items() if n > max_files
        }
        stats = {"candidate_parts": sorted(frag), "files_before": frag}
        if not frag:
            stats["compacted_parts"] = []
            self.last_compact_stats = stats
            return stats
        parts = sorted(frag)
        df = self.read_table(name, parts=parts)
        # one shuffle task per day-partition => one output file per day
        df = df.repartition(len(parts), F.to_date("bucket"))
        self.commit_partitions(name, df, parts)
        stats["compacted_parts"] = parts
        stats["files_after"] = {
            p: n for p, n in self.fragmentation(name).items() if p in frag
        }
        self.last_compact_stats = stats
        return stats

    def expire(self, tier: str, keep_buckets: int) -> None:
        """Tier TTL: keep the newest ``keep_buckets`` bucket-intervals,
        measured back from the tier's max bucket (finer tiers retain less
        history — the retention pyramid).

        Cost is O(1 partition), never O(history): the cutoff is derived from
        the newest day-partition alone; whole days older than the cutoff are
        dropped from the manifest WITHOUT being read or rewritten
        (drop_partitions — the Iceberg DROP PARTITION analog, the retention
        half of the reference's persist_data, _decorators.py:246-330); only
        the single boundary day the cutoff bisects is rewritten."""
        self._expire_table(f"rollup_{tier}", keep_buckets,
                           self._TIER_SECONDS[tier])

    def expire_tokens(self, keep_buckets: int) -> None:
        """TTL for the chunked token table (its own retention — token
        payloads are the bulky tier and usually expire before measures)."""
        self._expire_table("tokens_1m", keep_buckets, self._TIER_SECONDS["1m"])

    def _expire_table(self, name: str, keep_buckets: int,
                      interval_s: int) -> None:
        import datetime as _dt

        man = self._m.parts(name)
        if not man:
            return
        newest_day = max(man)  # ISO date strings sort chronologically
        newest = self.read_table(name, parts=[newest_day])
        # collect the max bucket AS A STRING: Spark renders it in the
        # SESSION timezone (TimestampType) or as wall time (NTZ), so the
        # cutoff arithmetic, the p_day labels (to_date under the session
        # tz), and the filter literal below all live on one clock — a
        # datetime collect would arrive in the DRIVER OS timezone instead
        # and shift the cutoff on non-UTC hosts
        max_s = newest.select(F.max("bucket").cast("string")).first()[0]
        if max_s is None:
            return
        max_b = _dt.datetime.fromisoformat(max_s)
        cutoff = max_b - _dt.timedelta(seconds=(keep_buckets - 1) * interval_s)
        cutoff_day = cutoff.date().isoformat()
        expired = [p for p in man if p < cutoff_day]
        self.last_expire_stats = {
            "dropped_parts": sorted(expired), "rewritten_parts": [],
        }
        with self._m.operation():
            if expired:
                self.drop_partitions(name, expired)
            # the boundary day is rewritten only when the cutoff bisects it
            if cutoff.time() != _dt.time.min and cutoff_day in man:
                part = self.read_table(name, parts=[cutoff_day])
                # cast the literal to the bucket's own type (parsed in the
                # same session tz the string above was rendered in)
                cut_lit = F.lit(cutoff.strftime("%Y-%m-%d %H:%M:%S")).cast(
                    part.schema["bucket"].dataType
                )
                boundary = part.filter(F.col("bucket") >= cut_lit)
                self.commit_partitions(name, boundary, [cutoff_day])
                # a boundary day none of whose rows survive left the manifest
                if cutoff_day in self._m.parts(name):
                    self.last_expire_stats["rewritten_parts"] = [cutoff_day]
                else:
                    self.last_expire_stats["dropped_parts"] = sorted(
                        expired + [cutoff_day]
                    )

    def expire_snapshots(self, keep: int = 2) -> None:
        """Keep each table's newest ``keep`` versions and delete the commit
        dirs none of them references (Iceberg expire_snapshots
        equivalent)."""
        self._m.gc(keep)
