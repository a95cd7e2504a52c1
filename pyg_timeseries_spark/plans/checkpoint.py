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
(``ingest`` commits every tier, the retained raw, the lineage records and
the batch counter together), and a per-partition manifest so a commit
rewrites ONLY the day-partitions its delta touches.  Time-travel = read an
older manifest.  With Iceberg jars the same operations map to
``writeTo(...).append()`` / ``MERGE INTO`` tier by tier
(sources/iceberg.py: each tier MERGEs the batch's cells the way ``ingest``
merges them here).

O(delta) ingest (the engine's core scale claim — at 10^12 sequences the
rollup history is petabytes; re-aggregating it per batch is the scale-killer):

* one collect over the delta names what it touches — its day-partitions
  and each source's lowest 1m bucket, as text on the bucket's own clock;
* the existing tier is READ only for the touched day-partitions (the
  manifest lists only their directories — cold history is never scanned);
* every tier is ONE merge aggregate over prev(touched) ∪ the batch's 1m
  rows (at 1h and 1d with the bucket truncated to the tier): a one-row
  cell passes through bit-for-bit, a cell in both merges by the
  associative algebra — order-free, so exact under any arrival order, and
  a coarse cell keeps the share of finer rows an expire removed;
* token payloads live once, in ``tokens_1m``: chunks below a source's
  lowest delta bucket skip the shuffle, the rest re-chunk in the one
  aggregate that chunks the batch's raw rows (under ``exact_rebuild``, a
  bucket in both is re-chunked from retained raw);
* lineage runs no Spark job: raw rows come from an Observation on the
  batch, commit rows per day-partition from the new files' parquet
  footers, and the records land in the store metadata with the swap.

Retention (``expire``, O(1 partition), no Spark job, no file written): the
tier's newest bucket is the footer max of its newest day-partition (the
footers store timestamps as INT64 micros, with min/max), rendered on the
session clock so the cutoff is wall-clock arithmetic on the clock the
p_day labels live on.  Days older than the cutoff leave the manifest; the
day it bisects keeps its files and gets the predicate ``bucket IS NULL OR
bucket < <day start> OR bucket >= <cutoff>`` (both bounds with their
offset, so no reading session timezone moves them), which every read
applies until a commit re-points the day — through a read that applied
it — or a later expire drops it; a second trim of the day narrows it.  The op watermark of ``TimeseriesEngine.apply`` comes
from the same footer max.

Layout::

    store/
      manifest.json                # {table: {version, snapshots: {N:
                                   #   {parts: {p_day: [commit]}, schema,
                                   #    preds: {p_day: row predicate}}}},
                                   #  batches, raw_complete, lineage: [...],
                                   #  op_watermark: {op: bucket text},
                                   #  derived: {table: {parts, preds
                                   #    of the table it was built from}}}
      rollup_1m/v{N}/p_day=…/…     # immutable commits, only touched days
      tokens_1m/v{N}/p_day=…/…     # bounded token chunk rows; the ids
                                   # DELTA_BINARY_PACKED (~2.2 B/token)
      chunks_1m_{v}/v{N}/*.parquet # Gorilla chunks of a tier (derive:
                                   # rebuilt only when the tier changed)
      raw/v{N}/*.parquet           # retained raw batches (exact_rebuild
                                   # with tokens)
      state_{op}/v{N}/*.parquet    # operator state rows (key, state[])
"""

from __future__ import annotations

import datetime as _dt
import os
import re
import time
from typing import Callable
from zoneinfo import ZoneInfo

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from pyg_timeseries_spark.plans.manifest import Manifest
from pyg_timeseries_spark.plans.rollup import (
    MAX_TOKENS_PER_ROW, TIERS, bucket_col, merge_rollup, rollup_cascade,
    rollup_from_raw, token_chunk_rows, tokens_at_tier,
)

PART_COL = "p_day"
_CELL = ["source", "bucket"]
_LINEAGE = "batch_id int, stage string, p_day string, rows long, wall_ts double"


# A row's day-partition label.  Component-based (to_date of the already
# truncated bucket), so NTZ buckets never route through the session
# timezone.
_PDAY = "CAST(to_date(bucket) AS STRING)"


def _with_pday(df: DataFrame) -> DataFrame:
    """Day-partition column from the bucket timestamp."""
    return df.withColumn(PART_COL, F.expr(_PDAY))


def _clock_text(c: Column, dtype) -> Column:
    """A bucket as text on its own clock, read back exactly by a cast to
    ``dtype``: TIMESTAMP in the session timezone with its offset (a
    repeated DST hour stays two values), NTZ as wall time."""
    tz = isinstance(dtype, TimestampType)
    return F.date_format(c, "yyyy-MM-dd HH:mm:ssXXX") if tz else c.cast("string")


_EPOCH = _dt.datetime(1970, 1, 1)


def _session_zone(spark: SparkSession) -> _dt.tzinfo:
    """The session timezone: a region id, or a fixed offset such as
    '+05:30', 'UTC-8' or 'Z'."""
    name = spark.conf.get("spark.sql.session.timeZone")
    m = re.fullmatch(r"(?:Z|UTC|GMT|UT)?(?:([+-])(\d{1,2}):?(\d\d)?(?::?(\d\d))?)?",
                     name)
    if not m:
        return ZoneInfo(name)
    off = _dt.timedelta(hours=int(m[2] or 0), minutes=int(m[3] or 0),
                        seconds=int(m[4] or 0))
    return _dt.timezone(-off if m[1] == "-" else off)


def _on_clock(micros: int, zone: _dt.tzinfo | None) -> _dt.datetime:
    """A timestamp as parquet stores it (int micros) on its own clock: the
    instant in the session ``zone`` (TIMESTAMP), or wall time (``zone``
    None: TIMESTAMP_NTZ)."""
    t = _EPOCH + _dt.timedelta(microseconds=micros)
    return t if zone is None else t.replace(tzinfo=_dt.timezone.utc).astimezone(zone)


def _as_stored(t: _dt.datetime) -> int:
    """The inverse of ``_on_clock``."""
    if t.tzinfo is not None:
        t = t.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return (t - _EPOCH) // _dt.timedelta(microseconds=1)


def _delta_cells(delta: DataFrame) -> list:
    """The batch's one collect: per source its lowest 1m bucket (``lo``,
    as text on the bucket's own clock) and its day-partitions."""
    dt = delta.schema["bucket"].dataType
    return delta.groupBy("source").agg(
        _clock_text(F.min("bucket"), dt).alias("lo"),
        F.collect_set(F.expr(_PDAY)).alias("days"),
    ).collect()


def _sql_lit(v, t) -> str:
    """``v`` as a SQL literal of type ``t``; text travels hex-encoded, so
    nothing needs quoting.  Literals go to Spark as one SQL expression: a
    py4j call per literal costs about a second per hundred cells."""
    x = f"CAST(X'{str(v).encode().hex()}' AS STRING)" if v is not None else "NULL"
    return f"CAST({x} AS {t.simpleString()})"


def _lower_bound(lo: dict, key_t, bucket_t) -> Column:
    """Each row's source's lowest delta bucket (``lo`` text by source);
    NULL for a source the delta does not touch."""
    return F.expr("CASE " + " ".join(
        f"WHEN source <=> {_sql_lit(s, key_t)} THEN {_sql_lit(b, bucket_t)}"
        for s, b in lo.items()) + " END")


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

    def derive(self, name: str, src: str,
               build: Callable[[DataFrame], DataFrame]) -> DataFrame:
        """The whole table ``name`` = ``build`` of ``src``'s live rows,
        rebuilt only when ``src`` changed.

        The store records the snapshot of ``src`` (its live {partition:
        commit versions} and trim predicates) that ``name`` was built from,
        in the same swap as ``name``'s commit.  A call whose record equals
        ``src``'s live snapshot runs no Spark job and writes no file; any
        commit, drop or trim of ``src`` since (an ingest, an expire) makes
        the call rebuild the whole table.  A table written without a record
        is rebuilt once."""
        live = {"parts": self._m.parts(src), "preds": dict(self._m._preds(src))}
        if self.meta.get("derived", {}).get(name) != live:
            rows = self.read_table(src)
            if rows is None:
                raise ValueError(f"{src} is empty — ingest first")
            with self._m.operation():
                self.write_table(name, build(rows))
                self.meta.setdefault("derived", {})[name] = live
        return self.read_table(name)

    # -- lineage ------------------------------------------------------------
    def record_lineage(self, batch_id: int, stage: str, rows: dict) -> None:
        """Row counts of one ingest stage, one record per committed
        day-partition (``rows``: {p_day: rows}; the raw input is keyed
        None) — every stage emits lineage (north_rule).  The records land
        in the store metadata with the operation's swap: no Spark job."""
        now = time.time()
        self.meta.setdefault("lineage", []).extend(
            [batch_id, stage, p, n, now] for p, n in rows.items())

    def lineage(self) -> DataFrame:
        """The lineage records as a local frame (no Spark job to build)."""
        return self.spark.createDataFrame(self.meta.get("lineage", []), _LINEAGE)

    # -- the incremental driver --------------------------------------------
    def ingest(
        self,
        raw: DataFrame,
        ts: str = "ts",
        v: str = "n_tok",
        tokens: str | None = "tokens",
        key: str = "source",
        with_scan_stats: bool = False,
        exact_rebuild: bool = False,
        chunk_cap: int = MAX_TOKENS_PER_ROW,
        sketch_id: str | None = None,
    ) -> dict[str, DataFrame]:
        """Append a raw batch: roll it up, merge into each tier, commit.

        Exactness argument: every tier cell the batch touches is merged
        from its previous row and the batch's 1m rows by the associative
        bucket algebra — integer sums, min/max and sketch unions, all
        order-free — so ingest(head); ingest(tail) == ingest(full) at every
        tier under any arrival order, and a coarse cell keeps the share of
        finer rows an earlier expire removed.  Token payloads live once, in
        ``tokens_1m``, as bounded part-rows of at most ``chunk_cap`` tokens
        concatenated in append order (batches time-ordered per key); tiers
        carry measures only and payloads flatten at read (read_tokens, which
        the tokens_cascade driver oracle checks against the one-shot
        cascade).

        Cost argument (O(delta), not O(history)): only delta-touched
        day-partitions are read (manifest pruning) and rewritten, and each
        table's commit is one query; lineage adds no Spark job.

        ``with_scan_stats`` records prev_rows_scanned_* in
        last_ingest_stats (diagnostic count actions over the pruned prev
        scans, so off by default).

        ``exact_rebuild`` lifts the append contract for token order: raw
        batches are retained in the store and any 1m token bucket touched
        by BOTH history and this batch (an interleaving late arrival) is
        re-chunked from retained raw.  Requires every prior batch to have
        retained raw (guarded); a batch with ``tokens=None`` retains none.

        ``sketch_id`` names an id column of the raw batch (e.g. doc_id):
        every tier cell then also carries a KMV distinct-count sketch of
        the ids and a bottom-k (id, v) sample for mergeable quantiles
        (plans/rollup.py sketch measures).  Both merge exactly, so the
        incremental invariant extends to the sketch columns bit-for-bit.
        """
        # every table this batch changes, the lineage and the batch counter
        # land in one manifest swap: a crash at any step leaves the store as is
        with self._m.operation():
            batch_id = self.meta["batches"] + 1
            complete = self.meta.get("raw_complete")
            # raw is read only to re-chunk tokens: a batch without them
            # retains none, and a later rebuild over it hits the guard
            retain = exact_rebuild and tokens is not None
            self.meta["raw_complete"] = retain and complete is not False
            if retain:
                self._m.commit("raw", raw, append=True)

            def chunk(r, prev=None):
                return token_chunk_rows(r, ts=ts, tokens=tokens, key=key,
                                        cap=chunk_cap, prev=prev)

            obs = Observation()
            delta = rollup_from_raw(
                raw.observe(obs, F.count(F.lit(1)).alias("rows")), "1m", ts=ts,
                v=v, tokens=None, key=key, sketch_id=sketch_id).persist()
            cells = _delta_cells(delta)
            # no cell: an empty batch, maybe optimized away
            self.record_lineage(batch_id, "raw",
                                {None: obs.get["rows"] if cells else 0})
            touched_parts = sorted({d for r in cells for d in r["days"]})
            self.last_ingest_stats = {"touched_parts": touched_parts}
            if not touched_parts:  # empty batch: nothing to merge or commit
                delta.unpersist()
                self.meta["batches"] = batch_id
                return {t: self.read_table(f"rollup_{t}") for t in TIERS}

            def prev_rows(name):
                """The previous rows of ``name``'s touched partitions."""
                prev = self.read_table(name, parts=touched_parts)
                if prev is not None and with_scan_stats:  # extra count action
                    stat = "prev_rows_scanned_" + name.removeprefix("rollup_")
                    self.last_ingest_stats[stat] = prev.count()
                return prev

            def commit(name, df, stage=None):
                version = self.commit_partitions(name, df, touched_parts)
                if stage:
                    stats = self._m.file_stats(name, version)
                    self.record_lineage(batch_id, stage,
                                        {p: st[0] for p, st in stats.items()})
                return self.read_table(name)

            # -- every tier: one merge aggregate over prev(touched) ∪ the
            # batch's 1m rows, bucketed to the tier -----------------------------
            out = {}
            for tier in TIERS:
                prev = prev_rows(f"rollup_{tier}")
                if prev is not None:
                    new = merge_rollup(prev, delta if tier == "1m" else delta.withColumn(
                        "bucket", bucket_col("bucket", tier, delta)))
                elif tier == "1m":  # already one row per cell: no aggregate job
                    new = delta
                else:
                    new = rollup_cascade(delta, tier)
                out[tier] = commit(f"rollup_{tier}", new, f"commit_{tier}")

            # -- token payload: one bounded-row table at 1m granularity ---------
            if tokens is not None:
                new = chunk(raw)
                prev = prev_rows("tokens_1m")
                if prev is not None and exact_rebuild:
                    new = self._rebuild_overlaps(prev, new, chunk, ts, key)
                elif prev is not None:
                    # a source's chunks below its lowest delta bucket pass
                    # through unshuffled; the rest re-chunk with the raw rows
                    key_t, bucket_t = (delta.schema[c].dataType for c in _CELL)
                    lo = _lower_bound({r["source"]: r["lo"] for r in cells},
                                      key_t, bucket_t)
                    late = F.coalesce(F.col("bucket") >= lo, F.lit(False))
                    new = prev.filter(~late).unionByName(chunk(raw, prev.filter(late)))
                out["tokens_1m"] = commit("tokens_1m", new)
            delta.unpersist()
            self.meta["batches"] = batch_id
            return out

    def _rebuild_overlaps(self, prev, chunks, rebuild, ts, key):
        """The new content of tokens_1m's touched partitions under
        exact_rebuild: prev chunk rows of buckets the batch misses,
        batch-only buckets, and the (source, bucket) cells present in both
        prev and the batch re-chunked from retained raw — the only cells
        where append-order concatenation can diverge from a full recompute
        (``rebuild`` maps the cells' raw rows to chunk rows; a bucket's
        chunks are a pure function of its full ts-ordered content, so this
        is exact under out-of-order arrival)."""
        cells = F.broadcast(chunks.select(*_CELL).distinct())
        keep = prev.join(cells, _CELL, "left_anti")
        ov_cells = prev.join(cells, _CELL, "left_semi").select(*_CELL).distinct()
        delta_only = chunks.join(F.broadcast(ov_cells), _CELL, "left_anti")
        if ov_cells.isEmpty():
            return keep.unionByName(delta_only)
        if not self.meta.get("raw_complete"):
            raise ValueError(
                "exact_rebuild needs retained raw spanning the store's history, but "
                "earlier batches were ingested with exact_rebuild=False or "
                "tokens=None — the rebuild would undercount.")
        raw_all = self.read_table("raw")
        ov = ov_cells.select(F.col("source").alias("_os"), F.col("bucket").alias("_ob"))
        affected_raw = raw_all.join(
            F.broadcast(ov), (F.col(key) == F.col("_os"))
            & (bucket_col(ts, "1m", raw_all) == F.col("_ob")), "left_semi")
        return keep.unionByName(delta_only).unionByName(rebuild(affected_raw))

    def read_tokens(self, tier: str = "1m") -> DataFrame | None:
        """Token payloads at any tier granularity, flattened at read from the
        bounded 1m chunk rows."""
        chunks = self.read_table("tokens_1m")
        return None if chunks is None else tokens_at_tier(chunks, tier)

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
        return t.select(
            "source", "bucket", "cnt",
            F.size("kmv").alias("n_kept"),
            kmv_estimate(F.col("kmv"), SKETCH_K).alias("distinct_est"),
            *(bottomk_quantile(F.col("sample"), q).alias(f"q{int(q * 100)}")
              for q in quantiles),
            "kmv", "sample",
        )

    # -- operator state -----------------------------------------------------
    def write_state(self, op: str, state_df: DataFrame) -> int:
        return self.write_table(f"state_{op}", state_df)

    def read_state(self, op: str) -> DataFrame | None:
        return self.read_table(f"state_{op}")

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
        frag = {p: n for p, n in self.fragmentation(name).items() if n > max_files}
        parts = sorted(frag)
        stats = {"candidate_parts": sorted(frag), "files_before": frag,
                 "compacted_parts": parts}
        if parts:
            df = self.read_table(name, parts=parts)
            # one shuffle task per day-partition => one output file per day
            self.commit_partitions(
                name, df.repartition(len(parts), F.expr(_PDAY)), parts)
            stats["files_after"] = {
                p: n for p, n in self.fragmentation(name).items() if p in frag}
        self.last_compact_stats = stats
        return stats

    # -- retention ----------------------------------------------------------
    _TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}

    def expire(self, tier: str, keep_buckets: int) -> None:
        """Tier TTL: keep the newest ``keep_buckets`` bucket-intervals,
        measured back from the tier's max bucket (finer tiers retain less
        history — the retention pyramid).

        A manifest edit that runs no Spark job and writes no file (the
        Iceberg DROP PARTITION / Delta log-delete analog, the retention half
        of the reference's persist_data, _decorators.py:246-330): the max
        bucket comes from the newest day-partition's parquet footers; whole
        days older than the cutoff leave the manifest unread; the one
        boundary day the cutoff bisects keeps its files and gets a row
        predicate that hides its buckets below the cutoff, applied at read
        until a commit re-points or drops the day."""
        self._expire_table(f"rollup_{tier}", keep_buckets,
                           self._TIER_SECONDS[tier])

    def expire_tokens(self, keep_buckets: int) -> None:
        """TTL for the chunked token table (its own retention — token
        payloads are the bulky tier and usually expire before measures)."""
        self._expire_table("tokens_1m", keep_buckets, self._TIER_SECONDS["1m"])

    def _bucket_max(self, name: str, day: str) -> int | None:
        """Day-partition ``day``'s largest bucket as stored (int micros),
        from its parquet footers: no Spark job.  A commit written as INT96
        has no footer min/max; then one job reads it."""
        his = [self._m.file_stats(name, v, "bucket", [day])[day][2]
               for v in self._m.parts(name)[day]]
        if None not in his:
            return max(his)
        return self.read_table(name, parts=[day]).select(
            F.unix_micros(F.max("bucket"))).first()[0]

    def newest_bucket(self, name: str) -> _dt.datetime | None:
        """The table's newest bucket on its own clock — aware in the session
        timezone (TIMESTAMP) or naive wall time (TIMESTAMP_NTZ) — from the
        newest day-partition's footers; None with no dated row."""
        # NULL buckets sit under a non-date label and hold no newest bucket
        days = [p for p in self._m.parts(name) if p[:1].isdigit()]
        hi = self._bucket_max(name, max(days)) if days else None
        if hi is None:
            return None
        ts = isinstance(self._m.schema(name)["bucket"].dataType, TimestampType)
        return _on_clock(hi, _session_zone(self.spark) if ts else None)

    def _expire_table(self, name: str, keep_buckets: int,
                      interval_s: int) -> None:
        hi = self.newest_bucket(name)
        if hi is None:
            return
        man = self._m.parts(name)
        # wall-clock arithmetic on the clock the p_day labels live on; the
        # result has fold=0, so a repeated or skipped hour resolves as
        # Spark's cast of the text resolves it
        cutoff = hi - _dt.timedelta(seconds=(keep_buckets - 1) * interval_s)
        cutoff_day = cutoff.date().isoformat()
        expired = [p for p in man if p < cutoff_day]
        trim = cutoff.time() != _dt.time.min and cutoff_day in man
        if trim and self._bucket_max(name, cutoff_day) < _as_stored(cutoff):
            expired, trim = expired + [cutoff_day], False  # no row survives
        self.last_expire_stats = {"dropped_parts": sorted(expired),
                                  "trimmed_parts": [cutoff_day] if trim else []}
        with self._m.operation():
            # drop, then trim: the snapshot before the trim already lacks
            # the dropped days, so expire_snapshots(keep=2) frees them
            if expired:
                self.drop_partitions(name, expired)
            if trim:
                # rows of other days lie below the day's start (00:00 on
                # the clock the labels were written on) or past the cutoff;
                # both bounds carry their offset (TIMESTAMP), so the same
                # rows hide under any reading session timezone
                t = self._m.schema(name)["bucket"].dataType
                start, cut = (_sql_lit(b.isoformat(" "), t) for b in (
                    cutoff.replace(hour=0, minute=0, second=0, microsecond=0),
                    cutoff))
                self._m.trim(name, {cutoff_day: (
                    f"bucket IS NULL OR bucket < {start} OR bucket >= {cut}")})

    def expire_snapshots(self, keep: int = 2) -> None:
        """Keep each table's newest ``keep`` versions and delete the commit
        dirs none of them references (Iceberg expire_snapshots
        equivalent)."""
        self._m.gc(keep)
