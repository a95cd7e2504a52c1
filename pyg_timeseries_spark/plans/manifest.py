"""One commit primitive under every parquet store of the engine (Delta
Lake's log in miniature).  A store directory holds one ``manifest.json``
— written only here — and immutable commit directories ``<table>/v{N}``,
each written once by ``df.write.partitionBy(col).parquet``.  Per table and
retained version the manifest maps each live partition to the commits
whose ``col=<value>`` directory holds its rows, plus the schema written and
a row predicate per trimmed partition.

* Commit: only partitions that got a directory move.  A replace table
  (rollup tiers, labels, state) re-points them, and a touched partition
  that wrote no rows leaves the map; an append table (dedup layers, raw)
  adds the commit to them and keeps no history.  Timestamps are written as
  INT64 micros, so every footer carries their min/max (INT96 carries none).
* Trim: a metadata-only commit gives a partition a SQL row predicate; the
  partition's files stay and reads skip the rows it rejects; a second
  trim of the partition ANDs its predicate with the first.  A commit
  that re-points the partition, or a drop, clears it — the new content
  was read through the predicate.
* One swap per store operation: every table an operation changes lands in
  one ``os.replace`` as the outermost :meth:`Manifest.operation` exits; if
  the operation raises, the view reloads from disk, so readers never see
  a partial operation and a retry rewrites the same ``v{N}`` directories.
* Read: ``spark.read.schema(recorded).parquet(*partition_dirs)`` — one
  relation whatever the commit count, no schema-inference job, and no
  partition column (explicit partition directories do not carry it); the
  predicates of the partitions read apply as one filter on it.
* GC deletes, after its swap, every commit directory no retained version
  references: expired snapshots and the leftovers of crashed writes.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# INT96, Spark's default for TIMESTAMP, leaves no min/max in the footers;
# a write option does not reach the parquet write support, the session does
_TS_TYPE, _TS_STORED = "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"


class Manifest:
    def __init__(self, root: str, spark: SparkSession, fields: dict | None = None):
        """``fields``: the store's own metadata (counters, watermarks) with
        their empty-store values; they land in the same swaps as tables."""
        self.root = root
        self.spark = spark
        self.file = os.path.join(root, "manifest.json")
        self._fields = fields or {}
        self._depth = 0
        os.makedirs(root, exist_ok=True)
        self._reload()

    def _reload(self) -> None:
        self._sweep = False
        if os.path.exists(self.file):
            with open(self.file) as f:
                self.meta = json.load(f)
        else:
            self.meta = {"tables": {}, **copy.deepcopy(self._fields)}

    @contextmanager
    def operation(self):
        """Group one store operation's commits into one atomic swap.
        Nested operations join the outermost one."""
        outer = self._depth == 0
        self._depth += 1
        try:
            yield
            if outer:
                tmp = self.file + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(self.meta, f)
                os.replace(tmp, self.file)  # the atomic pointer swap
                if self._sweep:
                    self._delete_unreferenced()
        except BaseException:
            if outer:
                self._reload()
            raise
        finally:
            self._depth -= 1

    # -- tables -------------------------------------------------------------
    def table_dir(self, table: str, version: int) -> str:
        return os.path.join(self.root, table, f"v{version}")

    def version(self, table: str) -> int:
        """The table's newest version; 0 = no such table."""
        return self.meta["tables"].get(table, {}).get("version", 0)

    def _snapshot(self, table: str, version: int | None = None) -> dict | None:
        info = self.meta["tables"].get(table)
        return info and info["snapshots"].get(str(version or info["version"]))

    def _preds(self, table: str) -> dict[str, str]:
        """The live {partition: row predicate} of trimmed partitions."""
        snap = self._snapshot(table)
        return snap.get("preds", {}) if snap else {}

    def schema(self, table: str) -> StructType | None:
        """The live schema written (without the partition column)."""
        snap = self._snapshot(table)
        return StructType.fromJson(snap["schema"]) if snap else None

    def parts(self, table: str) -> dict[str, list[int]]:
        """The live map {partition: [commit versions]}."""
        snap = self._snapshot(table)
        return copy.deepcopy(snap["parts"]) if snap else {}

    def dirs(self, table: str, version: int | None = None,
             parts: list | None = None) -> list[str]:
        """The directories holding the table's rows at ``version``,
        restricted to ``parts`` when given."""
        snap = self._snapshot(table, version)
        if not snap:
            return []
        pcol = self.meta["tables"][table]["pcol"]
        want = None if parts is None else set(map(str, parts))
        return [
            self.table_dir(table, v) + (f"/{pcol}={p}" if pcol else "")
            for p, vs in sorted(snap["parts"].items())
            if want is None or p in want
            for v in vs
        ]

    def read(self, table: str, version: int | None = None,
             parts: list | None = None) -> DataFrame | None:
        """The table's rows at ``version``, restricted to ``parts``; an
        empty frame when no partition matches, None with no such table."""
        snap = self._snapshot(table, version)
        if not snap:
            return None
        schema = StructType.fromJson(snap["schema"])
        dirs = self.dirs(table, version, parts)
        if not dirs:
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.schema(schema).parquet(*dirs)
        want = None if parts is None else set(map(str, parts))
        preds = [c for p, c in sorted(snap.get("preds", {}).items())
                 if want is None or p in want]
        return df.filter(" AND ".join(f"({c})" for c in preds)) if preds else df

    def file_stats(self, table: str, version: int, column: str | None = None,
                   parts: list | None = None) -> dict[str, tuple]:
        """Per partition of commit ``version`` (only ``parts``, if given):
        (rows, min, max), the rows summed from its parquet footers and the
        min/max of ``column`` as stored (a timestamp as int micros; None
        without footer stats) — a local metadata read that runs no Spark
        job."""
        import pyarrow.parquet as pq

        base = self.table_dir(table, version)
        pcol = self.meta["tables"][table]["pcol"]
        want = None if parts is None else {f"{pcol}={p}" for p in parts}
        out = {}
        for d in sorted(os.listdir(base)):
            if not d.startswith(f"{pcol}=") or want is not None and d not in want:
                continue
            sub, rows, st = os.path.join(base, d), 0, []
            for f in os.listdir(sub):
                if not f.endswith(".parquet"):
                    continue
                md = pq.read_metadata(os.path.join(sub, f))
                rows += md.num_rows
                for rg in map(md.row_group, range(md.num_row_groups)):
                    st += [c.statistics for c in map(rg.column, range(rg.num_columns))
                           if c.path_in_schema == column]
            ok = st and all(s is not None and s.has_min_max for s in st)
            out[d.split("=", 1)[1]] = (rows, *(
                (min(s.min_raw for s in st), max(s.max_raw for s in st))
                if ok else (None, None)))
        return out

    def _publish(self, table: str, parts: dict, schema: dict, preds: dict,
                 history: bool = True) -> int:
        info = self.meta["tables"][table]
        info["version"] += 1
        if not history:
            info["snapshots"] = {}
        info["snapshots"][str(info["version"])] = {
            "parts": parts, "schema": schema, "preds": preds}
        return info["version"]

    def commit(self, table: str, df: DataFrame, pcol: str | None = None,
               touched: list | None = None, append: bool = False) -> int:
        """Write ``df`` as the table's next commit and point the partitions
        it wrote at it.  A replace commit first drops ``touched`` (None:
        every partition) from the map."""
        with self.operation():
            info = self.meta["tables"].setdefault(
                table, {"version": 0, "pcol": pcol, "snapshots": {}})
            path = self.table_dir(table, info["version"] + 1)
            w = df.write.mode("overwrite")
            old = self.spark.conf.get(_TS_TYPE)
            self.spark.conf.set(_TS_TYPE, _TS_STORED)
            try:
                (w.partitionBy(pcol) if pcol else w).parquet(path)
            finally:
                self.spark.conf.set(_TS_TYPE, old)
            written = [d.split("=", 1)[1] for d in os.listdir(path)
                       if d.startswith(f"{pcol}=")] if pcol else [""]
            parts = self.parts(table)
            if not append:
                gone = parts if touched is None else set(map(str, touched))
                parts = {p: vs for p, vs in parts.items() if p not in gone}
            for p in written:
                parts[p] = (parts.get(p, []) if append else []) + [info["version"] + 1]
            # a re-pointed or dropped partition's new content has no trim
            preds = {p: c for p, c in self._preds(table).items()
                     if p in parts and (append or p not in written)}
            schema = StructType([f for f in df.schema.fields if f.name != pcol])
            return self._publish(table, parts, schema.jsonValue(), preds, not append)

    def drop(self, table: str, parts: list) -> int:
        """Metadata-only commit: ``parts`` leave the table's map."""
        with self.operation():
            snap, gone = self._snapshot(table), set(map(str, parts))
            live = {p: vs for p, vs in snap["parts"].items() if p not in gone}
            preds = {p: c for p, c in self._preds(table).items() if p in live}
            return self._publish(table, live, snap["schema"], preds)

    def trim(self, table: str, preds: dict[str, str]) -> int:
        """Metadata-only commit: each partition in ``preds`` reads only the
        rows that meet its SQL condition, which must pass every row of the
        table's other partitions.  A trim only narrows: a partition already
        trimmed reads the rows that meet both conditions."""
        with self.operation():
            snap, live = self._snapshot(table), dict(self._preds(table))
            for p, c in preds.items():
                if live.get(p) not in (None, c):
                    c = f"({live[p]}) AND ({c})"
                live[p] = c
            return self._publish(table, snap["parts"], snap["schema"], live)

    # -- garbage collection --------------------------------------------------
    def gc(self, keep: int) -> None:
        """Retain each table's newest ``keep`` versions; once that swap has
        landed, delete the commit directories none of them references."""
        with self.operation():
            for info in self.meta["tables"].values():
                snaps = info["snapshots"]
                info["snapshots"] = {v: snaps[v] for v in sorted(snaps, key=int)[-keep:]}
            self._sweep = True

    def _delete_unreferenced(self) -> None:
        self._sweep = False
        for table, info in self.meta["tables"].items():
            live = {f"v{v}" for snap in info["snapshots"].values()
                    for vs in snap["parts"].values() for v in vs}
            base = os.path.join(self.root, table)
            for d in os.listdir(base) if os.path.isdir(base) else ():
                if d[:1] == "v" and d[1:].isdigit() and d not in live:
                    shutil.rmtree(os.path.join(base, d))
