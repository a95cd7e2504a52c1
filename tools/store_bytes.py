"""Where a store's bytes go, read from its parquet footers alone (no Spark).

Usage: python tools/store_bytes.py <store_dir>

For every table (the top-level directories of the store, e.g. ``rollup_1m``
or ``tokens_1m``) it sums over every parquet file on disk: files, rows and
file bytes, then per column the compressed bytes, the leaf values (a list
column counts its elements), bytes per row and per value, and the
encodings the writer chose.  Files a manifest no longer references count
too, as they do on disk until the store's GC deletes them.
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

import pyarrow.parquet as pq


def table_stats(table_dir: str) -> dict:
    """{files, rows, bytes, chunks: {column path: [column chunk metadata]}}
    over every parquet file under ``table_dir``."""
    out = {"files": 0, "rows": 0, "bytes": 0, "chunks": defaultdict(list)}
    for d, _, names in os.walk(table_dir):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            f = os.path.join(d, name)
            md = pq.read_metadata(f)
            out["files"] += 1
            out["rows"] += md.num_rows
            out["bytes"] += os.path.getsize(f)
            for rg in map(md.row_group, range(md.num_row_groups)):
                for c in map(rg.column, range(rg.num_columns)):
                    out["chunks"][c.path_in_schema].append(c)
    return out


def store_stats(store_dir: str) -> dict[str, dict]:
    """``table_stats`` per table directory of the store."""
    return {t: table_stats(os.path.join(store_dir, t))
            for t in sorted(os.listdir(store_dir))
            if os.path.isdir(os.path.join(store_dir, t))}


def main(store_dir: str) -> None:
    total = 0
    for table, st in store_stats(store_dir).items():
        rows = max(st["rows"], 1)
        total += st["bytes"]
        print(f"{table}: {st['files']} files, {st['rows']} rows, "
              f"{st['bytes']} B, {st['bytes'] / rows:.1f} B/row")
        for col, cs in sorted(st["chunks"].items()):
            size = sum(c.total_compressed_size for c in cs)
            values = sum(c.num_values for c in cs)
            enc = set().union(*(c.encodings for c in cs))
            print(f"  {col:<28} {size:>10} B {size / rows:>9.2f} B/row "
                  f"{size / max(values, 1):>7.2f} B/value  {','.join(sorted(enc))}")
    print(f"total: {total} B")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
