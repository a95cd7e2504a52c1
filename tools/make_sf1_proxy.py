"""Rebuild the local sf1.0 measurement proxy (driver-scale timing data).

The driver's round-end MEASUREMENT runs at a driver-generated sf1.0 that is
not shipped to the sandbox; BENCH_r05.json records its table sizes
(documents 50k / embeddings 20k / events 1M / seq_rows 2M).  This script
builds a deterministic local stand-in by replicating /root/testdata/sf0.1
10x with per-replica perturbations chosen so that duplicate families stay
finite (a naive copy would give every base document 10 exact clones and
blow MinHash candidate-pair counts quadratically):

- documents: doc_id offset per replica; for r>0 the word order is rotated
  by 7*r positions, which preserves token/char frequency statistics (token
  LM, quality, repetition read realistically) while breaking most k-word
  shingles (MinHash/boilerplate families stay near base-data size).
- embeddings: vec_id offset; deterministic N(0, 0.05*sigma) noise per
  replica (seeded with the replica index) so no cross-replica pair has
  cosine exactly 1 (ANN/near-dup stays realistic).
- events: event_id/ts offset — each replica appends a later time span, so
  per-key series get 10x longer, matching how a larger sf grows.

Timing-only data: correctness is never checked against this proxy.
Usage: python tools/make_sf1_proxy.py [outdir=/root/ldata/sf1.0]
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
REPLICAS = 10


def rotate_words(text: str, k: int) -> str:
    w = text.split(" ")
    k = k % max(len(w), 1)
    return " ".join(w[k:] + w[:k])


def build(outdir: str) -> None:
    os.makedirs(outdir, exist_ok=True)

    # documents
    t = pq.read_table(os.path.join(SRC, "documents.parquet"))
    n = t.num_rows
    parts = []
    texts = t.column("text").to_pylist()
    for r in range(REPLICAS):
        if r == 0:
            parts.append(t)
            continue
        new_text = [rotate_words(x, 7 * r) if x else x for x in texts]
        changed = {
            "doc_id": pc.add(t.column("doc_id"), r * n),
            "text": pa.array(new_text, type=t.schema.field("text").type),
            "n_chars": pa.array([len(x) if x is not None else None
                                 for x in new_text],
                                type=t.schema.field("n_chars").type),
        }
        # every source column, in the source order concat_tables needs
        parts.append(pa.table({c: changed.get(c, t.column(c))
                               for c in t.schema.names}))
    pq.write_table(pa.concat_tables(parts), os.path.join(outdir, "documents.parquet"))

    # embeddings
    t = pq.read_table(os.path.join(SRC, "embeddings.parquet"))
    n = t.num_rows
    emb = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    sigma = emb.std()
    parts = []
    for r in range(REPLICAS):
        if r == 0:
            parts.append(t)
            continue
        rng = np.random.default_rng(1234 + r)
        pert = emb + rng.normal(0.0, 0.05 * sigma, size=emb.shape)
        parts.append(pa.table({
            "vec_id": pc.add(t.column("vec_id"), r * n),
            "embedding": pa.array(pert.tolist(),
                                  type=t.schema.field("embedding").type),
            "label": t.column("label"),
        }))
    pq.write_table(pa.concat_tables(parts), os.path.join(outdir, "embeddings.parquet"))

    # events
    t = pq.read_table(os.path.join(SRC, "events.parquet"))
    n = t.num_rows
    ts_us = t.column("ts").cast(pa.int64())  # timestamp[us] -> raw micros
    tmin = pc.min(ts_us).as_py()
    tmax = pc.max(ts_us).as_py()
    span = (tmax - tmin) + (tmax - tmin) // max(n - 1, 1) + 1
    parts = []
    for r in range(REPLICAS):
        if r == 0:
            parts.append(t)
            continue
        cols = {}
        for name in t.schema.names:
            if name == "event_id":
                cols[name] = pc.add(t.column(name), r * n)
            elif name == "ts":
                cols[name] = pc.add(ts_us, r * span).cast(
                    t.schema.field("ts").type)
            else:
                cols[name] = t.column(name)
        parts.append(pa.table(cols).cast(t.schema))
    pq.write_table(pa.concat_tables(parts), os.path.join(outdir, "events.parquet"))

    # the TPC-H-shaped side tables are not size-sensitive for the headline
    # set — copy them through unchanged so load() finds every table
    for f in os.listdir(SRC):
        if f.endswith(".parquet") and not os.path.exists(os.path.join(outdir, f)):
            shutil.copy(os.path.join(SRC, f), os.path.join(outdir, f))
    open(os.path.join(outdir, "_DONE"), "w").close()
    for f in sorted(os.listdir(outdir)):
        if f.endswith(".parquet"):
            m = pq.ParquetFile(os.path.join(outdir, f)).metadata
            print(f, m.num_rows, "rows", m.num_row_groups, "row groups")


if __name__ == "__main__":
    build(sys.argv[1] if len(sys.argv) > 1 else "/root/ldata/sf1.0")
