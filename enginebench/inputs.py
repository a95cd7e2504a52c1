"""Seeded input generation in numpy/pyarrow — no Spark job makes input.

Rows have the engine's input shape ``(doc_id, tokens, n_tok, source)``
plus the event time ``ts``.  Five sources share every day at skewed rates
(web about half).  Batch ``k`` holds one day of rows, from day ``k`` at
13:37:30 UTC up to the same instant a day later, so every cut falls in the
middle of a minute and of a day: a batch always re-touches the minute and
the day-partition its predecessor ended in, and ingest takes the merge
path.  Event times are whole seconds, unique per source, so "ts order"
is a total order within a source.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = ("web", "code", "books", "wiki", "chat")
SHARES = (0.50, 0.20, 0.15, 0.10, 0.05)
VOCAB = 50_257
MAX_TOK = 256
DAY_S = 86_400
EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z
CUT_S = 13 * 3600 + 37 * 60 + 30


@dataclass
class Batch:
    src: np.ndarray      # int8 index into SOURCES
    ts_s: np.ndarray     # int64 epoch seconds
    n_tok: np.ndarray    # int32
    offsets: np.ndarray  # int64, len(rows) + 1, into tokens
    tokens: np.ndarray   # int32 token ids
    doc_id: np.ndarray   # str

    def __len__(self) -> int:
        return len(self.ts_s)

    def table(self) -> pa.Table:
        toks = pa.ListArray.from_arrays(
            pa.array(self.offsets.astype(np.int32)), pa.array(self.tokens)
        )
        return pa.table({
            "doc_id": pa.array(self.doc_id.tolist(), pa.string()),
            "tokens": toks,
            "n_tok": pa.array(self.n_tok),
            "source": pa.array(np.asarray(SOURCES)[self.src].tolist(), pa.string()),
            "ts": pa.array(self.ts_s * 1_000_000, pa.timestamp("us", tz="UTC")),
        })

    def write(self, path: str) -> None:
        pq.write_table(self.table(), path)


def day_batches(seed: int, n_batches: int, rows_per_day: int) -> list[Batch]:
    rng = np.random.default_rng(seed)
    seq = np.zeros(len(SOURCES), dtype=np.int64)
    out = []
    for k in range(n_batches):
        lo = EPOCH_S + CUT_S + k * DAY_S
        src, ts, ids = [], [], []
        for i, (name, share) in enumerate(zip(SOURCES, SHARES)):
            n = int(rows_per_day * share)
            secs = np.sort(rng.choice(DAY_S, n, replace=False)).astype(np.int64)
            src.append(np.full(n, i, dtype=np.int8))
            ts.append(lo + secs)
            ids.append([f"{name}-{s:012d}" for s in range(seq[i], seq[i] + n)])
            seq[i] += n
        n_tok = rng.integers(1, MAX_TOK + 1, sum(map(len, ts))).astype(np.int32)
        offsets = np.concatenate([[0], np.cumsum(n_tok, dtype=np.int64)])
        tokens = rng.integers(0, VOCAB, int(offsets[-1])).astype(np.int32)
        out.append(Batch(
            src=np.concatenate(src), ts_s=np.concatenate(ts), n_tok=n_tok,
            offsets=offsets, tokens=tokens,
            doc_id=np.asarray([d for part in ids for d in part]),
        ))
    return out


def concat(batches: list[Batch]) -> Batch:
    offsets, base = [np.zeros(1, dtype=np.int64)], 0
    for b in batches:
        offsets.append(b.offsets[1:] + base)
        base += int(b.offsets[-1])
    return Batch(
        src=np.concatenate([b.src for b in batches]),
        ts_s=np.concatenate([b.ts_s for b in batches]),
        n_tok=np.concatenate([b.n_tok for b in batches]),
        offsets=np.concatenate(offsets),
        tokens=np.concatenate([b.tokens for b in batches]),
        doc_id=np.concatenate([b.doc_id for b in batches]),
    )
