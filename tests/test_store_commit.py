"""Crash safety of every store operation, by fault injection.

For each store operation and each step k, the k-th parquet write or the
k-th ``os.replace`` of that operation raises.  The store re-opened from
disk must read exactly what it read before the operation, and retrying
the operation on the failed object must give what one uninterrupted run
gives.  The steps are counted by running the operation until an injection
point is never reached, so the test follows however many writes an
operation makes.
"""

import os
import shutil

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from pyg_timeseries_spark.datagen import sequences
from pyg_timeseries_spark.dedup.components_store import ComponentStore
from pyg_timeseries_spark.dedup.incremental import IncrementalDeduper
from pyg_timeseries_spark.operators.ewm import ewma_
from pyg_timeseries_spark.plans.checkpoint import RollupStore
from pyg_timeseries_spark.plans.pipeline import TimeseriesEngine
from tools.store_bytes import table_stats


class Crash(Exception):
    pass


def rows(df, drop=()):
    if df is None:
        return None
    df = df.drop(*drop)
    return sorted(
        (tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()),
        key=repr,
    )


# -- the stores and their contents ------------------------------------------

CUT = "2024-01-01 21:00:30"  # mid-day and mid-bucket: the tail merges


def _raw(spark):
    return sequences(spark, 9_000, interval_s=45).persist()  # three days


def rollup_contents(store):
    lin = store.lineage()
    return {
        **{t: rows(store.read_table(t))
           for t in ("rollup_1m", "rollup_1h", "rollup_1d", "tokens_1m")},
        "lineage": rows(lin.groupBy("batch_id", "stage").agg(F.sum("rows"))),
    }


def rollup_setup(spark, path, raw):
    store = RollupStore(path, spark)
    store.ingest(raw.filter(F.col("ts") < F.lit(CUT).cast("timestamp")))
    return store


class Ingest:
    open = staticmethod(lambda spark, path: RollupStore(path, spark))
    contents = staticmethod(rollup_contents)
    setup = staticmethod(rollup_setup)

    @staticmethod
    def op(store, raw):
        out = store.ingest(raw.filter(F.col("ts") >= F.lit(CUT).cast("timestamp")))
        return {t: rows(df) for t, df in out.items()}


class Expire(Ingest):
    @staticmethod
    def setup(spark, path, raw):
        store = rollup_setup(spark, path, raw)
        store.ingest(raw.filter(F.col("ts") >= F.lit(CUT).cast("timestamp")))
        return store

    @staticmethod
    def op(store, raw):
        store.expire("1m", keep_buckets=1440)  # drops one day, bisects one
        return store.last_expire_stats


class Compact(Expire):
    @staticmethod
    def op(store, raw):
        return store.compact("rollup_1m", max_files=0)["compacted_parts"]


class Apply:
    @staticmethod
    def open(spark, path):
        return TimeseriesEngine(spark, path)

    @staticmethod
    def contents(engine):
        return {"state": rows(engine.store.read_state("ew")),
                "watermark": engine.store.meta.get("op_watermark", {}).get("ew")}

    @staticmethod
    def setup(spark, path, raw):
        engine = TimeseriesEngine(spark, path)
        engine.ingest(raw)
        return engine

    @staticmethod
    def op(engine, raw):
        return rows(engine.apply(ewma_, "1h", "ew", n=4))


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


class AddEdges:
    @staticmethod
    def open(spark, path):
        return ComponentStore(path, spark, n_parts=8)

    @staticmethod
    def contents(store):
        return {"labels": rows(store.labels(), drop=("npart",))}

    @staticmethod
    def setup(spark, path, raw):
        store = ComponentStore(path, spark, n_parts=8)
        store.add_batch(_edges(spark, [(1, 2), (3, 4), (10, 11), (20, 21)]))
        return store

    @staticmethod
    def op(store, raw):
        spark = store.spark
        return rows(store.add_batch(_edges(spark, [(2, 3), (11, 30), (40, 41)])))


TEXTS = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "spark partitions shuffle boundaries adaptive execution and broadcast joins",
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "the quick brown fox jumps over the lazy cat near the river bank today",
    "parquet encodings dictionary pages run length bit packing column stats",
    "the quick brown fox leaps over the lazy dog near the river bank today",
]
SIG_COLS = {"exact": ["h_exact", "id"],
            "buckets": ["band", "bucket", "id"] + [f"h{p}" for p in range(16)]}


def _docs(spark, ids):
    return spark.createDataFrame([(i, TEXTS[i]) for i in ids], "doc_id long, text string")


class DedupAdd:
    @staticmethod
    def open(spark, path):
        return IncrementalDeduper(path, spark, n_parts=8)

    @staticmethod
    def contents(d):
        e, b = d.store_exact(), d.store_buckets()
        return {"exact": e and rows(e.select(SIG_COLS["exact"])),
                "buckets": b and rows(b.select(SIG_COLS["buckets"]))}

    @staticmethod
    def setup(spark, path, raw):
        d = IncrementalDeduper(path, spark, n_parts=8)
        d.add_batch(_docs(spark, [0, 1, 2]))
        return d

    @staticmethod
    def op(d, raw):
        return rows(d.add_batch(_docs(d.spark, [3, 4, 5])))


class DedupCompact(DedupAdd):
    @staticmethod
    def setup(spark, path, raw):
        d = DedupAdd.setup(spark, path, raw)
        d.add_batch(_docs(spark, [3, 4]))
        return d

    @staticmethod
    def op(d, raw):
        d.compact()


# fewest injection points (parquet writes plus swaps) an operation makes;
# expire is a manifest edit: its one swap
MIN_STEPS = {"RollupStore.expire": 1}
DEFAULT_MIN_STEPS = 2

OPERATIONS = {
    "RollupStore.ingest": Ingest,
    "RollupStore.expire": Expire,
    "RollupStore.compact": Compact,
    "TimeseriesEngine.apply": Apply,
    "ComponentStore.add_batch": AddEdges,
    "IncrementalDeduper.add_batch": DedupAdd,
    "IncrementalDeduper.compact": DedupCompact,
}


# -- fault injection ----------------------------------------------------------

@pytest.fixture
def inject(monkeypatch):
    """``arm(k)``: the k-th parquet write or os.replace from now raises
    Crash; returns a counter whose ``fired`` says whether step k came."""
    real_parquet, real_replace = DataFrameWriter.parquet, os.replace
    state = {"k": None, "n": 0, "fired": False}

    def step():
        state["n"] += 1
        if state["n"] == state["k"]:
            state["fired"] = True
            raise Crash(f"injected at step {state['n']}")

    def parquet(self, *a, **kw):
        step()
        return real_parquet(self, *a, **kw)

    def replace(*a, **kw):
        step()
        return real_replace(*a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    monkeypatch.setattr(os, "replace", replace)

    def arm(k):
        state.update(k=k, n=0, fired=False)
        return state

    yield arm
    state["k"] = None


@pytest.mark.parametrize("name", list(OPERATIONS))
def test_crash_at_every_step_leaves_store_unchanged(spark, tmp_path, inject, name):
    kind = OPERATIONS[name]
    raw = _raw(spark)
    base = str(tmp_path / "base")
    kind.setup(spark, base, raw)
    before = kind.contents(kind.open(spark, base))

    whole = str(tmp_path / "whole")
    shutil.copytree(base, whole)
    want_result = kind.op(kind.open(spark, whole), raw)
    want = kind.contents(kind.open(spark, whole))

    k = 0
    while True:
        k += 1
        path = str(tmp_path / f"k{k}")
        shutil.copytree(base, path)
        store = kind.open(spark, path)
        state = inject(k)
        try:
            kind.op(store, raw)
        except Crash:
            pass
        fired = state["fired"]
        inject(None)
        if not fired:
            break  # the operation has fewer than k steps: all covered
        assert kind.contents(kind.open(spark, path)) == before, (
            f"{name}: a crash at step {k} changed what the store reads")
        # the retry runs on the object whose operation failed: its view
        # must have been reloaded from disk
        assert kind.op(store, raw) == want_result, f"{name}: retry after step {k}"
        assert kind.contents(kind.open(spark, path)) == want, (
            f"{name}: store after a retry from step {k} differs")
        shutil.rmtree(path)
    assert k - 1 >= MIN_STEPS.get(name, DEFAULT_MIN_STEPS), (
        f"{name}: {k - 1} steps, fewer than its writes and swaps")
    raw.unpersist()


# -- the codec every commit pins ------------------------------------------------

CODEC = "spark.sql.parquet.compression.codec"


def _many_docs(spark, n=4_000):
    """``n`` distinct docs: more distinct content hashes than a 64 KiB
    dictionary page holds, so ``h_exact`` falls back to DELTA_BYTE_ARRAY."""
    words = [F.substring(F.md5((F.col("id") * k).cast("string")), 1, 6)
             for k in (1, 3, 7, 11)]
    return spark.range(n, numPartitions=1).select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", *words).alias("text"))


def test_commit_pins_its_codec(spark, tmp_path):
    """A session set to write uncompressed parquet must not change what a
    store reads back: Spark's vectorized reader misreads the strings of
    uncompressed v2 data pages, so every commit writes snappy."""
    raw = _raw(spark)
    got, old = {}, spark.conf.get(CODEC)
    try:
        for codec in ("snappy", "uncompressed"):
            spark.conf.set(CODEC, codec)
            store = rollup_setup(spark, str(tmp_path / codec / "rollup"), raw)
            d = IncrementalDeduper(str(tmp_path / codec / "dedup"), spark, n_parts=1)
            d.add_batch(_many_docs(spark))
            got[codec] = {**rollup_contents(store), **DedupAdd.contents(d)}
    finally:
        spark.conf.set(CODEC, old)
    raw.unpersist()
    cols = table_stats(str(tmp_path / "uncompressed"))["chunks"]
    # the hash column outgrew its dictionary: the page shape that misreads
    assert any("DELTA_BYTE_ARRAY" in c.encodings for c in cols["h_exact"])
    assert {c.compression for cs in cols.values() for c in cs} == {"SNAPPY"}
    assert got["uncompressed"] == got["snappy"]
