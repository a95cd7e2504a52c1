"""Incremental dedup store: batch-by-batch == one-shot, exact + near
layers, dropped-doc signatures still count."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyg_timeseries_spark.dedup.incremental import IncrementalDeduper

BASE = (
    "the quick brown fox jumps over the lazy dog while seven wizards "
    "brew strong potions under a pale winter moon near the old stone "
    "bridge by the river bend watching silver fish glide past slowly"
)


def _docs(spark):
    rows = [
        (0, BASE),
        (1, "completely different text about spark partitions and shuffle "
            "boundaries with adaptive execution and broadcast joins in a "
            "large distributed analytics engine running on many nodes"),
        (2, BASE),                                   # exact dup of 0
        (3, BASE.replace("winter", "summer")),       # near dup of 0
        (4, "yet another unrelated document describing parquet encodings "
            "dictionary pages run length bit packing and column statistics "
            "for predicate pushdown across row groups and file footers"),
        (5, BASE.replace("winter", "autumn")),       # near dup of 0 (and 3)
        (6, "totally novel content mentioning tensors gradients optimizers "
            "checkpoints schedules warmup decay and mixed precision scaling "
            "during long pretraining runs on accelerator clusters today"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def _verdicts(df):
    pdf = df.toPandas().sort_values("doc_id").reset_index(drop=True)
    return list(map(tuple, pdf[["doc_id", "dropped", "reason"]].itertuples(index=False)))


def test_exact_and_near_layers(spark, tmp_path):
    d = IncrementalDeduper(str(tmp_path / "s1"), spark, n_parts=32)
    out = d.add_batch(_docs(spark)).toPandas().set_index("doc_id")
    assert not out.loc[0, "dropped"] and not out.loc[1, "dropped"]
    assert out.loc[2, "reason"] == "exact"
    assert out.loc[3, "reason"] == "near"
    assert out.loc[5, "reason"] == "near"
    assert not out.loc[4, "dropped"] and not out.loc[6, "dropped"]


def test_incremental_equals_oneshot(spark, tmp_path):
    docs = _docs(spark)
    one = IncrementalDeduper(str(tmp_path / "one"), spark, n_parts=32)
    expect = _verdicts(one.add_batch(docs))

    inc = IncrementalDeduper(str(tmp_path / "inc"), spark, n_parts=32)
    b1 = inc.add_batch(docs.filter(F.col("doc_id") < 3))
    b2 = inc.add_batch(docs.filter(F.col("doc_id") >= 3))
    got = sorted(_verdicts(b1) + _verdicts(b2))
    assert got == sorted(expect)


def test_dropped_docs_still_drop_later_dups(spark, tmp_path):
    """doc 2 (exact dup, dropped in batch 1) must still drop doc 7 == doc 2
    in batch 2 — dropped signatures stay in the store."""
    docs = _docs(spark)
    d = IncrementalDeduper(str(tmp_path / "chain"), spark, n_parts=32)
    d.add_batch(docs)  # 2 dropped here
    later = spark.createDataFrame(pd.DataFrame([(7, BASE)], columns=["doc_id", "text"]))
    out = d.add_batch(later).toPandas().set_index("doc_id")
    assert out.loc[7, "reason"] == "exact"


def test_kept_helper_and_cross_batch_near(spark, tmp_path):
    docs = _docs(spark)
    d = IncrementalDeduper(str(tmp_path / "kept"), spark, n_parts=32)
    b1 = docs.filter(F.col("doc_id").isin([0, 1]))
    v1 = d.add_batch(b1)
    assert d.kept(v1, b1).count() == 2
    # batch 2: near dup of a batch-1 doc arrives → dropped cross-batch
    b2 = docs.filter(F.col("doc_id") == 3)
    v2 = d.add_batch(b2).toPandas().set_index("doc_id")
    assert v2.loc[3, "reason"] == "near"


def test_store_scan_is_partition_pruned(spark, tmp_path):
    """Store ≫ batch at the PRODUCTION default P: the candidate-join store
    read must list only the batch's part/epart directories, not scan the
    full store — and a small batch must touch ≪ P partitions (the round-4
    gap: P=32 meant any batch ≥4 docs touched everything)."""
    import numpy as np

    rng = np.random.default_rng(7)
    words = [f"w{i}" for i in range(200)]
    big = pd.DataFrame(
        {
            "doc_id": range(100),
            "text": [
                " ".join(rng.choice(words, 30)) for _ in range(100)
            ],
        }
    )
    d = IncrementalDeduper(str(tmp_path / "pruned"), spark)  # default P
    assert d.n_parts >= 2048  # production default, not the toy 32
    d.add_batch(spark.createDataFrame(big))

    # a 10-doc batch touches ≤ bands×10 partitions — <5% of the store
    ten = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(1000, 1010),
                "text": [" ".join(rng.choice(words, 25)) for _ in range(10)],
            }
        )
    )
    sig10 = d._signatures(ten, "doc_id", "text")
    p10 = [r[0] for r in d._bucket_rows(sig10).select("part").distinct().collect()]
    assert 0 < len(p10) <= d.bands * 10
    assert len(p10) / d.n_parts < 0.05

    small = spark.createDataFrame(
        pd.DataFrame({"doc_id": [2000], "text": [BASE]})
    )
    sig = d._signatures(small, "doc_id", "text")
    parts = [r[0] for r in d._bucket_rows(sig).select("part").distinct().collect()]
    eparts = [r[0] for r in d._exact_rows(sig).select("epart").distinct().collect()]
    assert 0 < len(parts) <= d.bands  # a 1-doc batch touches ≤ bands parts

    from urllib.parse import urlparse

    for read, table, col, vals in (
        (d.store_buckets, "buckets", "part", parts),
        (d.store_exact, "exact", "epart", eparts),
    ):
        # a read lists only the requested partition directories (the
        # batch's own, then two populated ones)
        v1 = d._m.table_dir(table, 1)
        populated = [int(p) for p in sorted(d._m.parts(table))[:2]]
        for want in (vals, populated):
            files = read(want).inputFiles()
            read_dirs = {os.path.dirname(urlparse(f).path) for f in files}
            assert read_dirs <= {f"{v1}/{col}={v}" for v in want}
        assert len(read_dirs) == 2

    # and the verdict path still works against the pruned store
    out = d.add_batch(small).toPandas().set_index("doc_id")
    assert not out.loc[2000, "dropped"]


def test_uncommitted_batch_invisible(spark, tmp_path):
    """Crash between the two appends: bucket rows land in a commit dir
    but the manifest swap never happens — reads must exclude them."""
    docs = _docs(spark)
    d = IncrementalDeduper(str(tmp_path / "crash"), spark, n_parts=32)
    d.add_batch(docs.filter(F.col("doc_id").isin([0, 1])))

    # simulate the crash: batch 2's bucket commit dir for doc 3 is written,
    # its exact commit and the manifest swap never happen
    ghost = docs.filter(F.col("doc_id") == 3)
    sig_g = d._signatures(ghost, "doc_id", "text")
    d._bucket_rows(sig_g).write.partitionBy("part").parquet(
        d._m.table_dir("buckets", 2))

    assert d.store_buckets().filter(F.col("id") == 3).count() == 0
    # doc 5 is near doc 3 but doc 3's orphan rows must not drop it; doc 5
    # IS near doc 0 (both derive from BASE) so it still drops vs doc 0
    out = d.add_batch(docs.filter(F.col("doc_id") == 5)).toPandas().set_index("doc_id")
    assert out.loc[5, "reason"] == "near"  # via committed doc 0, not the orphan
    assert d.store_buckets().filter(F.col("id") == 3).count() == 0


def test_compact_preserves_store_and_purges_orphans(spark, tmp_path):
    """compact(): per-partition rewrite → 1 file per partition, committed
    rows bit-identical as sets, orphan rows physically gone, manifest
    reset to one commit per partition, and verdicts afterward unchanged."""
    import glob

    docs = _docs(spark)
    d = IncrementalDeduper(str(tmp_path / "cmp"), spark, n_parts=32)
    d.add_batch(docs.filter(F.col("doc_id") < 3))
    d.add_batch(docs.filter(F.col("doc_id").isin([3, 4])))
    # orphan rows from a "crashed" batch: a commit dir never swapped in
    sig_g = d._signatures(docs.filter(F.col("doc_id") == 6), "doc_id", "text")
    d._exact_rows(sig_g).write.partitionBy("epart").parquet(
        d._m.table_dir("exact", 3))

    def snap(df):
        return sorted(map(tuple, df.collect()))

    before_b = snap(d.store_buckets())
    before_e = snap(d.store_exact())
    d.compact()
    assert snap(d.store_buckets()) == before_b
    assert snap(d.store_exact()) == before_e
    for table in ("buckets", "exact"):
        assert all(len(vs) == 1 for vs in d._m.parts(table).values())
    # orphans physically purged, and ≤1 parquet file per partition dir
    raw_e = spark.read.option("recursiveFileLookup", "true").parquet(
        str(tmp_path / "cmp" / "exact"))
    assert raw_e.filter(F.col("id") == 6).count() == 0
    pdirs = glob.glob(str(tmp_path / "cmp" / "*" / "v*" / "*part=*"))
    assert pdirs
    for pdir in pdirs:
        files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        assert len(files) == 1, pdir
    # verdict behavior unchanged after compaction
    out = d.add_batch(docs.filter(F.col("doc_id") == 5)).toPandas().set_index("doc_id")
    assert out.loc[5, "reason"] == "near"
