"""Incremental connected-components store: batch merges == one-shot CC,
partition-pruned lookups, versioned snapshots, crash safety."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyg_timeseries_spark.dedup.components import connected_components
from pyg_timeseries_spark.dedup.components_store import ComponentStore


def _edges(spark, pairs):
    return spark.createDataFrame(
        pd.DataFrame(pairs, columns=["id_a", "id_b"])
    )


def _nodes(spark, ids):
    return spark.createDataFrame(pd.DataFrame({"doc_id": list(ids)}))


def _unreferenced(st):
    """Commit dirs on disk that no retained snapshot of the store's
    manifest references."""
    out = []
    for table, info in st._m.meta["tables"].items():
        live = {f"v{v}" for snap in info["snapshots"].values()
                for vs in snap["parts"].values() for v in vs}
        out += [f"{table}/{d}" for d in os.listdir(os.path.join(st.path, table))
                if d not in live]
    return out


def _labels(df):
    return sorted((r["node"], r["component"]) for r in
                  df.select("node", "component").collect())


def test_two_batches_equal_oneshot(spark, tmp_path):
    """Core invariant: any batch split of the edge set yields the same
    final labels as one-shot CC over the union."""
    e1 = [(1, 2), (2, 3), (10, 11), (20, 21)]
    e2 = [(3, 10), (30, 31), (21, 22)]  # merges {1,2,3} with {10,11}
    all_nodes = {1, 2, 3, 10, 11, 20, 21, 22, 30, 31, 40}

    st = ComponentStore(str(tmp_path / "st"), spark, n_parts=16)
    st.add_batch(_edges(spark, e1), nodes=_nodes(spark, [40]))
    st.add_batch(_edges(spark, e2))
    got = _labels(st.labels())

    expect = _labels(connected_components(
        _edges(spark, e1 + e2), nodes=_nodes(spark, list(all_nodes))
    ).withColumnRenamed("component", "component"))
    assert got == expect
    # spot semantics: merged family takes the global min id
    d = dict(got)
    for n in (1, 2, 3, 10, 11):
        assert d[n] == 1
    assert d[40] == 40 and d[30] == 30 and d[31] == 30


def test_three_way_merge_and_new_smaller_id(spark, tmp_path):
    """A later batch can bridge several closed components at once, and a
    NEW node with the smallest id becomes the family's label."""
    st = ComponentStore(str(tmp_path / "m"), spark, n_parts=16)
    st.add_batch(_edges(spark, [(5, 6), (8, 9), (12, 13)]))
    # node 2 is new and links all three families
    st.add_batch(_edges(spark, [(2, 6), (2, 9), (2, 13)]))
    d = dict(_labels(st.labels()))
    assert all(d[n] == 2 for n in (2, 5, 6, 8, 9, 12, 13))


def test_closed_components_not_rewritten(spark, tmp_path):
    """A batch that touches nothing near a closed component must not
    rewrite its label partition — the new snapshot still references the
    v1 commit for it, which is the 'closed components are never
    recomputed' claim made physical."""
    st = ComponentStore(str(tmp_path / "hl"), spark, n_parts=16)
    st.add_batch(_edges(spark, [(1, 2), (50, 51)]))
    v1_parts = st._m.parts("labels")
    # second batch: brand-new family only
    st.add_batch(_edges(spark, [(100, 101)]))
    assert st.version() == 2
    new_parts = {
        r[0] for r in spark.createDataFrame(
            pd.DataFrame({"node": [100, 101]})
        ).select(
            F.pmod(F.xxhash64(F.col("node").cast("string")), F.lit(16))
        ).collect()
    }
    parts = st._m.parts("labels")
    untouched = [p for p in v1_parts if int(p) not in new_parts]
    assert untouched  # at least one partition was reused, not rewritten
    for p in untouched:
        assert parts[p] == [1], p
    for p in new_parts:
        assert parts[str(p)] == [2], p


def test_lookup_is_partition_pruned(spark, tmp_path):
    """The endpoint label lookup must read only the label partitions its
    node hashes land in, never the whole store."""
    from urllib.parse import urlparse

    st = ComponentStore(str(tmp_path / "pp"), spark, n_parts=64)
    st.add_batch(_edges(spark, [(i, i + 1000) for i in range(100)]))

    probe = st.labels(nparts=[3, 7])
    read_dirs = {os.path.dirname(urlparse(f).path) for f in probe.inputFiles()}
    v1 = st._m.table_dir("labels", 1)
    assert read_dirs and read_dirs <= {f"{v1}/npart=3", f"{v1}/npart=7"}
    got = probe.collect()
    assert got and all(r["npart"] in (3, 7) for r in got)


def test_crash_before_commit_invisible(spark, tmp_path):
    """A dangling version dir without the manifest bump (crash mid-write)
    must not change what readers see, and the next batch proceeds from
    the committed version."""
    st = ComponentStore(str(tmp_path / "cr"), spark, n_parts=16)
    st.add_batch(_edges(spark, [(1, 2)]))
    before = _labels(st.labels())
    # simulate a crashed writer: version dir exists, manifest not bumped
    os.makedirs(st._m.table_dir("labels", 2), exist_ok=True)
    assert st.version() == 1
    assert _labels(st.labels()) == before
    st.add_batch(_edges(spark, [(2, 3)]))
    # the real batch overwrote the dangling dir and committed
    assert st.version() == 2
    d = dict(_labels(st.labels()))
    assert d[1] == d[2] == d[3] == 1


def test_no_op_batch_returns_labels_without_snapshot(spark, tmp_path):
    """Edges entirely inside one existing component: no merge, no insert,
    no new version — but the returned labels are correct."""
    st = ComponentStore(str(tmp_path / "nop"), spark, n_parts=16)
    st.add_batch(_edges(spark, [(1, 2), (2, 3)]))
    out = st.add_batch(_edges(spark, [(1, 3)]))
    assert st.version() == 1
    # returned frame covers the batch's endpoints {1, 3}
    assert sorted((r["node"], r["component"]) for r in out.collect()) == \
        [(1, 1), (3, 1)]
    assert dict(_labels(st.labels()))[2] == 1


def test_gc_keeps_recent_versions(spark, tmp_path):
    st = ComponentStore(str(tmp_path / "gc"), spark, n_parts=16)
    st.add_batch(_edges(spark, [(1, 2)]))
    st.add_batch(_edges(spark, [(3, 4)]))
    st.add_batch(_edges(spark, [(5, 6)]))
    before = _labels(st.labels())
    st.gc(keep=1)
    assert len(st._m.meta["tables"]["labels"]["snapshots"]) == 1
    assert _unreferenced(st) == []
    assert _labels(st.labels()) == before  # referenced commits survive gc


def test_random_batches_match_oneshot(spark, tmp_path):
    """Randomized: 3 batches of random edges over 60 nodes == one-shot."""
    import numpy as np

    rng = np.random.default_rng(11)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 60, (80, 2))
             if a != b]
    cuts = [edges[:30], edges[30:55], edges[55:]]
    st = ComponentStore(str(tmp_path / "rnd"), spark, n_parts=32)
    for c in cuts:
        st.add_batch(_edges(spark, c))
    got = _labels(st.labels())
    expect = _labels(connected_components(_edges(spark, edges)))
    assert got == expect


def test_auto_gc_on_add_batch(spark, tmp_path):
    """gc_keep retention runs from add_batch itself: old version dirs are
    pruned automatically and the current labels stay intact."""
    st = ComponentStore(str(tmp_path / "agc"), spark, n_parts=16, gc_keep=2)
    st.add_batch(_edges(spark, [(1, 2)]))
    st.add_batch(_edges(spark, [(3, 4)]))
    st.add_batch(_edges(spark, [(5, 6)]))
    st.add_batch(_edges(spark, [(2, 3)]))
    assert st.version() == 4
    assert len(st._m.meta["tables"]["labels"]["snapshots"]) == 2
    assert _unreferenced(st) == []
    assert os.path.exists(st._m.table_dir("labels", 4))
    assert dict(_labels(st.labels()))[4] == 1  # 1-2-3-4 merged


def test_labels_read_is_one_scan(spark, tmp_path):
    """Three batches leave the labels spread over three commits; reading
    them is still ONE parquet relation built with at most one Spark job."""
    import re

    st = ComponentStore(str(tmp_path / "scan"), spark, n_parts=16)
    st.add_batch(_edges(spark, [(i, i + 100) for i in range(20)]))
    st.add_batch(_edges(spark, [(500, 501)]))
    st.add_batch(_edges(spark, [(700, 701)]))
    commits = {v for vs in st._m.parts("labels").values() for v in vs}
    assert commits == {1, 2, 3}

    sc = spark.sparkContext
    sc.setJobGroup("labels_scan", "labels_scan")
    df = st.labels()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("labels_scan"))
    sc.setJobGroup(None, None)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"Relation \[", plan)) == 1, plan
    assert n_jobs <= 1
    assert len(_labels(df)) == 44
