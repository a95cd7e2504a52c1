"""Extra benchmarks for the optimization round (bench.py is FROZEN for
driver measurement; everything exploratory lives here).

Modes:
  python bench_extra.py q <name> [name...]   time individual queries()
      entries (one warm + N timed noop-sink runs, guide §1.4) at
      $SPARK_GRAFT_SF_DIR; prints one JSON line {name: [secs...]}.
  python bench_extra.py cc_incremental       the incremental ComponentStore
      merge vs the full dedup_components recompute (VERDICT r5 next-round
      #3): build a store from 99% of the verified edges, then time merging
      the remaining 1% batch vs re-running the full clustering.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default: the host's usable cores, as session.get_spark decides),
BENCH_EXTRA_REPS (default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("BENCH_EXTRA_REPS", "3"))


def run_action(df):
    df.write.format("noop").mode("overwrite").save()


def _spark():
    from pyg_timeseries_spark.session import get_spark

    return get_spark("bench_extra")


def time_queries(names):
    spark = _spark()
    import __spark_entry__ as em

    qdict = em.queries()
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        run_action(qdict[name](spark, SF_DIR))  # warm (codegen/JIT)
        samples = []
        for _ in range(REPS):
            t0 = time.time()
            run_action(qdict[name](spark, SF_DIR))
            samples.append(round(time.time() - t0, 3))
        out[name] = samples
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"sf_dir": SF_DIR,
                      "cpus": spark.sparkContext.defaultParallelism,
                      "queries": out}))


def cc_incremental():
    """Incremental ComponentStore merge vs full recompute (same edges as
    dedup_components: md5 MinHash candidates at jaccard >= 0.3)."""
    import tempfile

    from pyspark.sql import functions as F

    from pyg_timeseries_spark.dedup import neardup as nd
    from pyg_timeseries_spark.dedup.components import connected_components
    from pyg_timeseries_spark.dedup.components_store import ComponentStore
    from pyg_timeseries_spark.sources.tables import load

    spark = _spark()
    docs = load(spark, SF_DIR, "documents")
    cand = nd.minhash_candidates(docs, n_hashes=16, bands=8, hash_fn="md5")
    edges = (
        cand.filter(F.col("jaccard") >= 0.3).select("id_a", "id_b").persist()
    )
    n_docs = docs.count()
    cut = int(n_docs * 0.99)
    base_edges = edges.filter((F.col("id_a") < cut) & (F.col("id_b") < cut))
    delta_edges = edges.filter((F.col("id_a") >= cut) | (F.col("id_b") >= cut))
    n_delta = delta_edges.count()

    base = tempfile.mkdtemp(prefix="ccbench_")
    st = ComponentStore(base, spark, n_parts=256)
    spark.sparkContext.setJobDescription("cc_incremental: seed store (untimed)")
    st.add_batch(base_edges,
                 nodes=docs.filter(F.col("doc_id") < cut).select("doc_id"))

    spark.sparkContext.setJobDescription("cc_incremental: merge 1% batch")
    t0 = time.time()
    st.add_batch(delta_edges,
                 nodes=docs.filter(F.col("doc_id") >= cut).select("doc_id"))
    merge_sec = round(time.time() - t0, 3)

    spark.sparkContext.setJobDescription("cc_incremental: full recompute")
    t0 = time.time()
    run_action(connected_components(edges, nodes=docs.select("doc_id")))
    full_sec = round(time.time() - t0, 3)
    spark.sparkContext.setJobDescription(None)

    import shutil

    shutil.rmtree(base, ignore_errors=True)
    print(json.dumps({
        "sf_dir": SF_DIR, "n_docs": n_docs, "n_delta_edges": n_delta,
        "incremental_merge_sec": merge_sec, "full_recompute_sec": full_sec,
        "speedup": round(full_sec / max(merge_sec, 1e-9), 2),
    }))


def spot_probe():
    """~100M-point probe of the two heaviest window ops (rolling_time,
    interp) + the rollup cascade — validates the no-UNBOUNDED-FOLLOWING
    rule class and RANGE-frame spill behaviour at ~10x the bench scale
    (VERDICT r5 next-round #5).  Reuses the scaling harness's generated
    parquet when present."""
    from pyspark.sql import functions as F

    from pyg_timeseries_spark.datagen import sequences
    from pyg_timeseries_spark.operators.fill import interp
    from pyg_timeseries_spark.operators.rolling import rolling_time_agg
    from pyg_timeseries_spark.plans.rollup import rollup_from_raw

    n_rows = int(os.environ.get("BENCH_SEQ_ROWS", 100_000_000))
    data = os.environ.get("BENCH_SEQ_PARQUET",
                          "/tmp/pyg_ts_scaling_input.parquet")
    spark = _spark()
    if not os.path.exists(os.path.join(data, "_SUCCESS")):
        sequences(spark, n_rows, with_tokens=False).write.mode(
            "overwrite").parquet(data)
    raw = spark.read.parquet(data)
    n = raw.count()
    # (key, ts, v) series shape with the driver testdata's deterministic
    # ~30% null injection so interp has gaps to fill
    s = raw.select(
        F.col("source").alias("key"), "ts",
        F.when(F.pmod(F.xxhash64("doc_id", F.lit("null")), F.lit(10)) < 3,
               F.lit(None)).otherwise(F.col("n_tok").cast("double")).alias("v"),
    )
    out = {"rows": n}
    for label, df in (
        ("rolling_time", rolling_time_agg(s, 300.0)),
        ("interp", interp(s)),
        ("cascade_raw_to_1m", rollup_from_raw(
            raw, "1m", tokens=None)),
    ):
        spark.sparkContext.setJobDescription(f"spot_probe: {label}")
        t0 = time.time()
        run_action(df)
        sec = round(time.time() - t0, 3)
        out[label] = {"sec": sec, "points_per_sec": round(n / sec)}
    spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))


def cc_incremental_large():
    """The regime the ComponentStore is FOR: a label table big enough
    that full CC recompute is expensive (default 20M nodes — past the
    driver-union-find tier) while the arriving batch is small (200
    edges).  At bench-corpus scale (50k nodes) cc_incremental honestly
    shows the merge LOSING to in-memory recompute (its fixed versioning
    overhead dwarfs a 3s recompute); this mode shows the crossover.

    Synthetic deterministic graph: nodes 0..N-1, edges (i, i - (i % 97))
    for i % 97 != 0 — 97-node star components, diameter 2, no hot key.
    The batch adds CC_LARGE_BATCH new nodes (ids >= N); CC_LARGE_MERGES
    of them attach to existing components, the rest pair up among
    themselves (the dedup steady state: most new content is novel).
    CC_LARGE_MERGES=batch reproduces the worst case, where the merged
    components' members hash across ~every label partition and the
    rewrite degenerates to a full store rewrite.
    """
    import tempfile

    from pyspark.sql import functions as F

    from pyg_timeseries_spark.dedup.components import connected_components
    from pyg_timeseries_spark.dedup.components_store import ComponentStore

    n = int(os.environ.get("CC_LARGE_NODES", 20_000_000))
    batch = int(os.environ.get("CC_LARGE_BATCH", 200))
    merges = int(os.environ.get("CC_LARGE_MERGES", 5))
    n_parts = int(os.environ.get("CC_LARGE_PARTS", 4096))
    spark = _spark()
    ids = spark.range(n).select(F.col("id"))
    base_edges = (
        ids.filter(F.pmod(F.col("id"), F.lit(97)) != 0)
        .select(
            F.col("id").alias("id_a"),
            (F.col("id") - F.pmod(F.col("id"), F.lit(97))).alias("id_b"),
        )
    )
    delta_edges = spark.range(batch).select(
        (F.col("id") + n).alias("id_a"),
        F.when(F.col("id") < merges, F.col("id") * 97)  # attach to a star
        .otherwise(F.col("id") - F.pmod(F.col("id"), F.lit(2)) + n)
        .alias("id_b"),  # else: pair up with another NEW node
    ).filter(F.col("id_a") != F.col("id_b"))

    base = tempfile.mkdtemp(prefix="cclarge_")
    st = ComponentStore(base, spark, n_parts=n_parts)
    spark.sparkContext.setJobDescription("cc_large: seed store (untimed)")
    st.add_batch(base_edges, nodes=ids.select(F.col("id").alias("doc_id")))

    spark.sparkContext.setJobDescription(
        f"cc_large: merge {batch}-node batch")
    t0 = time.time()
    st.add_batch(delta_edges)
    merge_sec = round(time.time() - t0, 3)

    spark.sparkContext.setJobDescription("cc_large: full recompute")
    all_edges = base_edges.unionByName(delta_edges)
    t0 = time.time()
    run_action(connected_components(
        all_edges, nodes=ids.select(F.col("id").alias("doc_id"))))
    full_sec = round(time.time() - t0, 3)
    spark.sparkContext.setJobDescription(None)

    import shutil

    shutil.rmtree(base, ignore_errors=True)
    print(json.dumps({
        "n_nodes": n, "batch_nodes": batch, "merges_into_old": merges,
        "n_parts": n_parts,
        "incremental_merge_sec": merge_sec, "full_recompute_sec": full_sec,
        "speedup": round(full_sec / max(merge_sec, 1e-9), 2),
    }))


if __name__ == "__main__":
    if len(sys.argv) >= 2 and sys.argv[1] == "q":
        time_queries(sys.argv[2:])
    elif len(sys.argv) >= 2 and sys.argv[1] == "cc_incremental":
        cc_incremental()
    elif len(sys.argv) >= 2 and sys.argv[1] == "cc_incremental_large":
        cc_incremental_large()
    elif len(sys.argv) >= 2 and sys.argv[1] == "spot_probe":
        spot_probe()
    else:
        print(__doc__)
