"""IVF (inverted-file) approximate nearest neighbor — the partition-based
scale path beside the hyperplane-LSH one (similarity/ann.py).

Index = a coarse quantizer: every corpus vector is assigned to its nearest
of ``n_clusters`` centroids (the inverted lists).  A query probes only its
``n_probe`` nearest clusters and scores those lists exactly.

Determinism / oracle design: centroids seed from the corpus rows with the
``n_clusters`` smallest md5(vec_id) (reproducible in any engine), and both
assignment and probing use EXACT INTEGER L2 distances over quantized
vectors (floor(x·1000)) with an index tie-break — so an external engine
(the DuckDB oracle) reproduces the same inverted lists and probe sets
bit-for-bit.  Optional Lloyd refinement (``kmeans_iters``) moves to float
centroids for better lists (Spark-only; probing ALL clusters still equals
brute force exactly, which is the refinement-independent invariant).

Plan shape at scale: the corpus NEVER shuffles — assignment is a map-only
codegen expression, the probe join broadcasts (query_id, cluster) pairs,
and only slim (query_id, neighbor_id, sim) rows reach the final top-k
window.  Cluster lists can additionally back a bucketed layout so repeated
query batches prune files by cluster id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyg_timeseries_spark.similarity.ann import cosine

_BIG = 1 << 62


def _ivec(vec_col):
    return F.transform(
        vec_col.cast("array<double>"), lambda x: F.floor(x * 1000).cast("long")
    )


def seed_centroids(corpus: DataFrame, n_clusters: int, id_col: str = "vec_id",
                   vec: str = "embedding") -> list[list[int]]:
    """The quantized vectors of the ``n_clusters`` corpus rows with the
    smallest md5(id) — a deterministic, engine-reproducible seeding.
    Driver-side size: n_clusters × dim ints (a dimension table)."""
    rows = (
        corpus.select(_ivec(F.col(vec)).alias("iv"),
                      F.md5(F.col(id_col).cast("string")).alias("r"),
                      F.col(id_col).alias("i"))
        .orderBy("r", "i")
        .limit(n_clusters)
        .collect()
    )
    return [[int(x) for x in r["iv"]] for r in rows]


def refine_centroids(corpus: DataFrame, centroids: list[list[int]],
                     kmeans_iters: int, id_col: str, vec: str) -> list[list[int]]:
    """Lloyd iterations: reassign, recompute integer-quantized means.
    Centroids stay integer-quantized so assignment distances remain exact
    integers (and ties deterministic) after refinement."""
    for _ in range(kmeans_iters):
        assigned = assign_clusters(corpus, centroids, id_col=id_col, vec=vec)
        # materialize the quantized vector ONCE per row before the per-dim
        # aggregates — avg(element_at(_ivec(vec), j+1)) per dimension
        # re-derives the O(dim) transform dim times (O(dim²) per row;
        # fatal at 1024-4096 dims, measured ~3x at 64)
        means = (
            assigned.withColumn("_miv", _ivec(F.col(vec)))
            .groupBy("cluster")
            .agg(*[
                F.avg(F.element_at(F.col("_miv"), j + 1)).alias(f"m{j}")
                for j in range(len(centroids[0]))
            ])
            .collect()
        )
        new = {r["cluster"]: [int(r[f"m{j}"]) for j in range(len(centroids[0]))]
               for r in means}
        centroids = [new.get(i, c) for i, c in enumerate(centroids)]
    return centroids


def _centroid_lit(centroids: list[list[int]]):
    """The centroid matrix as ONE nested-array literal — embedding it once
    keeps the task binary small (a per-centroid when-chain duplicates the
    matrix k times and bloats codegen)."""
    return F.array(*[
        F.array(*[F.lit(int(x)) for x in cv]) for cv in centroids
    ])


def _dists_arr(ivec_col, centroids: list[list[int]]):
    """array of integer L2 distances to every centroid (one transform)."""
    return F.transform(
        _centroid_lit(centroids),
        lambda cv: F.aggregate(
            F.zip_with(ivec_col, cv, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


def _let(bound_col, body):
    """Bind ``bound_col`` as a lambda variable so ``body`` references an
    EVALUATED value (dedup/neardup.py:_let): the distance array below is
    referenced twice (position + min) and would otherwise run its k×dim
    fold twice per row."""
    return F.element_at(F.transform(F.array(bound_col), body), 1)


def _best_cluster(ivec_col, centroids: list[list[int]]):
    # first occurrence of the min == smallest centroid index (the tie-break)
    return _let(
        _dists_arr(ivec_col, centroids),
        lambda d: (F.array_position(d, F.array_min(d)) - 1).cast("int"),
    )


def assign_clusters(corpus: DataFrame, centroids: list[list[int]],
                    id_col: str = "vec_id", vec: str = "embedding",
                    out: str = "cluster") -> DataFrame:
    """Map-only nearest-centroid assignment (codegen expression, no UDF,
    no shuffle); ties break toward the smaller centroid index.  The
    quantized vector materializes ONCE per row (k distance folds reuse it
    instead of re-deriving the transform k times)."""
    return (
        corpus.withColumn("_iv", _ivec(F.col(vec)))
        .withColumn(out, _best_cluster(F.col("_iv"), centroids))
        .drop("_iv")
    )


def probe_clusters(queries: DataFrame, centroids: list[list[int]],
                   n_probe: int, id_col: str = "vec_id",
                   vec: str = "embedding") -> DataFrame:
    """(query_id, cluster) rows for each query's n_probe nearest centroids
    (ordered by integer distance, index tie-break)."""
    queries = queries.withColumn("_piv", _ivec(F.col(vec))).withColumn(
        "_pd", _dists_arr(F.col("_piv"), centroids)
    )
    k = len(centroids)
    dist_structs = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.struct(
            F.element_at(F.col("_pd"), i + 1).alias("d"), i.alias("i")
        ),
    )
    probed = F.transform(
        F.slice(F.array_sort(dist_structs), 1, n_probe),
        lambda s: s.getField("i"),
    )
    return queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(probed).alias("cluster"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 0,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k cosine neighbors: score only corpus rows in the
    query's ``n_probe`` nearest inverted lists.  ``n_probe == n_clusters``
    degrades gracefully to exact brute force (tested invariant)."""
    centroids = seed_centroids(corpus, n_clusters, id_col, vec)
    if kmeans_iters:
        centroids = refine_centroids(corpus, centroids, kmeans_iters, id_col, vec)
    assigned = assign_clusters(corpus, centroids, id_col, vec)
    probes = probe_clusters(queries, centroids, n_probe, id_col, vec)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec).cast("array<double>").alias("qv"),
    )
    qp = probes.join(q, on="query_id")  # tiny × tiny
    scored = (
        assigned.join(F.broadcast(qp), on="cluster")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine(F.col("qv"), F.col(vec).cast("array<double>")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def kmeans_profile(corpus: DataFrame, n_clusters: int = 8,
                   kmeans_iters: int = 1, id_col: str = "vec_id",
                   vec: str = "embedding") -> DataFrame:
    """Deterministic Lloyd k-means over the quantized vectors, profiled:
    seed with the md5-smallest rows (:func:`seed_centroids`), run
    ``kmeans_iters`` reassign/recenter rounds (:func:`refine_centroids`
    — integer-quantized means, so distances stay exact integers), then
    emit one row per cluster: (cluster, n, inertia) with inertia the
    SUM of integer L2 distances to the final centroid — the elbow-curve
    statistic, exactly reproducible in any engine.  Rows with a NULL
    ``vec`` are skipped, as in embedding_stats / embedding_quantize.

    Scale shape: each Lloyd round is one map-only assignment plus one
    k×dim-row aggregate (the centroid matrix is a driver-side dimension
    table, ``n_clusters × dim`` ints); the final profile is a map-only
    assignment + distance fold feeding one hash aggregate on ≤ k keys.
    The corpus never shuffles."""
    # a NULL row would yield a NULL cluster group and could crash
    # seed_centroids if it ranked among the md5-smallest
    corpus = corpus.filter(F.col(vec).isNotNull())
    cents = seed_centroids(corpus, n_clusters, id_col=id_col, vec=vec)
    if kmeans_iters:
        cents = refine_centroids(corpus, cents, kmeans_iters,
                                 id_col=id_col, vec=vec)
    assigned = (
        corpus.withColumn("_iv", _ivec(F.col(vec)))
        .withColumn("_ds", _dists_arr(F.col("_iv"), cents))
        .select(
            (F.array_position(F.col("_ds"), F.array_min("_ds")) - 1)
            .cast("int").alias("cluster"),
            F.array_min("_ds").alias("_d"),
        )
    )
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_d").alias("inertia"),
    )
