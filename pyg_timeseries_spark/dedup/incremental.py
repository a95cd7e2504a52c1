"""Incremental deduplication against a persistent signature store — the
production shape for a continuously-ingested training corpus: each new
batch dedups against EVERYTHING seen so far without ever reprocessing the
historical corpus text.

Store layout (partition-pruned).  Two parquet append tables committed
through the one commit primitive of plans/manifest.py, both
hash-partitioned so a batch's candidate join reads ONLY the partitions its
own hashes touch — the per-batch scan is O(store-fraction-touched), not
O(store):

* ``exact/``   partitioned by ``epart = pmod(xxhash64(h_exact), P)``;
  columns (h_exact, id).  The exact layer prunes to the ≤P partitions the
  batch's content hashes land in.
* ``buckets/`` partitioned by ``part = pmod(xxhash64(bucket), P)``;
  columns (band, bucket, id, h0..h{n-1}).  The near layer prunes to the
  partitions the batch's band buckets land in.  Signatures ride INLINE on
  the bucket rows (×bands storage, parquet-compressed) so candidate
  verification never re-scans a full signature table — the only store I/O
  per batch is the pruned partition read itself.

A small batch against a 10B-doc store therefore touches at most
min(P, bands × batch_docs) exact partitions + min(P, bands × batch_docs)
bucket partitions instead of the whole store.  **Sizing rule**: pruning
only bites while P ≫ bands × batch_docs, i.e. pick
``P ≳ bands × typical_batch_docs / target_touch_fraction`` (default
P=2048 keeps a 10-doc batch under 4% of store partitions; a production
store fed 1e4-doc batches wants P in the 1e5 range — P only costs one
driver-side list of ≤P ints per batch, so err large).  Appends create ≤P
files per batch per table; run :meth:`compact` periodically to rewrite
each partition into one file.

Crash safety: each batch writes both tables as new commit directories and
publishes them in ONE atomic manifest swap; reads list only the
directories the manifest references.  A crash before the swap leaves
unreferenced directories that readers never see, that a retry of the
batch overwrites, and that the next compact() deletes.

Drop rule (same greedy order-based rule as neardup.minhash_dedup, made
incremental-safe): a document is dropped iff
  * some EARLIER document (smaller id, in this or any prior batch) has the
    same md5(text)  — exact duplicate; or
  * it shares ≥1 MinHash band bucket with an earlier document AND the
    signature agreement fraction (the standard MinHash Jaccard estimate)
    is ≥ ``threshold``.
Dropped documents' signatures STAY in the store (an edge to a dropped doc
still drops you) — this makes the rule associative:
``add_batch(b1); add_batch(b2)`` ≡ one-shot over ``b1 ∪ b2`` whenever ids
in later batches are larger (the append contract).

Reference scope note: the reference engine has no dedup layer; this module
extends the pipeline the same way dedup/neardup.py does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyg_timeseries_spark.plans.manifest import Manifest


class IncrementalDeduper:
    def __init__(
        self,
        path: str,
        spark: SparkSession,
        n_hashes: int = 16,
        bands: int = 8,
        threshold: float = 0.5,
        shingle_k: int = 3,
        hash_fn: str = "xxhash64",
        n_parts: int = 2048,
    ):
        self.path = path
        self.spark = spark
        self.n_hashes = n_hashes
        self.bands = bands
        self.rows = n_hashes // bands
        self.threshold = threshold
        self.shingle_k = shingle_k
        self.hash_fn = hash_fn
        self.n_parts = n_parts
        self._m = Manifest(path, spark)

    # -- signature construction (same families as dedup/neardup.py) ---------
    def _signatures(self, docs: DataFrame, id_col: str, text: str) -> DataFrame:
        """(id, h_exact, h0..h{n-1}, b0..b{bands-1}) — one slim row/doc."""
        from pyg_timeseries_spark.dedup.neardup import word_shingles

        sh = docs.select(
            F.col(id_col).alias("id"),
            F.md5(F.col(text)).alias("h_exact"),
            word_shingles(F.col(text), self.shingle_k).alias("sh"),
        )
        rows = sh.select("id", "h_exact", F.explode("sh").alias("s"))
        if self.hash_fn == "md5":
            aggs = [
                F.min(F.md5(F.concat(F.col("s"), F.lit(f"|{p}")))).alias(f"h{p}")
                for p in range(self.n_hashes)
            ]
        else:
            aggs = [
                F.min(F.xxhash64(F.col("s"), F.lit(p))).alias(f"h{p}")
                for p in range(self.n_hashes)
            ]
        sig = rows.groupBy("id", "h_exact").agg(*aggs)
        band_cols = []
        for b in range(self.bands):
            parts = [
                F.col(f"h{b * self.rows + r}").cast("string")
                for r in range(self.rows)
            ]
            if self.hash_fn == "md5":
                band_cols.append(F.md5(F.concat_ws(",", *parts)).alias(f"b{b}"))
            else:
                band_cols.append(
                    F.xxhash64(F.concat_ws(",", *parts), F.lit(b)).alias(f"b{b}")
                )
        return sig.select("id", "h_exact",
                          *[F.col(f"h{p}") for p in range(self.n_hashes)],
                          *band_cols)

    # -- partitioned-store plumbing ------------------------------------------
    def _epart(self, col):
        return F.pmod(F.xxhash64(col.cast("string")), F.lit(self.n_parts))

    def _exact_rows(self, sig: DataFrame) -> DataFrame:
        return sig.select(
            "h_exact", "id", self._epart(F.col("h_exact")).alias("epart")
        )

    def _bucket_rows(self, sig: DataFrame) -> DataFrame:
        """Exploded (band, bucket, id, h0.., part) rows — signatures inline
        so near-verification needs no second store scan."""
        hcols = [f"h{p}" for p in range(self.n_hashes)]
        out = sig.select(
            "id", *hcols,
            F.posexplode(
                F.array(*[F.col(f"b{b}") for b in range(self.bands)])
            ).alias("band", "bucket"),
        )
        return out.withColumn("part", self._epart(F.col("bucket")))

    def store_exact(self, eparts: list[int] | None = None) -> DataFrame | None:
        """The committed exact-hash table (h_exact, id), reading only the
        ``eparts`` partition directories when given."""
        return self._m.read("exact", parts=eparts)

    def store_buckets(self, parts: list[int] | None = None) -> DataFrame | None:
        """The committed band-bucket table (id, h.., band, bucket), reading
        only the ``parts`` partition directories when given."""
        return self._m.read("buckets", parts=parts)

    # -- the incremental step -----------------------------------------------
    def add_batch(self, docs: DataFrame, id_col: str = "doc_id",
                  text: str = "text") -> DataFrame:
        """Dedup ``docs`` against the store + itself and append the batch's
        signatures.  Returns (id, dropped, reason) for every batch doc
        (reason 'exact' | 'near' | NULL)."""
        sig_b = self._signatures(docs, id_col, text).persist()
        eb = self._exact_rows(sig_b)
        bb = self._bucket_rows(sig_b)

        # Partition sets the batch touches: ≤ n_parts small ints, collected
        # driver-side once per batch — this is what makes the store read
        # partition-pruned instead of full-scan.
        eparts = [r[0] for r in eb.select("epart").distinct().collect()]
        parts = [r[0] for r in bb.select("part").distinct().collect()]

        # exact layer: an earlier doc with the same content hash (store
        # partitions pruned to the batch's eparts, plus the batch itself)
        se = self.store_exact(eparts)
        earlier_exact = eb if se is None else se.unionByName(eb.drop("epart"))
        exact_drop = (
            sig_b.join(
                earlier_exact.select(F.col("h_exact").alias("e_h"),
                                     F.col("id").alias("e_id")),
                (F.col("h_exact") == F.col("e_h"))
                & (F.col("e_id") < F.col("id")), "left_semi")
            .select("id").withColumn("reason", F.lit("exact"))
        )

        # near layer: band-bucket candidates vs earlier docs, verified by
        # signature agreement ≥ threshold.  The earlier side's signature
        # rides inline on its bucket row (pruned scan), so no full-store
        # re-attach join exists; the batch side re-attaches from the small
        # persisted sig_b.
        hcols = [f"h{p}" for p in range(self.n_hashes)]
        sb = self.store_buckets(parts)
        earlier_b = bb if sb is None else sb.unionByName(bb.drop("part"))
        cand = (
            bb.select("band", "bucket", "id")
            .join(
                earlier_b.select(
                    "band", "bucket", F.col("id").alias("e_id"),
                    *[F.col(h).alias(f"e_{h}") for h in hcols]),
                ["band", "bucket"])
            .filter(F.col("e_id") < F.col("id"))
            .select("id", "e_id", *[f"e_{h}" for h in hcols]).distinct()
        )
        agree = sum(
            F.when(F.col(h) == F.col(f"e_{h}"), 1).otherwise(0) for h in hcols
        )
        near_drop = (
            cand.join(sig_b.select("id", *hcols), "id")
            .withColumn("_est", agree / F.lit(float(self.n_hashes)))
            .filter(F.col("_est") >= self.threshold)
            .select("id").distinct().withColumn("reason", F.lit("near"))
        )

        dropped = exact_drop.unionByName(near_drop).groupBy("id").agg(
            F.min("reason").alias("reason")  # 'exact' < 'near' — exact wins
        )
        out = (
            sig_b.select("id").join(dropped, "id", "left")
            .select(
                F.col("id").alias(id_col),
                F.col("reason").isNotNull().alias("dropped"),
                "reason",
            )
        )
        out = out.persist()
        out.count()  # materialize the verdicts BEFORE the store grows
        # Commit protocol: both appends land in ONE manifest swap.  A crash
        # before it leaves commit dirs no read lists; the recovery contract
        # is simply RETRY THE BATCH, which rewrites those same dirs.
        with self._m.operation():
            self._m.commit("buckets", bb, "part", append=True)
            self._m.commit("exact", eb, "epart", append=True)
        sig_b.unpersist()
        return out

    def kept(self, verdicts: DataFrame, docs: DataFrame,
             id_col: str = "doc_id") -> DataFrame:
        """The surviving documents of a batch given its verdict frame."""
        keep_ids = verdicts.filter(~F.col("dropped")).select(id_col)
        return docs.join(keep_ids, id_col, "left_semi")

    # -- maintenance ---------------------------------------------------------
    def compact(self) -> None:
        """Per-partition rewrite: each append leaves ≤P small files per
        table per batch, so after B batches a partition holds up to B file
        fragments.  Compaction rewrites every committed row into ONE file
        per store partition (repartition on the partition column before
        write — each task owns whole partitions) as one replace commit of
        both tables in one manifest swap, then deletes every commit dir the
        new manifest does not reference: the appended fragments and the
        orphans of crashed batches.  A crash at any step leaves the store
        reading either the old or the compacted tables."""
        if not self._m.version("exact"):
            return
        with self._m.operation():
            for name, pcol, pval in (
                ("buckets", "part", self._epart(F.col("bucket"))),
                ("exact", "epart", self._epart(F.col("h_exact"))),
            ):
                df = self._m.read(name).withColumn(pcol, pval)
                self._m.commit(name, df.repartition(F.col(pcol)), pcol)
            self._m.gc(keep=1)
