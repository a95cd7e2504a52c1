"""Incremental connected components over a persistent label store — the
clustering counterpart of dedup/incremental.py: merge each new batch of
near-dup edges into stored (node, component) labels WITHOUT re-running
connected components over the raw edge history.  Min-label CC is
order-free and associative, so ``add_batch(E1); add_batch(E2)`` is
exactly ``connected_components(E1 ∪ E2)`` for any batch split.

The trick is union-find over COMPONENT ids, not raw nodes: a batch's
endpoints resolve to their current component labels (a pruned point
lookup), the batch edges collapse to a component-level graph (≤ one node
per touched component — tiny relative to the corpus), min-label CC runs
on THAT graph, and the resulting old→new component remap is broadcast
back onto only the store partitions holding members of merged
components.  Closed components — the overwhelming majority at a steady
state — are never read, never recomputed, never rewritten.

Store layout (versioned snapshots through the one commit primitive of
plans/manifest.py):

* ``labels/``  (node, component), hash-partitioned by
  ``npart = pmod(xxhash64(node), P)``.  Point lookups of a batch's
  endpoints read only the ≤ batch_size partition directories their node
  hashes land in.  Because npart keys on the NODE, a relabel never moves
  a row across partitions — updates rewrite partitions in place.
* ``cindex/``  (component, npart) distinct pairs, hash-partitioned by
  ``cpart = pmod(xxhash64(component), P)`` — the inverted index that
  answers "which label partitions hold members of component c" without
  scanning labels.  A merge reads only the cparts of the merged
  components.

Each ``add_batch`` writes fresh parquet for the touched partitions of both
tables only; the manifest re-points those partitions and every untouched
one keeps referencing the commit that last wrote it, so a batch costs no
work per untouched partition.  Both tables land in one atomic manifest
swap; a crash before it leaves an unreferenced commit directory that
readers never see and the next ``gc`` deletes.

Scale: per batch the work is O(batch) lookup + CC on the component graph
+ O(members-of-merged-components) rewrite.  The worst case — one giant
component absorbing others every batch — rewrites that component's rows
each time; that is inherent to maintaining materialized min-labels (the
alternative, rewriting labels lazily through the remap chain at read
time, trades it for unbounded read-side indirection).

Reference scope note: the reference engine has no graph/dedup layer;
this extends the pipeline the same way dedup/components.py does (public
algorithm: union-find / label propagation, Kiveris et al. 2014).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyg_timeseries_spark.dedup.components import connected_components
from pyg_timeseries_spark.plans.manifest import Manifest


class ComponentStore:
    def __init__(self, path: str, spark: SparkSession, n_parts: int = 256,
                 gc_keep: int | None = 8):
        """``gc_keep``: snapshot versions retained; every ``add_batch``
        auto-gc's the commit dirs no retained version references.
        ``None`` disables auto-gc for callers that pin old snapshots."""
        self.path = path
        self.spark = spark
        self.n_parts = n_parts
        self.gc_keep = gc_keep
        self._m = Manifest(path, spark)

    # -- snapshot plumbing ---------------------------------------------------
    def version(self) -> int:
        """Committed snapshot version; 0 = empty store."""
        return self._m.version("labels")

    def _hpart(self, col):
        return F.pmod(F.xxhash64(col.cast("string")), F.lit(self.n_parts))

    def labels(self, version: int | None = None,
               nparts: list[int] | None = None) -> DataFrame | None:
        """(node, component) at ``version`` (default: current), optionally
        pruned to the ``nparts`` partition directories."""
        df = self._m.read("labels", version, nparts)
        if df is None:
            return None
        return df.select("node", "component",
                         self._hpart(F.col("node")).cast("int").alias("npart"))

    def _write_first(self, labs: DataFrame) -> None:
        labs = labs.withColumn("npart", self._hpart(F.col("node")))
        cix = labs.select("component", "npart").distinct().\
            withColumn("cpart", self._hpart(F.col("component")))
        with self._m.operation():
            self._m.commit("labels", labs.repartition(F.col("npart")), "npart")
            self._m.commit("cindex", cix.repartition(F.col("cpart")), "cpart")

    # -- the incremental step ------------------------------------------------
    def add_batch(
        self,
        edges: DataFrame,
        a: str = "id_a",
        b: str = "id_b",
        nodes: DataFrame | None = None,
        node_col: str | None = None,
        max_iter: int = 50,
    ) -> DataFrame:
        """Merge ``edges`` (plus optional isolated ``nodes``) into the
        store; returns the batch's (node, component) assignments under the
        post-merge labeling.  Store invariant after any batch sequence:
        labels == connected_components over the union of all edges/nodes
        ever added."""
        cur_v = self.version()
        if cur_v == 0:
            labs = connected_components(edges, a, b, nodes=nodes,
                                        node_col=node_col, max_iter=max_iter)
            labs = labs.localCheckpoint()
            self._write_first(labs)
            batch_nodes = edges.select(F.col(a).alias("node")).unionByName(
                edges.select(F.col(b).alias("node")))
            if nodes is not None:
                nc = node_col or nodes.columns[0]
                batch_nodes = batch_nodes.unionByName(
                    nodes.select(F.col(nc).alias("node")))
            return labs.join(batch_nodes.distinct(), "node", "left_semi")

        sym = edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
        ep = sym.select(F.col("u").alias("node")).unionByName(
            sym.select(F.col("v").alias("node")))
        if nodes is not None:
            nc = node_col or nodes.columns[0]
            ep = ep.unionByName(nodes.select(F.col(nc).alias("node")))
        ep = ep.distinct().withColumn("npart", self._hpart(F.col("node"))).persist()

        # 1. point lookup of current labels — pruned to the batch's nparts
        ep_nparts = [r[0] for r in ep.select("npart").distinct().collect()]
        store_hit = self.labels(nparts=ep_nparts).select("node", "component")
        ep_lab = (
            ep.join(store_hit, "node", "left")
            .select(
                "node", "npart",
                F.coalesce(F.col("component"), F.col("node")).alias("cur"),
                F.col("component").isNull().alias("is_new"),
            )
            .persist()
        )

        # 2. component-level graph (≤ one node per touched component) + CC
        cu = ep_lab.select(F.col("node").alias("u"), F.col("cur").alias("cu"))
        cv = ep_lab.select(F.col("node").alias("v"), F.col("cur").alias("cv"))
        comp_edges = (
            sym.join(F.broadcast(cu), "u").join(F.broadcast(cv), "v")
            .select("cu", "cv")
        )
        cc = connected_components(
            comp_edges, "cu", "cv",
            nodes=ep_lab.select("cur").distinct(), node_col="cur",
            max_iter=max_iter,
        )
        remap = cc.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("old_comp"), F.col("component").alias("new_comp")
        ).localCheckpoint(eager=False)  # tiny (one row per absorbed
        # component); the dom_cparts collect below materializes it in the
        # same driver job — an eager checkpoint would cost one extra

        # 3. label partitions holding members of merged components — via
        # the cindex inverted index, pruned to the merged comps' cparts
        dom = remap.select("old_comp").withColumn(
            "cpart", self._hpart(F.col("old_comp")))
        dom_cparts = [r[0] for r in dom.select("cpart").distinct().collect()]
        dom_rows = self._m.read("cindex", parts=dom_cparts).join(
            F.broadcast(remap), F.col("component") == F.col("old_comp"),
            "left_semi")
        # merged-member nparts and new-node nparts in ONE driver job (the
        # two sources are independent, so the union collapses two small
        # sequential collects into one)
        touched_nparts = {
            r[0]
            for r in dom_rows.select("npart")
            .unionByName(ep_lab.filter("is_new").select("npart"))
            .distinct()
            .collect()
        }

        if not touched_nparts:
            # nothing merged, nothing inserted — no new snapshot needed;
            # every endpoint's current label is already final
            batch = ep_lab.select(
                "node", F.col("cur").alias("component")).localCheckpoint()
            for df in (ep, ep_lab):
                df.unpersist()
            return batch

        # 4. rewrite ONLY the touched label partitions
        old_rows = self.labels(nparts=sorted(touched_nparts))
        updated = (
            old_rows.join(F.broadcast(remap),
                          old_rows["component"] == remap["old_comp"], "left")
            .select(
                "node",
                F.coalesce("new_comp", "component").alias("component"),
                "npart",
            )
        )
        fresh = (
            ep_lab.filter("is_new")
            .join(F.broadcast(remap),
                  ep_lab["cur"] == remap["old_comp"], "left")
            .select(
                "node",
                F.coalesce("new_comp", "cur").alias("component"),
                "npart",
            )
        )
        out_rows = updated.unionByName(fresh).repartition(F.col("npart"))

        # 5. cindex: drop absorbed comps, re-point their rows at the
        # winner, add new-node rows — only in the affected cparts
        add_rows = (
            dom_rows.join(F.broadcast(remap),
                          dom_rows["component"] == remap["old_comp"])
            .select(F.col("new_comp").alias("component"), "npart")
            .unionByName(
                fresh.select("component", "npart")
            )
            .distinct()
            .withColumn("cpart", self._hpart(F.col("component")))
        )
        add_cparts = {r[0] for r in add_rows.select("cpart").distinct().collect()}
        touched_cparts = set(dom_cparts) | add_cparts
        keep_rows = (
            self._m.read("cindex", parts=sorted(touched_cparts))
            .join(F.broadcast(remap),
                  F.col("component") == F.col("old_comp"), "left_anti")
            .withColumn("cpart", self._hpart(F.col("component")))
        )
        cix_out = keep_rows.unionByName(add_rows).distinct()
        batch = (
            ep_lab.join(F.broadcast(remap),
                        ep_lab["cur"] == remap["old_comp"], "left")
            .select("node", F.coalesce("new_comp", "cur").alias("component"))
        )
        batch = batch.localCheckpoint()

        # both tables, and the gc below, land in one manifest swap
        with self._m.operation():
            self._m.commit("labels", out_rows, "npart", sorted(touched_nparts))
            self._m.commit("cindex", cix_out.repartition(F.col("cpart")),
                           "cpart", sorted(touched_cparts))
            if self.gc_keep is not None:
                self.gc(keep=self.gc_keep)
        for df in (ep, ep_lab):
            df.unpersist()
        return batch

    def gc(self, keep: int = 2) -> None:
        """Keep the newest ``keep`` snapshot versions and delete the commit
        dirs none of them references."""
        self._m.gc(keep)
