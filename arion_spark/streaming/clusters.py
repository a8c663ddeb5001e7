"""Streaming incremental near-dup CLUSTER maintenance (VERDICT r4 task 7).

``queries.q_dup_clusters`` resolves near-dup clusters in batch:
LSH→Jaccard pairs → connected components → min-id labels.  This module
is its streaming twin: a commit-logged consumer that maintains the
cluster map **incrementally** as documents arrive, so the map equals the
batch result over the full corpus at every commit point — including
across a mid-stream restart (tested).

Per micro-batch (ClusterMaintainer.process):

1. **Admission machinery reused** — DedupGuard._write_batch writes the
   docs/buckets index and verifies within-batch + vs-history candidate
   pairs exactly as the batch pipeline does (same LSH banding, same
   Jaccard expression, same threshold); the ``_materialize_pairs`` hook
   persists the verified pair set to ``pairs/batch=<id>/``.  Gates are
   forced OFF (quality/exact-fast-path) because cluster parity needs
   every doc indexed and every pair seen.
2. **Label contraction, not recomputation** — new pairs are contracted
   to their endpoints' CURRENT cluster labels (new doc → own id); the
   resulting label graph has at most 2·|new pairs| vertices, so the
   connected-components pass (functions.dedup.connected_components, the
   same min-label fixpoint as batch) runs over a frame proportional to
   the BATCH, never the corpus.  Min-label union is order-insensitive,
   which is exactly why arrival order cannot change the fixpoint — the
   incremental map converges to the batch labeling.
3. **Merge events logged** — every (old_label → new_label) contraction
   is written to ``merges/batch=<id>/`` and counted in the commit
   marker (n_merge_events, n_new_docs): the lineage a downstream
   consumer needs to invalidate caches keyed by cluster id.
4. **Cluster map via MergeSink** — the (doc_id, cluster_id) delta (new
   docs + relabeled members of merged clusters) upserts into a nested
   MergeSink keyed on doc_id: exactly-once, replay-no-op, compaction
   and time travel for free.  The outer marker is written LAST, so a
   crash anywhere replays into idempotent overwrites + a committed
   MergeSink no-op.

Scale notes (100 TB): the label lookup joins the batch's pair endpoints
against the merged map — with the map stored Iceberg-bucketed by doc_id
this is a storage-partitioned point lookup, and the relabel scan is a
broadcast-remap filter over the map (touched clusters only after
directory pruning on cluster_id at rest).  The contracted CC is
O(batch), the only O(corpus) cost is the same bp-pruned bucket probe the
admission guard already bounds (PROBE_GROWTH artifacts).

Reference analog: arion has no clustering; this extends the
training-data dedup surface (SURVEY §2 addenda) the same way
dup_clusters does in batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from arion_spark.functions import dedup
from arion_spark.streaming.commitlog import parquet_stats
from arion_spark.streaming.dedup import DedupGuard, read_doc_stream
from arion_spark.streaming.sink import MergeSink

_PAIRS = "id_a long, id_b long"
_CLUSTERS = "doc_id long, cluster_id long"


class ClusterMaintainer(DedupGuard):
    """DedupGuard that additionally maintains the near-dup cluster map
    incrementally (see module docstring).  read_clusters() returns
    (doc_id, cluster_id, is_canonical) — the q_dup_clusters contract."""

    def __init__(self, table_dir: str, threshold: float = 0.5, bp_len: int = 3):
        super().__init__(
            table_dir,
            threshold,
            quality_gate=False,      # cluster parity: every doc is seen
            exact_fast_path=False,   # exact dups must still pair up
            bp_len=bp_len,
        )
        self.clusters = MergeSink(f"{table_dir}/clusters", keys=("doc_id",))

    _SCHEMAS = {**DedupGuard._SCHEMAS, "pairs": _PAIRS}

    # -- hooks into the admission machinery -----------------------------------

    def _materialize_pairs(self, spark, batch_id: int, pairs: DataFrame) -> DataFrame:
        """Persist the verified pair set (the cluster edges) as part of
        the batch's index dirs; admission then re-reads the (narrow)
        parquet instead of re-running the verification plan."""
        self._write_table(pairs, "pairs", batch_id)
        return spark.read.schema(_PAIRS).parquet(self._batch_dir("pairs", batch_id))

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> dict:
        spark = batch_df.sparkSession
        marker = super()._write_batch(batch_df, batch_id)  # docs/buckets/kept/pairs
        mdir = self._batch_dir("merges", batch_id)
        if not self.clusters.is_committed(batch_id):
            delta, merges = self._cluster_delta(spark, batch_id)
            self._write_table(merges, "merges", batch_id)
            self.clusters.process(delta, batch_id)
        # crash-replay path: the nested sink already committed — the
        # original merges dir survives (overwrite above didn't run), so
        # lineage stays accurate; only the outer marker is healed.
        cmarker = next(
            c for c in self.clusters.lineage() if c["batch_id"] == batch_id
        )
        marker.update(
            n_merge_events=parquet_stats(mdir)["rows"],
            n_cluster_delta_rows=cmarker["rows"],
        )
        return marker

    # -- incremental merge -----------------------------------------------------

    def _cluster_delta(
        self, spark: SparkSession, batch_id: int
    ) -> tuple[DataFrame, DataFrame]:
        """(delta rows to upsert, merge events) for one batch."""
        new_docs = spark.read.schema("doc_id long").parquet(
            f"{self.table_dir}/docs/batch={batch_id:012d}"
        ).select("doc_id")
        pairs = spark.read.schema(_PAIRS).parquet(
            f"{self.table_dir}/pairs/batch={batch_id:012d}"
        )
        try:
            prev = self.clusters.read_merged(spark).select("doc_id", "cluster_id")
        except FileNotFoundError:
            prev = spark.createDataFrame([], _CLUSTERS)

        # contract pair endpoints to their current labels (new doc → own
        # id).  prev is only *probed* here: at rest it is bucketed by
        # doc_id, so these are point-lookup joins, not corpus shuffles.
        def lbl(col: str, out: str):
            side = prev.withColumnsRenamed(
                {"doc_id": col, "cluster_id": out}
            )
            return side

        e = (
            pairs.join(lbl("id_a", "_la"), "id_a", "left")
            .join(lbl("id_b", "_lb"), "id_b", "left")
            .select(
                F.coalesce("_la", "id_a").alias("la"),
                F.coalesce("_lb", "id_b").alias("lb"),
            )
            .where(F.col("la") != F.col("lb"))
            .distinct()
        )
        # tiny CC over the contracted label graph: O(batch pairs) frame
        verts = (
            e.select(F.col("la").alias("doc_id"))
            .unionByName(e.select(F.col("lb").alias("doc_id")))
            .distinct()
        )
        cc = dedup.connected_components(
            verts, e.select(F.col("la").alias("id_a"), F.col("lb").alias("id_b"))
        )
        remap = cc.where(F.col("cluster_id") != F.col("doc_id")).select(
            F.col("doc_id").alias("old_label"),
            F.col("cluster_id").alias("new_label"),
        )
        remap_b = F.broadcast(remap)

        # delta = new docs (label = remapped own id, else own id) ∪
        #         existing members of clusters whose label just merged
        new_rows = (
            new_docs.join(
                remap_b.withColumnsRenamed({"old_label": "doc_id"}), "doc_id", "left"
            )
            .select(
                "doc_id",
                F.coalesce("new_label", "doc_id").alias("cluster_id"),
            )
        )
        relabeled = (
            prev.join(
                remap_b.withColumnsRenamed({"old_label": "cluster_id"}),
                "cluster_id",
            )
            .select("doc_id", F.col("new_label").alias("cluster_id"))
        )
        return new_rows.unionByName(relabeled), remap

    # -- read path --------------------------------------------------------------

    def read_clusters(self, spark: SparkSession) -> DataFrame:
        """The current committed cluster map, q_dup_clusters-shaped:
        (doc_id, cluster_id, is_canonical)."""
        m = self.clusters.read_merged(spark).select("doc_id", "cluster_id")
        return m.withColumn(
            "is_canonical", F.col("cluster_id") == F.col("doc_id")
        )


def run_cluster_stream(
    spark: SparkSession,
    replay_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    max_files_per_trigger: int = 1,
) -> tuple[StreamingQuery, ClusterMaintainer]:
    """File-replay deployment of the maintainer (same contract as
    run_dedup_stream: epoch-bound offset, exactly-once commit log)."""
    maint = ClusterMaintainer(out_dir, threshold)
    off = maint.stream_offset(checkpoint_dir)
    stream = read_doc_stream(spark, replay_dir, max_files_per_trigger)
    query = (
        stream.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: maint.process(df, bid + off))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    return query, maint
