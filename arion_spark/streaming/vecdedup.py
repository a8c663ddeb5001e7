"""Streaming embedding near-duplicate admission: the vector twin of the
text guard (streaming/dedup.py) — admit a vector iff no banded-SRP
candidate among strictly-earlier vectors verifies at cosine ≥ threshold.

Training-data pipelines dedupe by embedding as well as by text (the same
paragraph re-encoded, translations, templated spam): this guard runs
that decision online.  Semantics mirror DedupGuard exactly
(first-occurrence / transitive-drop over all SEEN vectors), so the batch
twin is again a pure anti-join over the already-oracle-verified pair
machinery: ``corpus ANTI JOIN cosine_near_dup_pairs(...).id_b`` — see
queries.q_vec_dedup_keep_first.

State layout:
* ``vecs/batch=<id>/``    — (vec_id, v): the verification payload.
* ``buckets/batch=<id>/`` — (vec_id, band, bucket, bp): the banded SRP
  index (similarity.banded_srp_buckets_udf — one numpy pass per Arrow
  batch, projections bit-identical to the expression fold and the SQL
  oracle).  ``bp = xxhash64(band, bucket) % n_bp`` (default 256; raise on
  manifest-backed storage) is the
  prune cell: per-batch dirs are flat (bp a data column), compact()
  folds them into a base PARTITIONED by bp, and each probe filters the
  index to the batch's touched bp values — directory-level pruning over
  the compacted bulk, the uncompacted tail bounded by compaction
  cadence.  Probe-scan rows/partitions land in the commit lineage.
  The probe is an equi-join on (band, bucket) with the batch side
  broadcast — history is never shuffled; at cluster scale this table is
  Iceberg bucketed-by(band, bucket) for a storage-partitioned probe.
* ``kept/batch=<id>/``    — admitted (vec_id, v).
* ``_commits/<id>.json``  — marker after data; replays no-op (the same
  exactly-once discipline as every commit-log sink here).

Recall follows the banded-SRP analysis in cosine_near_dup_pairs: with
the 32×12 default a true ≥0.9 pair is missed with P ≈ 4e-3 worst-case;
both stream and batch twin share the identical buckets, so twin parity
is structural even for missed pairs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from arion_spark.functions.similarity import banded_srp_buckets_udf, cosine
from arion_spark.streaming.commitlog import (
    CommitLog,
    observe_count,
    observed_count,
)

VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)

_VECS = "vec_id long, v array<double>"
_BUCKETS = "vec_id long, band int, bucket int, bp int"
_WITH_BATCH = ", batch long"


def write_vec_chunks(df: DataFrame, out_dir: str, n_chunks: int = 4) -> list[str]:
    """vec_id-ordered replay chunks (arrival order == id order, the
    total order the batch twin uses)."""
    from pyspark.sql import Window

    ranked = df.select("vec_id", "embedding").withColumn(
        "_chunk", F.ntile(n_chunks).over(Window.orderBy("vec_id"))
    )
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(1, n_chunks + 1):
        chunk_dir = f"{out_dir}/chunk={i:04d}"
        ranked.where(F.col("_chunk") == i).drop("_chunk").coalesce(1).write.mode(
            "overwrite"
        ).parquet(chunk_dir)
        paths.append(chunk_dir)
    return paths


class VecDedupGuard(CommitLog):
    def __init__(
        self,
        table_dir: str,
        dim: int,
        threshold: float = 0.9,
        n_bands: int = 32,
        n_planes: int = 12,
        n_bp: int = 256,
    ):
        self.table_dir = table_dir
        self.dim = dim
        self.threshold = threshold
        self.n_bands = n_bands
        self.n_planes = n_planes
        self.n_bp = n_bp
        self._bucketer = banded_srp_buckets_udf(dim, n_bands, n_planes)
        self._init_commit_log(table_dir)
        # index layout (bucketing + prune granularity) is on-disk state.
        # No _legacy_layout here: pre-pinning vec indexes lack the bp
        # column entirely, so a meta-less index genuinely needs a rebuild.
        self._pin_meta(dim=dim, n_bands=n_bands, n_planes=n_planes, n_bp=n_bp)

    _SCHEMAS = {"vecs": _VECS, "buckets": _BUCKETS, "kept": _VECS}

    def _read_committed(
        self,
        spark: SparkSession,
        sub: str,
        ids: list[int],
        partition_filter: dict[str, list] | None = None,
    ) -> DataFrame:
        return self._read_table(
            spark, sub, self._SCHEMAS[sub], ids, partition_filter
        )

    def compact(self, spark: SparkSession) -> dict:
        """Fold the per-batch index dirs into bases (same maintenance
        contract as DedupGuard.compact — the probe re-reads the index
        every batch, so the small-file tax compounds); the buckets base
        is partitioned by bp so the probe prunes directories."""
        return self._fold_tables(spark, self._SCHEMAS, {"buckets": ["bp"]})

    def vacuum(self) -> int:
        return self._vacuum_tables(list(self._SCHEMAS))

    # -- write path ---------------------------------------------------------

    def _verified_earlier_ids(
        self, cand: DataFrame, vecs_a: DataFrame, vecs_b: DataFrame
    ) -> DataFrame:
        """ids of ``cand.id_b`` whose pair verifies at cosine ≥ t —
        the SAME rounded-cosine expression as the batch pair op."""
        j = (
            cand.join(vecs_a.withColumnsRenamed({"vec_id": "id_a", "v": "va"}), "id_a")
            .join(vecs_b.withColumnsRenamed({"vec_id": "id_b", "v": "vb"}), "id_b")
            .withColumn("cos_sim", F.round(cosine(F.col("va"), F.col("vb")), 4))
        )
        return j.where(F.col("cos_sim") >= self.threshold).select(
            F.col("id_b").alias("vec_id")
        )

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> dict:
        spark = batch_df.sparkSession
        n_in = self._write_table(
            batch_df.select("vec_id", F.col("embedding").alias("v")),
            "vecs",
            batch_id,
        )["rows"]
        b = spark.read.schema(_VECS).parquet(self._batch_dir("vecs", batch_id))
        obs_bp = Observation()  # touched prune cells, seen by the write
        self._write_table(
            b.select(
                "vec_id",
                F.posexplode(self._bucketer(F.col("v"))).alias("band", "bucket"),
            )
            .withColumn(
                "bp",
                F.pmod(F.xxhash64("band", "bucket"), F.lit(self.n_bp)).cast("int"),
            )
            .observe(obs_bp, F.collect_set("bp").alias("bps"))
            .sortWithinPartitions("bp"),
            "buckets",
            batch_id,
        )
        bps = sorted(obs_bp.get["bps"])
        bb = spark.read.schema(_BUCKETS).parquet(self._batch_dir("buckets", batch_id))

        # within-batch: later vector rejected by any earlier batch vector
        pairs_in = (
            bb.alias("x")
            .join(bb.alias("y"), ["band", "bucket"])
            .where(F.col("x.vec_id") < F.col("y.vec_id"))
            .select(
                F.col("x.vec_id").alias("id_a"), F.col("y.vec_id").alias("id_b")
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        rejected = self._verified_earlier_ids(pairs_in, b, b)

        ids = self.committed_ids()
        if ids and bps:
            # base leg: touched-cell paths read directly (no per-batch
            # full-base listing); isin still prunes the incremental tail
            hist_b = self._read_committed(
                spark, "buckets", ids, partition_filter={"bp": bps}
            ).where(F.col("bp").isin(bps))
            probe, obs_probe = observe_count(hist_b)  # probe-scan size
            cand = (
                probe.join(
                    F.broadcast(
                        bb.select("band", "bucket", F.col("vec_id").alias("id_b"))
                    ),
                    ["band", "bucket"],
                )
                .select(F.col("vec_id").alias("id_a"), "id_b")
                .dropDuplicates(["id_a", "id_b"])
            )
            hist_v = self._read_committed(spark, "vecs", ids)
            rejected = rejected.unionByName(
                self._verified_earlier_ids(cand, hist_v, b)
            )

        kept = b.join(rejected.distinct(), "vec_id", "left_anti")
        n_kept = self._write_table(kept, "kept", batch_id)["rows"]
        n_probe_rows = None  # no history yet
        if ids:
            n_probe_rows = observed_count(obs_probe, hist_b) if bps else 0
        return {
            "n_in": n_in,
            "n_kept": n_kept,
            "n_dropped": n_in - n_kept,
            "n_probe_rows": n_probe_rows,
            "n_probe_partitions": len(bps) if ids else 0,
        }

    # -- read path ----------------------------------------------------------

    def read_kept(self, spark: SparkSession) -> DataFrame:
        ids = self.committed_ids()
        if not ids:
            raise FileNotFoundError(f"no committed batches in {self.table_dir}")
        return self._read_committed(spark, "kept", ids)


def run_vec_dedup_stream(
    spark: SparkSession,
    replay_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    dim: int,
    threshold: float = 0.9,
    n_bands: int = 32,
    n_planes: int = 12,
    max_files_per_trigger: int = 1,
) -> tuple[StreamingQuery, VecDedupGuard]:
    guard = VecDedupGuard(out_dir, dim, threshold, n_bands, n_planes)
    # bootstrap → streaming handoff, epoch-bound to this checkpoint
    off = guard.stream_offset(checkpoint_dir)
    stream = (
        spark.readStream.schema(VEC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(replay_dir)
    )
    query = (
        stream.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: guard.process(df, bid + off))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    return query, guard
