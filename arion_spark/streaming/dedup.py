"""Streaming near-duplicate dedup guard: admit a document iff it is not
a near-dup of anything seen before it.

This is the streaming deployment of the MinHash/LSH/Jaccard batch suite
(functions/dedup.py) — the operation a training-data ingest pipeline
actually runs: documents arrive continuously and each must be admitted
or dropped NOW, against the corpus accumulated so far, not in a nightly
all-pairs pass.

Semantics (the "transitive-drop / first-occurrence" rule): a document is
KEPT iff no LSH candidate among strictly-earlier documents (arrival
order; doc_id order under the ordered replay used in tests) verifies at
n-gram Jaccard ≥ threshold.  "Earlier" means *seen*, kept or dropped —
so drift chains A≈B≈C collapse to their first element even when A and C
are not direct near-dups, matching what connected-component keep-one
does on chains while staying causally computable online.  The batch
twin is therefore a pure composition of the already-oracle-verified
machinery:  ``corpus ANTI JOIN (jaccard_pairs ∘ lsh_candidate_pairs).id_b``
— see queries.q_dedup_keep_first; the twin tests pin stream == batch
across checkpoint restarts.

State layout (the 100 TB design):

* ``docs/batch=<id>/``    — (doc_id, text, hs, buckets): one row per seen
  doc; ``hs`` is the distinct 32-bit shingle-hash set used for exact
  Jaccard verification.  Written FIRST so the heavy
  tokenize→shingle→minhash plan executes exactly once per batch; all
  joins read the materialized columnar output back.
* ``buckets/batch=<id>/`` — exploded (doc_id, bucket, bp), the LSH
  index; ``bp`` is the bucket's first ``bp_len`` hex chars (default 3 →
  4096 prune cells, the scale-safe setting: a 64-doc probe batch scans
  ~6% of the index vs ~64% at bp_len=2 — measured in
  tools/bench_probe_growth.py — at the price of a 4096-dir base, which
  costs per-batch listing time on a plain filesystem but is free on
  manifest-backed tables like Iceberg; pre-round-5 the default was 2,
  and existing indexes keep their pinned layout).
  Per-batch dirs are FLAT (bp as a data column,
  rows sorted by bp) — per-cell partitionBy per micro-batch would write
  hundreds of small files per trigger; ``compact()`` folds them into a
  base partitioned by bp, one file per cell.  The per-batch history
  probe is an equi-join of this NARROW table against the (small,
  broadcast) batch bucket set — candidate generation never touches
  text or hash arrays, ``bp`` pruning skips base directories, and the
  still-incremental tail is bounded by the compaction cadence: probe
  cost = O(corpus × touched_bp/16^bp_len) + O(uncompacted tail), reported
  per batch in the commit lineage (n_probe_partitions, and n_probe_rows
  observed on the probe itself — no second action over the index).
  At cluster scale this table is Iceberg bucketed-by(bucket) so the
  probe becomes a storage-partitioned join (or the index moves into a
  key-value state store); the parquet layout here is the local twin of
  that contract.
* ``kept/batch=<id>/``    — admitted (doc_id, text).
* ``_commits/<id>.json``  — written AFTER all three data dirs (atomic
  rename), carrying per-batch lineage (n_in/n_kept/drop split, rows and
  bytes per table — CommitLog.process, no extra Spark job).
  Replayed batch ids are no-ops; a crash between data and marker is
  healed by the replay overwriting the orphan dirs — the same
  exactly-once discipline as MergeSink/SketchSink.

Per-batch cost: O(|batch| · bands) candidate probes + exact Jaccard on
verified candidates only; the index grows O(corpus) rows but each probe
reads only the ``bp`` partitions the batch touches.  Jaccard
verification reuses functions/dedup.jaccard_pairs verbatim (same
rounding, same hash sets) so stream and batch agree bit-for-bit.

Reference anchor: extends src/Operation.cpp's per-record chain with the
corpus-level admission control the reference lacks (SURVEY.md §9.1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from arion_spark.functions import dedup
from arion_spark.functions import text as text_fns
from arion_spark.streaming.commitlog import (
    CommitLog,
    observe_count,
    observed_count,
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

# explicit index schemas: a batch that admits zero docs (all filtered)
# writes empty dirs, where schema inference would fail — every index
# read states its schema instead
_DOCS_IDX = (
    "doc_id long, text string, text_md5 string, "
    "hs array<bigint>, buckets array<string>"
)
_BUCKET_IDX = "doc_id long, bucket string, bp string"
_KEPT = "doc_id long, text string"
_WITH_BATCH = ", batch long"


def write_doc_chunks(df: DataFrame, out_dir: str, n_chunks: int = 4) -> list[str]:
    """Split a document table into doc_id-ordered replay chunks (the
    document analog of source.write_replay_chunks): arrival order ==
    doc_id order, which is the total order the batch twin uses."""
    from pyspark.sql import Window

    ranked = df.select("doc_id", "text").withColumn(
        "_chunk", F.ntile(n_chunks).over(Window.orderBy("doc_id"))
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


def read_doc_stream(
    spark: SparkSession, replay_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(replay_dir)
    )


class DedupGuard(CommitLog):
    """foreachBatch sink implementing the admission control described in
    the module docstring.  No Spark-managed state — all state is the
    commit-logged index, so restart safety needs only the checkpoint's
    source offsets plus the committed-id no-op rule.

    Optional stages turn the guard into the full streaming corpus-prep
    admission pipeline (the continuous form of queries.q_corpus_prep's
    nightly batch, keep-first instead of CC-keep-one):

    * ``quality_gate`` — drop docs failing the same deterministic gate
      as the batch pipeline (n_tokens ≥ 20 AND alpha_ratio ≥ 0.8,
      functions/text.quality_features) BEFORE they are seen: quality
      rejects never enter the index and never drop later docs.
    * ``exact_fast_path`` — drop exact duplicates (content md5 equal to
      any earlier indexed doc, or to an earlier doc in the same batch)
      before the shingle/minhash stage runs.  Exact dups are NOT
      indexed: their shingle-hash set is identical to their original's,
      so every later LSH candidacy / Jaccard outcome is already decided
      by the original — skipping them is semantics-free and keeps the
      index at one row per distinct content (crawls are 30-50% exact
      dups; this is where the fast path pays at 100 TB).  The md5 probe
      is a narrow column-pruned equi-join with the batch side broadcast.
    """

    def __init__(
        self,
        table_dir: str,
        threshold: float = 0.5,
        quality_gate: bool = False,
        exact_fast_path: bool = False,
        bp_len: int = 3,
    ):
        self.table_dir = table_dir
        self.threshold = threshold
        self.quality_gate = quality_gate
        self.exact_fast_path = exact_fast_path
        if not 1 <= bp_len <= 4:
            raise ValueError(f"bp_len must be 1..4 hex chars, got {bp_len}")
        self.bp_len = bp_len
        self._init_commit_log(table_dir)
        # prune layout is part of the on-disk index: pin it (pre-pinning
        # indexes were hard-coded bp_len=1 with the same schema — a
        # meta-less index re-opened at bp_len=1 is adopted, not rejected)
        self._pin_meta(_legacy_layout={"bp_len": 1}, bp_len=bp_len)

    _SCHEMAS = {"docs": _DOCS_IDX, "buckets": _BUCKET_IDX, "kept": _KEPT}

    def _read_committed(
        self,
        spark: SparkSession,
        sub: str,
        ids: list[int],
        partition_filter: dict[str, list] | None = None,
    ) -> DataFrame:
        """Current committed view of one index table (see
        CommitLog._read_table): compacted base plus incremental batch
        dirs, payload columns only, explicit schemas throughout."""
        return self._read_table(
            spark, sub, self._SCHEMAS[sub], ids, partition_filter
        )

    # -- index compaction -----------------------------------------------------
    #
    # The guard's history index accrues one dir per micro-batch exactly
    # like the MERGE sink's data — and is re-read EVERY batch, so the
    # small-file tax compounds: at a day of 5-second admission batches
    # the probe would list ~17k dirs per trigger.  compact() folds all
    # committed batches into one base per table; the buckets base is
    # partitioned GLOBALLY by bp (16^bp_len dirs, one file each), so
    # after compaction the probe's bp filter prunes at the DIRECTORY
    # level and its cost is corpus × touched_bp/16^bp_len + the
    # uncompacted tail — compaction cadence bounds the tail.  Same
    # crash discipline as MergeSink: bases first, marker via atomic
    # rename, readers switch at the marker, commit markers survive
    # vacuum so replayed ids stay no-ops.

    def compact(self, spark: SparkSession) -> dict:
        return self._fold_tables(spark, self._SCHEMAS, {"buckets": ["bp"]})

    def vacuum(self) -> int:
        return self._vacuum_tables(list(self._SCHEMAS))

    def _materialize_pairs(self, spark, batch_id: int, pairs: DataFrame) -> DataFrame:
        """Hook for subclasses that persist the verified near-dup PAIRS
        (ClusterMaintainer): the default guard only needs the rejected
        ids, so the pairs frame passes through untouched."""
        return pairs

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> dict:
        """One admission batch: write the docs/buckets index, verify
        within-batch and vs-history candidates, write kept/, and return
        the admission lineage for the commit marker.

        Stage counts cost no Spark job: rows that reach disk (docs =
        survivors of the gate and the fast path, kept) come from the
        written footers; rows dropped before the docs write (``n_in``,
        the quality gate) and the history probe size are observed on the
        plans the writes run."""
        spark = batch_df.sparkSession
        ids = self.committed_ids()

        src, obs_in = observe_count(batch_df.select("doc_id", "text"))

        # 0a. stateless quality gate — rejects are never "seen"
        gated = obs_quality = None
        if self.quality_gate:
            feats = text_fns.quality_features(F.col("text"))
            gated = src.where(
                (feats["n_tokens"] >= 20) & (feats["alpha_ratio"] >= 0.8)
            )
            src, obs_quality = observe_count(gated)

        # 0b. exact-dup fast path — md5 probe before the heavy stage
        src = src.withColumn("text_md5", F.md5(F.col("text").cast("binary")))
        if self.exact_fast_path:
            first = src.groupBy("text_md5").agg(
                F.min("doc_id").alias("_first_id")
            )
            src = (
                src.join(F.broadcast(first), "text_md5")
                .where(F.col("doc_id") == F.col("_first_id"))
                .drop("_first_id")
            )
            if ids:
                hist_md5 = (
                    self._read_committed(spark, "docs", ids)
                    .select("text_md5")  # column-pruned narrow scan
                    .distinct()
                )
                src = src.join(hist_md5, "text_md5", "left_anti")

        # 1. materialize the batch's signatures ONCE (heavy plan → disk)
        prep = (
            src.withColumn("_hs_raw", dedup.shingle_hashes_col(F.col("text")))
            .withColumn("minhash", dedup.minhash_from_hashes(F.col("_hs_raw")))
            .withColumn("hs", F.array_distinct("_hs_raw"))
            .withColumn("buckets", dedup.lsh_buckets(F.col("minhash")))
            .select("doc_id", "text", "text_md5", "hs", "buckets")
        )
        n_exact = self._write_table(prep, "docs", batch_id)["rows"]
        n_in = observed_count(obs_in, batch_df)
        n_quality = n_in if gated is None else observed_count(obs_quality, gated)
        b = spark.read.schema(_DOCS_IDX).parquet(self._batch_dir("docs", batch_id))

        # 2. the narrow LSH index rows for this batch — FLAT dir, bp as
        #    a data column sorted first (row-group stats stay tight);
        #    compaction turns bp into real partition dirs.  The touched
        #    prune cells are observed on this write.
        obs_bp = Observation()
        self._write_table(
            b.select("doc_id", F.explode("buckets").alias("bucket"))
            .withColumn("bp", F.substring("bucket", 1, self.bp_len))
            .observe(obs_bp, F.collect_set("bp").alias("bps"))
            .sortWithinPartitions("bp", "bucket"),
            "buckets",
            batch_id,
        )
        bps = sorted(obs_bp.get["bps"])
        bb = spark.read.schema(_BUCKET_IDX).parquet(
            self._batch_dir("buckets", batch_id)
        )

        # 3. within-batch: later doc rejected by any earlier batch doc
        e = bb.select("doc_id", "bucket")
        pairs_in = (
            e.alias("x")
            .join(e.alias("y"), "bucket")
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(
                F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b")
            )
            .distinct()
        )
        verified = dedup.jaccard_pairs(
            None, pairs_in, threshold=self.threshold, prepared=b
        ).select("id_a", "id_b")

        # 4. vs history: candidate ids via the narrow bucket index
        #    (batch side broadcast — history is never shuffled), exact
        #    Jaccard via the SAME jaccard_pairs expression as batch.
        #    The pruned scan size is THE per-batch scale number for this
        #    guard (VERDICT r3), observed on the probe.
        if ids and bps:
            # base leg: touched-cell paths read directly (no 4096-dir
            # listing); the isin filter still prunes the incremental tail
            hist_b = self._read_committed(
                spark, "buckets", ids, partition_filter={"bp": bps}
            ).where(F.col("bp").isin(bps))
            probe, obs_probe = observe_count(hist_b)
            cand = (
                probe.join(
                    F.broadcast(
                        bb.select("bucket", F.col("doc_id").alias("id_b"))
                    ),
                    "bucket",
                )
                .select(F.col("doc_id").alias("id_a"), "id_b")
                .distinct()
            )
            all_docs = (
                self._read_committed(spark, "docs", ids)
                .select("doc_id", "hs")
                .unionByName(b.select("doc_id", "hs"))
            )
            rej_hist = dedup.jaccard_pairs(
                None, cand, threshold=self.threshold, prepared=all_docs
            ).select("id_a", "id_b")
            verified = verified.unionByName(rej_hist)

        # id_b is always the LATER doc (within-batch x<y; history id_a):
        # keep-first == drop every id_b.  Subclasses may persist the
        # pair set itself first (cluster maintenance).
        verified = self._materialize_pairs(spark, batch_id, verified)
        rejected = verified.select(F.col("id_b").alias("doc_id"))

        kept = b.join(rejected.distinct(), "doc_id", "left_anti").select(
            "doc_id", "text"
        )
        n_kept = self._write_table(kept, "kept", batch_id)["rows"]
        n_probe_rows = None  # no history yet
        if ids:
            n_probe_rows = observed_count(obs_probe, hist_b) if bps else 0
        return {
            "n_in": n_in,
            "n_quality_dropped": n_in - n_quality,
            "n_exact_dropped": n_quality - n_exact,
            "n_neardup_dropped": n_exact - n_kept,
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
        return self._read_committed(spark, "kept", ids).select("doc_id", "text")


def run_dedup_stream(
    spark: SparkSession,
    replay_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    max_files_per_trigger: int = 1,
    quality_gate: bool = False,
    exact_fast_path: bool = False,
) -> tuple[StreamingQuery, DedupGuard]:
    guard = DedupGuard(
        out_dir,
        threshold,
        quality_gate=quality_gate,
        exact_fast_path=exact_fast_path,
    )
    # stable id offset: lets the stream attach AFTER a bootstrap ingest
    # (guard.process over the existing corpus) without id collisions;
    # epoch-bound to the checkpoint (mismatch = refuse to start)
    off = guard.stream_offset(checkpoint_dir)
    stream = read_doc_stream(spark, replay_dir, max_files_per_trigger)
    query = (
        stream.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: guard.process(df, bid + off))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    return query, guard
