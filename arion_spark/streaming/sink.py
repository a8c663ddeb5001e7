"""Exactly-once MERGE sink: ``foreachBatch`` + parquet + commit log.

Iceberg jars are not available in this sandbox (re-checked 2026-08-18,
round 5: no iceberg/delta/hudi jar anywhere on the filesystem, no
pyiceberg or delta-spark package, zero iceberg jars under pyspark/jars,
no ivy cache, Maven Central unreachable — no network), so
MERGE-on-key exactly-once is implemented
with the same contract Iceberg's ``MERGE INTO (conv_id, turn_idx)``
would give (SURVEY.md §7 M5 fallback):

  * each micro-batch writes to its own directory ``data/batch=<id>/``
    (overwrite → the write itself is idempotent under task retry),
  * a commit marker ``_commits/<id>.json`` is written AFTER the data
    (atomic rename), carrying per-batch lineage (row count and bytes
    from the written files, min/max event time observed on the write —
    no extra Spark job),
  * a batch id that is already committed is SKIPPED — replays after
    checkpoint restart are no-ops,
  * readers see only committed batches and dedup by key keeping the
    LATEST batch (MERGE upsert semantics).

On a real cluster, swap ``MergeSink._write_batch`` for
``spark.sql("MERGE INTO ... USING batch_df ON t.conv_id = s.conv_id AND
t.turn_idx = s.turn_idx WHEN MATCHED THEN UPDATE ... WHEN NOT MATCHED
THEN INSERT ...")`` — the checkpoint/commit-log discipline is identical.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arion_spark.streaming.commitlog import CommitLog

KEYS = ("conv_id", "turn_idx")


class MergeSink(CommitLog):
    """Exactly-once upsert sink on ``keys`` (see module docstring).

    The marker carries the shared commit-log fields plus ``rows`` and
    ``n_partitions`` (from the written part files), the payload
    ``schema``, and, when the payload has a ``ts`` column, its
    ``min_ts``/``max_ts`` — observed on the write itself."""

    def __init__(self, table_dir: str, keys: tuple[str, ...] = KEYS):
        self.keys = keys
        self._init_commit_log(table_dir)

    # -- write path -----------------------------------------------------------

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> dict:
        """The micro-batch plan is executed EXACTLY ONCE (the parquet
        write) — every extra action on an uncached foreachBatch
        DataFrame re-runs the upstream stateful plan (measured 3× batch
        cost before this was fixed), so lineage comes from the write's
        observation and the written files' footers."""
        obs = None
        if "ts" in batch_df.columns:
            obs = Observation()
            batch_df = batch_df.observe(
                obs,
                F.min("ts").cast("string").alias("min_ts"),
                F.max("ts").cast("string").alias("max_ts"),
            )
        data = self._write_table(batch_df, "data", batch_id)
        marker = {
            "rows": data["rows"],
            "n_partitions": data["files"],
            "data_dir": self._batch_dir("data", batch_id),
            # payload schema travels in the marker so every read path can
            # state it explicitly — a committed ZERO-ROW batch dir has no
            # part files, and schema inference over it would wedge the
            # stream (the write-path hardening alone was not enough)
            "schema": batch_df.schema.json(),
        }
        if obs is not None:
            marker.update(obs.get)
        return marker

    # -- read path (MERGE view) ----------------------------------------------

    def committed_batches(self) -> list[dict]:
        return self.lineage()

    @staticmethod
    def _marker_schema(marker: dict) -> T.StructType | None:
        """Schema recorded in a commit/compaction marker (None for logs
        written before schemas were persisted — those fall back to
        inference, which is safe only while every dir has part files)."""
        s = marker.get("schema")
        return T.StructType.fromJson(json.loads(s)) if s else None

    def _data_reader(self, spark: SparkSession, sch: T.StructType | None):
        """Partitioned reader over ``data/`` with the payload schema (plus
        the ``batch`` partition column) stated explicitly when known."""
        rdr = spark.read.option("basePath", f"{self.table_dir}/data")
        if sch is not None:
            rdr = rdr.schema(
                T.StructType(list(sch.fields) + [T.StructField("batch", T.LongType())])
            )
        return rdr

    def read_merged(self, spark: SparkSession) -> DataFrame:
        """Committed-only, key-deduped view (upsert: latest batch wins).

        ONE partitioned scan of ``data/`` with ``batch`` as a partition
        column (an in-filter over committed ids Spark prunes at the
        directory level), then one ``max_by(payload, batch)`` aggregation
        — partial map-side, no per-key sort.  The previous shape (one
        union leg per committed batch + a global window) made the PLAN
        grow with batch count: at thousands of micro-batches, analysis
        and the unioned sort dominated the read.

        After ``compact()``, the view is compacted-base ∪ still-
        incremental batches, base rows ranked at the compaction
        horizon — identical results (tested), bounded file count."""
        commits = self.committed_batches()
        if not commits:
            raise FileNotFoundError(f"no committed batches in {self.table_dir}")
        ids = [int(c["batch_id"]) for c in commits]
        sch = self._marker_schema(commits[-1])
        comp = self.latest_compaction()
        legs = []
        if comp is not None:
            upto = comp["upto"]
            rdr = spark.read
            bsch = self._marker_schema(comp)
            if bsch is not None:
                rdr = rdr.schema(bsch)
            base = rdr.parquet(self._base_dir(upto))
            base = base.drop(*comp["partition_cols"]).withColumn(
                "_b", F.lit(upto).cast("long")
            )
            legs.append(base)
            ids = [i for i in ids if i > upto]
        if ids:
            df = self._data_reader(spark, sch).parquet(f"{self.table_dir}/data")
            legs.append(
                df.where(F.col("batch").cast("long").isin(ids))
                .withColumn("_b", F.col("batch").cast("long"))
                .drop("batch")
            )
        df = legs[0]
        for leg in legs[1:]:
            df = df.unionByName(leg)
        payload = [c for c in df.columns if c != "_b"]
        return (
            df.groupBy(*[F.col(k) for k in self.keys])
            .agg(F.max_by(F.struct(*payload), F.col("_b")).alias("_r"))
            .select("_r.*")
        )

    # -- incremental consumption (CDC) + snapshot time travel -----------------

    def read_changes(self, spark: SparkSession, since_batch: int = -1) -> DataFrame:
        """The raw upsert changelog AFTER ``since_batch`` (exclusive):
        every row written by a later committed batch, with its ``batch``
        id — what a downstream incremental job consumes instead of
        rescanning the merged table (consume-from-high-watermark: the
        consumer persists the max batch id it has seen and passes it
        back).  Rows are per-batch upsert images, so a key updated by k
        batches appears k times; pipe through the same ``max_by``
        collapse as ``read_merged`` if only the final image matters.
        Only valid for batches still on disk (vacuum removes folded
        dirs — consumers must keep up with the compaction cadence, the
        same contract as Iceberg's incremental read vs snapshot expiry).
        """
        commits = self.committed_batches()
        ids = [int(c["batch_id"]) for c in commits if int(c["batch_id"]) > since_batch]
        missing = [
            i for i in ids
            if not os.path.isdir(f"{self.table_dir}/data/batch={i:012d}")
        ]
        if missing:
            raise ValueError(
                f"batches {missing} were compacted+vacuumed; CDC read "
                f"from {since_batch} is no longer possible — restart "
                "the consumer from read_merged()"
            )
        sch = self._marker_schema(commits[-1]) if commits else None
        df = self._data_reader(spark, sch).parquet(f"{self.table_dir}/data")
        return df.where(F.col("batch").cast("long").isin(ids)).withColumn(
            "batch", F.col("batch").cast("long")
        )

    def read_merged_as_of(self, spark: SparkSession, as_of: int) -> DataFrame:
        """Snapshot time travel: the merged view as it stood after batch
        ``as_of`` committed.  Valid while the constituent batch dirs
        exist (compact+vacuum trades old snapshots for file count, like
        Iceberg snapshot expiry)."""
        commits = self.committed_batches()
        ids = [int(c["batch_id"]) for c in commits if int(c["batch_id"]) <= as_of]
        if not ids:
            raise FileNotFoundError(f"no committed batches ≤ {as_of}")
        missing = [
            i for i in ids
            if not os.path.isdir(f"{self.table_dir}/data/batch={i:012d}")
        ]
        if missing:
            raise ValueError(
                f"snapshot as of {as_of} needs vacuumed batches {missing}"
            )
        sch = self._marker_schema(commits[-1])
        df = self._data_reader(spark, sch).parquet(f"{self.table_dir}/data")
        df = df.where(F.col("batch").cast("long").isin(ids)).withColumn(
            "_b", F.col("batch").cast("long")
        ).drop("batch")
        payload = [c for c in df.columns if c != "_b"]
        return (
            df.groupBy(*[F.col(k) for k in self.keys])
            .agg(F.max_by(F.struct(*payload), F.col("_b")).alias("_r"))
            .select("_r.*")
        )

    # -- compaction (small-file management) -----------------------------------
    #
    # A micro-batch sink accrues one directory (≥1 file) per batch: at a
    # day of 5-second triggers that is ~17k dirs — listing, footer reads
    # and per-file task overhead come to dominate every read.  compact()
    # folds all committed batches (and any previous base) into ONE
    # key-deduped base table, optionally partitioned by derived columns
    # (e.g. day=to_date(ts)) so downstream reads partition-prune;
    # vacuum() then deletes the folded batch dirs.  Crash-safety mirrors
    # the batch commit: base data is written first, the compaction
    # marker lands after via atomic rename, and readers switch to the
    # base only once the marker exists — a crash mid-compaction leaves
    # the incremental view untouched.  Commit markers are NEVER deleted,
    # so replayed batch ids stay no-ops after vacuum (tested).  Bases sit
    # at ``data_base/upto=<id>/``, the layout every commit-log sink uses,
    # so vacuum is the shared CommitLog._vacuum_tables.  This is the
    # parquet twin of Iceberg's rewrite_data_files + snapshot expiry.

    def _base_dir(self, upto: int) -> str:
        return f"{self.table_dir}/data_base/upto={upto:012d}"

    def compact(
        self, spark: SparkSession, partition_exprs: dict[str, Column] | None = None
    ) -> dict:
        """Fold every committed batch into a single deduped base.

        ``partition_exprs`` adds derived partition columns to the base
        layout (name → Column over the payload), e.g.
        ``{"day": F.to_date("ts")}`` — they exist only in the base files
        (dropped again by ``read_merged``) and make direct base reads
        (``read_base``) partition-prunable."""
        ids = [int(c["batch_id"]) for c in self.committed_batches()]
        if not ids:
            raise FileNotFoundError(f"no committed batches in {self.table_dir}")
        upto = max(ids)
        prev = self.latest_compaction()
        if prev is not None and prev["upto"] == upto:
            return prev  # nothing new to fold
        merged = self.read_merged(spark)
        pcols = list((partition_exprs or {}).keys())
        for name, expr in (partition_exprs or {}).items():
            merged = merged.withColumn(name, expr)
        merged.write.mode("overwrite").partitionBy(*pcols).parquet(
            self._base_dir(upto)
        )
        return self._write_compaction_marker(
            upto,
            {"upto": upto, "partition_cols": pcols, "schema": merged.schema.json()},
        )

    def vacuum(self) -> int:
        """Delete batch dirs folded into the latest base (and superseded
        bases).  Keeps every commit marker — exactly-once replay skips
        survive vacuum.  Returns the number of directories removed."""
        return self._vacuum_tables(["data"])

    def read_base(self, spark: SparkSession) -> DataFrame:
        """The compacted base WITH its derived partition columns — the
        table downstream batch jobs scan; filters on the partition
        columns prune at the directory level (asserted in tests)."""
        comp = self.latest_compaction()
        if comp is None:
            raise FileNotFoundError(f"no compaction in {self.table_dir}")
        rdr = spark.read
        bsch = self._marker_schema(comp)
        if bsch is not None:
            rdr = rdr.schema(bsch)
        return rdr.parquet(self._base_dir(comp["upto"]))

