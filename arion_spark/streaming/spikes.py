"""Continuous spike detection: gaps-and-islands anomaly alerts from the
streaming minute rollup — no nightly re-scan of raw turns.

The continuous minute aggregate (streaming/rollup.py) already maintains
the ONLY state spike detection needs: the per-minute turn counts.  Each
micro-batch therefore:

1. MERGEs the changed minute rows into the minute table (the shared
   MergeSink — idempotent, latest-window-state wins), then
2. recomputes the island set FROM the merged minute grain
   (operators/rollup.spike_islands — the literal batch operator, so
   streamed and batch island sets are definitionally identical once
   every event is within watermark) and commits it as this batch's
   snapshot, with alert lineage (islands added/changed vs the previous
   snapshot) in the commit marker.

Why recompute rather than patch islands incrementally: the hot-minute
threshold is ``factor × global mean rate``, so EVERY new batch can flip
any historical minute's hotness — island state is not prefix-stable.
The recompute is still scale-correct because its input is the minute
grain, never raw rows: O(minutes) ≈ 525k rows/year ≈ kilobyte-scale
per-day partials, vs the O(turns) table the batch query scans nightly.
Snapshots are O(#islands) — effectively free.

Restart safety: minute state + offsets live in the Spark checkpoint;
both sinks skip committed ids; a crash between minute MERGE and the
snapshot marker is healed on replay (the snapshot write is an
overwrite, and the minute MERGE no-ops).  Twin test pins
stream == batch across a mid-stream restart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from arion_spark.operators.rollup import spike_islands
from arion_spark.streaming.commitlog import CommitLog
from arion_spark.streaming.rollup import minute_rollup_stream
from arion_spark.streaming.sink import MergeSink
from arion_spark.streaming.source import read_replay_stream

_SPIKES = "start timestamp, end timestamp, spike_turns long"


class SpikeRollup(CommitLog):
    """foreachBatch sink: minute MERGE + per-batch island snapshot."""

    def __init__(self, table_dir: str, factor: float = 1.5):
        self.factor = factor
        self.minute = MergeSink(f"{table_dir}/minute", keys=("bucket_ts",))
        self._init_commit_log(f"{table_dir}/spikes")

    def process(
        self, batch_df: DataFrame, batch_id: int, extra: dict | None = None
    ) -> None:
        # 1. minute grain upsert (independently idempotent), then the
        #    snapshot commit (a replay no-op once committed)
        self.minute.process(batch_df, batch_id)
        super().process(batch_df, batch_id, extra)

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> dict:
        spark = batch_df.sparkSession
        prev = self._latest_snapshot(spark)
        m = self.minute.read_merged(spark).select("bucket_ts", "n_turns")
        cur = spike_islands(m, factor=self.factor)
        # alert lineage: islands in cur not identical in prev = new or
        # grown/merged spikes this batch — flagged by a join against the
        # (tiny) previous snapshot and counted by the snapshot write (an
        # observation at the plan root always reports)
        obs = None
        if prev is not None:
            obs = Observation()
            cols = cur.columns
            cur = (
                cur.join(prev.withColumn("_prev", F.lit(True)), cols, "left")
                .observe(obs, F.count_if(F.col("_prev").isNull()).alias("n"))
                .select(*cols)
            )
        n_cur = self._write_table(cur, "state", batch_id)["rows"]
        return {
            "n_spikes": n_cur,
            "n_changed_spikes": n_cur if obs is None else obs.get["n"],
            # "schema" is uniformly StructType JSON across every
            # sink's markers (MergeSink._marker_schema parses it);
            # a DDL string here would be a latent JSONDecodeError
            # trap for any shared marker reader
            "schema": cur.schema.json(),
        }

    def _latest_snapshot(self, spark: SparkSession) -> DataFrame | None:
        ids = self.committed_ids()
        if not ids:
            return None
        return spark.read.schema(_SPIKES).parquet(
            f"{self.table_dir}/state/batch={ids[-1]:012d}"
        )

    def read_spikes(self, spark: SparkSession) -> DataFrame:
        """The current committed island set (start, end, spike_turns)."""
        df = self._latest_snapshot(spark)
        if df is None:
            raise FileNotFoundError(f"no committed snapshot in {self.table_dir}")
        return df

    def alerts(self) -> list[dict]:
        """Per-batch alert lineage — what a pager hook would consume."""
        return self.lineage()


def run_spike_stream(
    spark: SparkSession,
    replay_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    factor: float = 1.5,
    max_files_per_trigger: int = 1,
) -> tuple[StreamingQuery, SpikeRollup]:
    """One stateful pass (the update-mode minute aggregate) feeding the
    spike detector — the continuous twin of queries.spike_intervals."""
    stream = read_replay_stream(spark, replay_dir, max_files_per_trigger)
    minute = minute_rollup_stream(stream, watermark)
    det = SpikeRollup(out_dir, factor=factor)
    query = (
        minute.writeStream.outputMode("update")
        .foreachBatch(det.process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    return query, det
