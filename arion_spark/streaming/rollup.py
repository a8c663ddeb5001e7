"""Streaming continuous aggregate + incremental sketch merge.

This is the wiring that makes the batch analytics of operators/rollup.py
and functions/sketch.py TRUE as streaming deployments (their own
contract: "in a streaming deployment the finest grain is the sink of
the windowed agg", operators/rollup.py; "exactly what ... a streaming
rollup needs", functions/sketch.py):

* **Continuous rollup** — the raw stream feeds ONE update-mode windowed
  minute aggregate (the only stateful pass over raw rows; state =
  per-open-window partials, evicted by the watermark).  Each micro-batch
  emits the changed minute rows, which ``foreachBatch`` MERGEs into the
  minute table keyed on ``bucket_ts`` (MergeSink: latest batch wins —
  exactly upsert semantics, since update mode re-emits a window's new
  running total).  Hour/day grains re-aggregate FROM the merged minute
  grain at read time (operators/rollup.cascade_from_minute) — they never
  touch raw rows, the property that survives 100 TB.

* **Incremental sketches** — KMV and fixed-bin histograms are bounded
  mergeable summaries (≤ k rows/group, ≤ n_bins rows/group), so the
  streaming form is: per batch, compute the batch PARTIAL, merge it with
  the accumulated state, and rewrite the full state — a full rewrite of
  a kilobyte-scale table beats any delta scheme.  Exactly-once comes
  from the same commit-log discipline as MergeSink: state is written to
  a batch-versioned dir, the commit marker lands after the data, and
  replayed batch ids are no-ops (KMV's set-union merge is idempotent
  anyway; histogram counts are NOT, so the commit log is load-bearing
  there).

Restart safety for all three: offsets + windowed-agg state live in the
Spark checkpoint; the sinks skip committed batch ids — restart tests
assert merged results equal the uninterrupted run AND the batch twin.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from arion_spark.functions import sketch
from arion_spark.operators import rollup as op_rollup
from arion_spark.streaming.commitlog import CommitLog
from arion_spark.streaming.sink import MergeSink
from arion_spark.streaming.source import read_replay_stream

# ---------------------------------------------------------------------------
# continuous minute→hour→day rollup


def minute_rollup_stream(
    stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Update-mode minute aggregate over the transcript stream; measures
    are literally operators/rollup.measure_aggs(), so the streamed minute
    grain is definitionally the batch minute grain."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(*op_rollup.measure_aggs())
        .select(F.col("w.start").alias("bucket_ts"), *op_rollup.MEASURES)
    )


class ContinuousRollup:
    """Minute-grain continuous aggregate: MergeSink keyed on bucket_ts
    (update-mode re-emissions upsert), hour/day derived at read."""

    def __init__(self, table_dir: str):
        self.sink = MergeSink(table_dir, keys=("bucket_ts",))

    def read_minute(self, spark: SparkSession) -> DataFrame:
        return self.sink.read_merged(spark)

    def read_cascade(self, spark: SparkSession) -> DataFrame:
        """Equals batch operators/rollup.cascade(t) once every event is
        within watermark — the restartable continuous aggregate."""
        return op_rollup.cascade_from_minute(self.read_minute(spark))


def run_rollup_stream(
    spark: SparkSession,
    replay_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int = 1,
) -> tuple[StreamingQuery, ContinuousRollup]:
    stream = read_replay_stream(spark, replay_dir, max_files_per_trigger)
    minute = minute_rollup_stream(stream, watermark)
    roll = ContinuousRollup(out_dir)
    query = (
        minute.writeStream.outputMode("update")
        .foreachBatch(roll.sink.process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    return query, roll


# ---------------------------------------------------------------------------
# incremental mergeable-sketch sink


class SketchSink(CommitLog):
    """foreachBatch sink holding a bounded mergeable summary.

    ``partial_fn(batch_df) -> DataFrame`` computes the batch's partial
    sketch; ``merge_fn(prev, partial) -> DataFrame`` merges it with the
    accumulated state.  Per batch the FULL merged state is rewritten to
    ``state/batch=<id>/`` and committed with a marker written after the
    data — crash between data and marker ⇒ the replay overwrites the
    orphan dir; committed ids are no-ops (exactly-once)."""

    def __init__(
        self,
        table_dir: str,
        partial_fn: Callable[[DataFrame], DataFrame],
        merge_fn: Callable[[DataFrame, DataFrame], DataFrame],
    ):
        self.partial_fn = partial_fn
        self.merge_fn = merge_fn
        self._init_commit_log(table_dir)

    def read_state(self, spark: SparkSession) -> DataFrame | None:
        """The latest committed merged sketch (None before first commit).

        Schema comes from the commit marker, not inference: a zero-row
        micro-batch can commit a state dir with no part files, and one
        such dir would otherwise poison every later read/merge (markers
        from before schemas were persisted fall back to inference)."""
        ids = self.committed_ids()
        if not ids:
            return None
        with open(self._commit_path(ids[-1])) as f:
            marker = json.load(f)
        rdr = spark.read
        if "schema" in marker:
            from pyspark.sql import types as T

            rdr = rdr.schema(T.StructType.fromJson(json.loads(marker["schema"])))
        return rdr.parquet(f"{self.table_dir}/state/batch={ids[-1]:012d}")

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> dict:
        partial = self.partial_fn(batch_df)
        prev = self.read_state(batch_df.sparkSession)
        merged = partial if prev is None else self.merge_fn(prev, partial)
        self._write_table(merged, "state", batch_id)
        return {
            "state_dir": self._batch_dir("state", batch_id),
            "schema": merged.schema.json(),
        }


# ---------------------------------------------------------------------------
# concrete continuous sketches


def run_kmv_stream(
    spark: SparkSession,
    replay_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 64,
    max_files_per_trigger: int = 1,
) -> tuple[StreamingQuery, SketchSink]:
    """Continuous distinct-conversations-per-hour KMV sketch.

    No Spark-side stateful operator at all: the sketch IS the state,
    and its merge is idempotent — the cheapest possible continuous
    distinct-count."""
    group = ["hour"]

    def partial(bdf: DataFrame) -> DataFrame:
        return sketch.kmv_partial(
            bdf.select(F.date_trunc("hour", "ts").alias("hour"), "conv_id"),
            group,
            F.col("conv_id"),
            k,
        )

    def merge(prev: DataFrame, part: DataFrame) -> DataFrame:
        return sketch.kmv_merge(prev, part, group, k)

    sink = SketchSink(out_dir, partial, merge)
    stream = read_replay_stream(spark, replay_dir, max_files_per_trigger)
    query = (
        stream.writeStream.outputMode("append")
        .foreachBatch(sink.process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    return query, sink


def read_kmv_estimate(
    spark: SparkSession, sink: SketchSink, k: int = 64
) -> DataFrame:
    """Finalized estimate from the merged sketch — equals batch
    functions/sketch.kmv_distinct on the same data."""
    st = sink.read_state(spark)
    if st is None:
        raise FileNotFoundError(f"no committed sketch in {sink.table_dir}")
    return sketch.kmv_estimate(st, ["hour"], k)


def run_latency_hist_stream(
    spark: SparkSession,
    replay_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "30 minutes",
    horizon_s: int = 3600,
    lo: float = 0.0,
    hi: float = 3600.0,
    n_bins: int = 64,
    max_files_per_trigger: int = 1,
) -> tuple[StreamingQuery, SketchSink]:
    """Continuous per-hour latency histogram: the first-response stream
    (streaming/asof.first_response_stream — each answered user turn
    emitted exactly once) feeds per-batch bin-count partials merged by
    addition.  The commit log is load-bearing here (counts are not
    idempotent under replay)."""
    from arion_spark.streaming.asof import first_response_stream

    group = ["hour"]

    def partial(bdf: DataFrame) -> DataFrame:
        lat = bdf.select(
            F.date_trunc("hour", "u_ts").alias("hour"),
            (
                F.col("first_r_ts").cast("timestamp").cast("double")
                - F.col("u_ts").cast("timestamp").cast("double")
            ).alias("v"),
        )
        return sketch.histogram_counts(lat, group, F.col("v"), lo, hi, n_bins)

    def merge(prev: DataFrame, part: DataFrame) -> DataFrame:
        return sketch.histogram_merge(prev, part, group)

    sink = SketchSink(out_dir, partial, merge)
    stream = read_replay_stream(spark, replay_dir, max_files_per_trigger)
    firsts = first_response_stream(
        stream, horizon_s=horizon_s, watermark=watermark
    )
    query = (
        firsts.writeStream.outputMode("append")
        .foreachBatch(sink.process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    return query, sink


def run_topk_stream(
    spark: SparkSession,
    replay_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 64,
    max_files_per_trigger: int = 1,
) -> tuple[StreamingQuery, SketchSink]:
    """Continuous heavy hitters: per-hour top terms via truncated-count
    summaries (functions/sketch.topk_terms_*).  Each batch contributes
    its exact per-(hour, term) counts truncated to the k heaviest; the
    merge adds shared terms and re-truncates.  Size ``k`` well above the
    per-batch distinct-term count of any hot group and the merged result
    is exact (the twin test runs in that regime); under-sized k degrades
    to a deterministic lower bound.  Commit log is load-bearing (count
    addition is not idempotent under replay)."""
    group = ["hour"]

    def partial(bdf: DataFrame) -> DataFrame:
        toks = bdf.select(
            F.date_trunc("hour", "ts").alias("hour"),
            F.explode(F.split("text", r"\s+")).alias("tok"),
        ).where(F.col("tok") != "")
        return sketch.topk_terms_partial(toks, group, F.col("tok"), k)

    def merge(prev: DataFrame, part: DataFrame) -> DataFrame:
        return sketch.topk_terms_merge(prev, part, group, k)

    sink = SketchSink(out_dir, partial, merge)
    stream = read_replay_stream(spark, replay_dir, max_files_per_trigger)
    query = (
        stream.writeStream.outputMode("append")
        .foreachBatch(sink.process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    return query, sink


def read_topk(
    spark: SparkSession, sink: SketchSink, k: int = 10
) -> DataFrame:
    """Finalized top-k per hour from the merged summary — equals batch
    functions/sketch.topk_terms when the sketch ran in its exact regime."""
    from pyspark.sql import Window

    st = sink.read_state(spark)
    if st is None:
        raise FileNotFoundError(f"no committed sketch in {sink.table_dir}")
    w = Window.partitionBy("hour").orderBy(F.desc("_n"), F.asc("_term"))
    return (
        st.select("hour", "_term", "_n", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= k)
        .select(
            "hour",
            F.col("_term").alias("term"),
            F.col("_n").cast("int").alias("n"),
            "rank",
        )
    )


def read_hist_quantiles(
    spark: SparkSession,
    sink: SketchSink,
    quantiles: tuple[float, ...] = (0.5, 0.95),
    lo: float = 0.0,
    hi: float = 3600.0,
    n_bins: int = 64,
) -> DataFrame:
    """Finalized quantiles from the merged bin counts — equals batch
    functions/sketch.histogram_quantiles on the same latencies."""
    st = sink.read_state(spark)
    if st is None:
        raise FileNotFoundError(f"no committed sketch in {sink.table_dir}")
    return sketch.histogram_quantiles_from_counts(
        st, ["hour"], quantiles, lo, hi, n_bins
    )
