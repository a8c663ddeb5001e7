"""One-pass multi-sink fan-out: a single stream read feeds the chain
MERGE table AND every continuous summary.

At 100 TB the dominant cost of a micro-batch is upstream — the source
scan plus the stateful fold.  Running the chain sink and each analytics
summary as separate streaming queries multiplies exactly that cost by
the number of consumers.  The fan-out instead runs ONE query whose
``foreachBatch``:

1. upserts the chain output into the MERGE sink (the upstream plan's
   only execution — MergeSink materializes the batch to parquet), then
2. feeds every summary's partial+merge FROM the just-written columnar
   batch files — the summaries never re-execute the source scan or the
   per-conversation state machine.

Consistency model: every store commits through its own log under the
SAME batch id.  A crash anywhere inside the fan-out replays the batch;
each store independently no-ops (already committed) or completes, so
after the replay all stores have identical committed-id sets — per-batch
atomicity is NOT claimed mid-crash, per-batch convergence after replay
is (tested).  This is exactly how multi-table transactional writes
degrade on engines without cross-table transactions; with Iceberg the
four writes would share one multi-table commit.

Summaries fan out to:
* minute-grain rollup partials (operators/rollup.measure_aggs — all
  algebraic, so partial+merge equals the one-shot minute aggregate;
  hour/day derive at read via cascade_from_minute),
* per-hour KMV distinct-conversations sketch,
* per-hour top-k token summary.
All three consume the CHAIN OUTPUT (post-normalize text), so the
summaries describe the table the chain actually produced — the twin
tests compare against batch recomputation over the merged table itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from arion_spark.functions import sketch
from arion_spark.operators import rollup as op_rollup
from arion_spark.plans.spec import PipelineSpec, parse_spec
from arion_spark.streaming.pipeline import (
    _check_state_layout,
    apply_stateless_chain,
)
from arion_spark.streaming.rollup import SketchSink
from arion_spark.streaming.sink import MergeSink
from arion_spark.streaming.source import read_replay_stream
from arion_spark.streaming.stateful import (
    DEFAULT_N_BUCKETS,
    ordered_fold_stream_bucketed,
)


class AnalyticsFanout:
    def __init__(self, base_dir: str, kmv_k: int = 64, topk_k: int = 64):
        self.base_dir = base_dir
        self.chain = MergeSink(f"{base_dir}/chain")

        def minute_partial(bdf: DataFrame) -> DataFrame:
            return (
                bdf.groupBy(F.date_trunc("minute", "ts").alias("bucket_ts"))
                .agg(*op_rollup.measure_aggs())
            )

        def minute_merge(prev: DataFrame, part: DataFrame) -> DataFrame:
            return (
                prev.unionByName(part)
                .groupBy("bucket_ts")
                .agg(
                    F.sum("n_turns").cast("long").alias("n_turns"),
                    F.sum("n_user_turns").cast("long").alias("n_user_turns"),
                    F.sum("sum_chars").cast("long").alias("sum_chars"),
                    F.max("max_text_len").cast("int").alias("max_text_len"),
                )
            )

        def kmv_partial(bdf: DataFrame) -> DataFrame:
            return sketch.kmv_partial(
                bdf.select(F.date_trunc("hour", "ts").alias("hour"), "conv_id"),
                ["hour"],
                F.col("conv_id"),
                kmv_k,
            )

        def topk_partial(bdf: DataFrame) -> DataFrame:
            toks = bdf.select(
                F.date_trunc("hour", "ts").alias("hour"),
                F.explode(F.split("text", r"\s+")).alias("tok"),
            ).where(F.col("tok") != "")
            return sketch.topk_terms_partial(toks, ["hour"], F.col("tok"), topk_k)

        self.minute = SketchSink(f"{base_dir}/minute", minute_partial, minute_merge)
        self.kmv = SketchSink(
            f"{base_dir}/kmv",
            kmv_partial,
            lambda a, b: sketch.kmv_merge(a, b, ["hour"], kmv_k),
        )
        self.topk = SketchSink(
            f"{base_dir}/topk",
            topk_partial,
            lambda a, b: sketch.topk_terms_merge(a, b, ["hour"], topk_k),
        )
        self._summaries = (self.minute, self.kmv, self.topk)

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        self.chain.process(batch_df, batch_id)  # upstream executes here
        if all(s.is_committed(batch_id) for s in self._summaries):
            # fully-committed replay: don't touch the batch dir at all —
            # compact()+vacuum() may have removed it, and an eager read
            # would wedge the stream with PATH_NOT_FOUND instead of
            # no-oping
            return
        spark = batch_df.sparkSession
        written = spark.read.schema(batch_df.schema).parquet(
            f"{self.chain.table_dir}/data/batch={batch_id:012d}"
        )
        for s in self._summaries:
            s.process(written, batch_id)

    def committed_consistent(self) -> bool:
        """True iff every store has the same committed batch ids."""
        ids = {int(c["batch_id"]) for c in self.chain.committed_batches()}
        return all(set(s.committed_ids()) == ids for s in self._summaries)

    # -- read paths ----------------------------------------------------------

    def read_chain(self, spark: SparkSession) -> DataFrame:
        return self.chain.read_merged(spark)

    def read_cascade(self, spark: SparkSession) -> DataFrame:
        st = self.minute.read_state(spark)
        if st is None:
            raise FileNotFoundError("no committed minute state")
        return op_rollup.cascade_from_minute(st)

    def read_kmv(self, spark: SparkSession, k: int = 64) -> DataFrame:
        st = self.kmv.read_state(spark)
        if st is None:
            raise FileNotFoundError("no committed kmv state")
        return sketch.kmv_estimate(st, ["hour"], k)

    def read_topk(self, spark: SparkSession, k: int = 10) -> DataFrame:
        from arion_spark.streaming.rollup import read_topk

        return read_topk(spark, self.topk, k)


def run_fanout_stream(
    spark: SparkSession,
    spec: dict | str | PipelineSpec,
    replay_dir: str,
    base_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    session_gap_ms: int = 30 * 60 * 1000,
    max_files_per_trigger: int = 1,
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> tuple[StreamingQuery, AnalyticsFanout]:
    """The chain pipeline of pipeline.run_stream_pipeline with the
    fan-out sink instead of the single MERGE sink."""
    if not isinstance(spec, PipelineSpec):
        spec = parse_spec(spec)
    _check_state_layout(checkpoint_dir, n_buckets)
    stream = read_replay_stream(spark, replay_dir, max_files_per_trigger)
    folded = ordered_fold_stream_bucketed(
        stream,
        watermark=watermark,
        session_gap_ms=session_gap_ms,
        n_buckets=n_buckets,
    )
    staged = apply_stateless_chain(folded, spec)
    fan = AnalyticsFanout(base_dir)
    query = (
        staged.writeStream.outputMode("append")
        .foreachBatch(fan.process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    return query, fan
