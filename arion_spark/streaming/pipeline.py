"""Streaming operation-chain pipeline: the full north-rule wiring.

    replay/Iceberg stream
      → withWatermark(ts)
      → applyInPandasWithState per conv_id   (ordered fold: canonical
        turn order + rolling fingerprint — the stateful operators)
      → stateless chain stages               (read_meta / normalize:
        identical JVM expressions as batch — operator code is SHARED)
      → foreachBatch MergeSink               (exactly-once upsert on
        (conv_id, turn_idx) + per-batch lineage)

Restart-safety: the query checkpoints offsets + state; the sink skips
already-committed batch ids — together giving end-to-end exactly-once
(the M5 contract; restart tests in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from arion_spark.operators import normalize as op_norm
from arion_spark.operators import read_meta as op_meta
from arion_spark.plans.spec import PipelineSpec, parse_spec
from arion_spark.streaming.sink import MergeSink
from arion_spark.streaming.source import read_replay_stream
from arion_spark.streaming.stateful import (
    DEFAULT_N_BUCKETS,
    ordered_fold_stream,
    ordered_fold_stream_bucketed,
)


def apply_stateless_chain(df: DataFrame, spec: PipelineSpec) -> DataFrame:
    """Apply the stateless operators of the spec to the folded stream.

    fingerprint is already materialized by the state operator
    (turn_md5 / conv_fp); copy is realized by the sink itself."""
    norm_seen = 0
    for op in spec.operations:
        if op.type == "read_meta":
            df = op_meta.extract(df)
        elif op.type == "normalize" and not op.run_failure:
            norm_seen += 1
            out_col = "normalized_text" if norm_seen == 1 else f"normalized_text_{norm_seen}"
            df = op_norm.apply(df, op.params, out_col=out_col)
        elif op.type == "filter":
            df = df.filter(op.params["where"])
    return df


def _check_state_layout(checkpoint_dir: str, n_buckets: int) -> None:
    """Refuse to resume a checkpoint written under a different state
    layout.

    The bucketed layout changes the stateful operator's grouping key
    (``_bucket`` vs ``conv_id``) and state schema (pickled blob vs
    struct); Spark would fail state-schema validation with an opaque
    error — or worse, silently mis-key.  A layout marker is written next
    to the checkpoint on first start; a mismatch on restart raises with
    an actionable message (bucketed-mode changes require a fresh
    checkpoint)."""
    import json
    import os

    marker = os.path.join(checkpoint_dir, "_arion_state_layout.json")
    if os.path.exists(marker):
        with open(marker) as f:
            recorded = json.load(f).get("n_buckets")
        if recorded != n_buckets:
            raise ValueError(
                f"checkpoint {checkpoint_dir} was written with state layout "
                f"n_buckets={recorded}, but this run requests n_buckets="
                f"{n_buckets}. The state schema/grouping key differ between "
                "layouts; restart with the original n_buckets or use a "
                "fresh checkpoint directory."
            )
        return
    if os.path.isdir(os.path.join(checkpoint_dir, "offsets")):
        raise ValueError(
            f"checkpoint {checkpoint_dir} predates state-layout markers; "
            "cannot verify its n_buckets layout. Pass the layout it was "
            "created with explicitly after writing the marker, or use a "
            "fresh checkpoint directory."
        )
    os.makedirs(checkpoint_dir, exist_ok=True)
    with open(marker, "w") as f:
        json.dump({"n_buckets": n_buckets}, f)


def run_stream_pipeline(
    spark: SparkSession,
    spec: dict | str | PipelineSpec,
    replay_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    session_gap_ms: int = 30 * 60 * 1000,
    max_files_per_trigger: int = 1,
    n_buckets: int = DEFAULT_N_BUCKETS,
    stream: "DataFrame | None" = None,
) -> tuple[StreamingQuery, MergeSink]:
    """Start the streaming chain; returns (query, sink).

    Callers drive with ``query.processAllAvailable()`` (tests/bench) or
    let the trigger run (production).

    ``n_buckets > 0`` uses the bucketed state layout (per-key machinery
    amortized over ~convs/buckets conversations — the at-scale default);
    ``n_buckets = 0`` keeps one state key per conversation.

    ``stream`` overrides the default parquet replay source with any
    transcript-schema streaming DataFrame (e.g. a JSONL/CSV landing
    zone via sources.read_transcripts_stream, or Kafka on a cluster) —
    the format is the container, the pipeline is the contract."""
    if not isinstance(spec, PipelineSpec):
        spec = parse_spec(spec)
    _check_state_layout(checkpoint_dir, n_buckets)
    if stream is None:
        stream = read_replay_stream(spark, replay_dir, max_files_per_trigger)
    if n_buckets:
        folded = ordered_fold_stream_bucketed(
            stream,
            watermark=watermark,
            session_gap_ms=session_gap_ms,
            n_buckets=n_buckets,
        )
    else:
        folded = ordered_fold_stream(
            stream, watermark=watermark, session_gap_ms=session_gap_ms
        )
    staged = apply_stateless_chain(folded, spec)
    sink = MergeSink(out_dir)
    query = (
        staged.writeStream.outputMode("append")
        .foreachBatch(sink.process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    return query, sink
