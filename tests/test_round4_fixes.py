"""Round-4 hardening regression tests (ADVICE items):

* sink read paths survive committed ZERO-ROW dirs (schema travels in the
  commit marker, never inferred from part files),
* salted_join refuses dim-preserving join types,
* stream_offset is epoch-bound to one Spark checkpoint,
* fan-out replay after compact+vacuum no-ops instead of reading a
  vacuumed batch dir.
"""

from __future__ import annotations

import glob
import os
import shutil
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from arion_spark.operators.skewjoin import salted_join
from arion_spark.streaming.fanout import AnalyticsFanout
from arion_spark.streaming.rollup import SketchSink
from arion_spark.streaming.sink import MergeSink
from arion_spark.transcripts import TRANSCRIPT_SCHEMA

T0 = datetime(2024, 1, 1)


def _row(conv, idx, ts_min, role="user", text=None):
    return (
        conv,
        idx,
        role,
        text or f"text {conv} {idx}",
        None,
        T0 + timedelta(minutes=ts_min),
    )


def _strip_part_files(d):
    """Simulate the exact poisoning shape: a committed dir whose write
    produced no part files (zero-row batch) — schema inference over it
    fails with UNABLE_TO_INFER_SCHEMA."""
    for f in glob.glob(f"{d}/part-*"):
        os.remove(f)
    for f in glob.glob(f"{d}/.part-*.crc"):
        os.remove(f)


def test_sketch_sink_zero_row_state_readable(spark, tmp_path):
    sink = SketchSink(
        str(tmp_path / "sk"),
        partial_fn=lambda b: b.groupBy("conv_id").agg(
            F.count("*").alias("n")
        ),
        merge_fn=lambda p, q: p.unionByName(q)
        .groupBy("conv_id")
        .agg(F.sum("n").alias("n")),
    )
    empty = spark.createDataFrame([], TRANSCRIPT_SCHEMA)
    sink.process(empty, 0)  # zero-row merged state committed
    _strip_part_files(str(tmp_path / "sk" / "state" / "batch=000000000000"))

    # the read path the stream takes on the NEXT batch: must not wedge
    st = sink.read_state(spark)
    assert st is not None and st.count() == 0
    assert st.columns == ["conv_id", "n"]

    # and the merge over that state must work end-to-end
    sink.process(
        spark.createDataFrame([_row("c1", 0, 0)], TRANSCRIPT_SCHEMA), 1
    )
    rows = sink.read_state(spark).collect()
    assert [(r["conv_id"], r["n"]) for r in rows] == [("c1", 1)]


def test_merge_sink_zero_row_only_log_readable(spark, tmp_path):
    """A log whose ONLY committed batch is zero-row must stay readable
    through every read path (merged / changes / as-of)."""
    sink = MergeSink(str(tmp_path / "m"))
    sink.process(spark.createDataFrame([], TRANSCRIPT_SCHEMA), 0)
    _strip_part_files(str(tmp_path / "m" / "data" / "batch=000000000000"))
    assert sink.read_merged(spark).count() == 0
    assert sink.read_changes(spark, -1).count() == 0
    assert sink.read_merged_as_of(spark, 0).count() == 0
    # schema is the marker's, not inferred
    assert {"conv_id", "turn_idx", "ts", "text"} <= set(
        sink.read_merged(spark).columns
    )


def test_salted_join_rejects_dim_preserving_how(spark):
    fact = spark.createDataFrame([("c1", 1)], "conv_id string, turn_idx int")
    dim = spark.createDataFrame([("c1", "x")], "conv_id string, attr string")
    for how in ("right", "full", "outer", "right_outer"):
        with pytest.raises(ValueError, match="fact-preserving"):
            salted_join(fact, dim, "conv_id", buckets=4, how=how)
    # fact-preserving forms still work
    assert salted_join(fact, dim, "conv_id", buckets=4, how="left").count() == 1


def test_stream_offset_epoch_binds_checkpoint(spark, tmp_path):
    sink = MergeSink(str(tmp_path / "t"))
    sink.process(
        spark.createDataFrame([_row("c1", 0, 0)], TRANSCRIPT_SCHEMA), 0
    )
    ck = str(tmp_path / "ckpt")
    off = sink.stream_offset(ck)
    assert off == 1  # after bootstrap batch 0
    assert sink.stream_offset(ck) == 1  # restart: same checkpoint, same offset

    # checkpoint deleted/recreated BEFORE any stream batch committed =
    # the first-start crash window (offset file written, epoch file
    # lost): nothing can double-process, so the new checkpoint is
    # adopted at the same offset instead of refused
    shutil.rmtree(ck)
    os.makedirs(ck)
    assert sink.stream_offset(ck) == 1
    assert os.path.exists(f"{ck}/_arion_stream_epoch.json")  # re-bound

    # ... but once a stream batch IS committed under the offset, a
    # recreated checkpoint means replayed source data would re-process
    # under fresh ids: refuse
    sink.process(
        spark.createDataFrame([_row("c1", 1, 1)], TRANSCRIPT_SCHEMA), 1
    )
    shutil.rmtree(ck)
    os.makedirs(ck)
    with pytest.raises(RuntimeError, match="deleted or recreated"):
        sink.stream_offset(ck)

    # offset file lost while checkpoint survives: recoverable iff the
    # commit log is empty (nothing was ever committed), refused once
    # batches exist (fresh ids would collide with committed ones)
    sink2 = MergeSink(str(tmp_path / "t2"))
    ck2 = str(tmp_path / "ckpt2")
    sink2.stream_offset(ck2)
    os.remove(f"{tmp_path}/t2/_stream_offset.json")
    assert sink2.stream_offset(ck2) == 0  # empty log → safe re-init
    sink2.process(
        spark.createDataFrame([_row("c9", 0, 0)], TRANSCRIPT_SCHEMA), 0
    )
    os.remove(f"{tmp_path}/t2/_stream_offset.json")
    with pytest.raises(RuntimeError, match="offset file was lost"):
        sink2.stream_offset(ck2)


def test_fanout_replay_after_vacuum_noops(spark, tmp_path):
    fan = AnalyticsFanout(str(tmp_path / "fan"))
    df = spark.createDataFrame(
        [_row("c1", 0, 0), _row("c1", 1, 1), _row("c2", 0, 2)],
        TRANSCRIPT_SCHEMA,
    )
    fan.process(df, 0)
    assert fan.committed_consistent()
    fan.chain.compact(spark)
    assert fan.chain.vacuum() >= 1  # batch dir is gone
    # crash-replay of the fully-committed batch: must no-op, not
    # PATH_NOT_FOUND on the vacuumed batch dir
    fan.process(df, 0)
    assert fan.committed_consistent()
    assert fan.read_chain(spark).count() == 3


def test_guard_probe_pruning_and_lineage(spark, tmp_path):
    """The history probe must prune by bp (a 1-doc batch touches at most
    bands distinct prefixes), report probe-scan rows/partitions in the
    lineage, and reject a layout-mismatched re-open."""
    from arion_spark.streaming.dedup import DedupGuard

    rows = [(i, " ".join(f"w{i}x{j}" for j in range(30))) for i in range(40)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    g = DedupGuard(str(tmp_path / "g"))
    g.process(corpus.where("doc_id < 20"), 0)
    g.process(corpus.where("doc_id >= 20"), 1)
    g.compact(spark)
    g.vacuum()

    total_idx = g._read_committed(spark, "buckets", g.committed_ids()).count()
    one = spark.createDataFrame(
        [(9000, " ".join(f"q{j}" for j in range(30)))],
        "doc_id long, text string",
    )
    g.process(one, 2)
    m = g.lineage()[-1]
    # 1 doc × 4 bands → at most 4 bp cells probed
    assert 0 < m["n_probe_partitions"] <= 4
    # pruned probe reads strictly less than the whole index
    assert m["n_probe_rows"] < total_idx
    assert m["n_kept"] == 1

    # layout pinning: re-open with a different bp_len must refuse
    with pytest.raises(ValueError, match="layout mismatch"):
        DedupGuard(str(tmp_path / "g"), bp_len=2)
    # matching layout (the scale-safe default, bp_len=3) re-opens fine
    DedupGuard(str(tmp_path / "g"), bp_len=3)


def test_vec_guard_probe_pruning_and_lineage(spark, tmp_path):
    from arion_spark.streaming.vecdedup import VecDedupGuard

    import numpy as np  # noqa: F401  (vectors built inline)

    dim = 8

    def vec(seed):
        # deterministic, no RNG: spread directions via index arithmetic
        return [float(((seed * 31 + d * 7) % 17) - 8) for d in range(dim)]

    vecs = [(i, vec(i)) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    g = VecDedupGuard(str(tmp_path / "vg"), dim=dim, n_bands=4, n_planes=6)
    g.process(df.where("vec_id < 20"), 0)
    g.process(df.where("vec_id >= 20"), 1)
    g.compact(spark)
    g.vacuum()

    total_idx = g._read_committed(spark, "buckets", g.committed_ids()).count()
    one = spark.createDataFrame(
        [(9000, vec(99))], "vec_id long, embedding array<double>"
    )
    g.process(one, 2)
    m = g.lineage()[-1]
    assert 0 < m["n_probe_partitions"] <= 4  # 1 vec × 4 bands
    assert m["n_probe_rows"] < total_idx

    with pytest.raises(ValueError, match="layout mismatch"):
        VecDedupGuard(str(tmp_path / "vg"), dim=dim, n_bands=8, n_planes=6)
