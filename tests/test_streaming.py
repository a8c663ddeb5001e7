"""Streaming-core tests: batch↔stream parity, out-of-order folding,
watermark drop semantics, checkpoint restart, exactly-once sink
idempotence, stream-stream join and window operators
(SURVEY.md §5.2 item 5)."""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pytest

from arion_spark.operators import fingerprint as op_fp
from arion_spark.streaming.pipeline import run_stream_pipeline
from arion_spark.streaming.sink import MergeSink
from arion_spark.streaming.source import read_replay_stream, write_replay_chunks
from arion_spark.transcripts import TRANSCRIPT_SCHEMA

SPEC = {
    "operations": [
        {"type": "normalize", "params": {"width": 16, "type": "fill", "gravity": "w"}},
        {"type": "fingerprint", "params": {"type": "md5"}},
    ]
}

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


def _write_chunk(spark, rows, path):
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def _run(spark, replay, base, watermark="30 minutes", gap_ms=30 * 60 * 1000, tag="a"):
    q, sink = run_stream_pipeline(
        spark,
        SPEC,
        replay,
        f"{base}/out_{tag}",
        f"{base}/ckpt_{tag}",
        watermark=watermark,
        session_gap_ms=gap_ms,
    )
    q.processAllAvailable()
    q.stop()
    return sink


def test_stream_matches_batch_twin(spark, transcripts_df, fixture_rows, tmp_path):
    replay = str(tmp_path / "replay")
    write_replay_chunks(transcripts_df, replay, n_chunks=4)
    sink = _run(spark, replay, str(tmp_path))
    merged = sink.read_merged(spark)
    batch = op_fp.rolling(op_fp.per_turn(transcripts_df))
    b = {(r.conv_id, r.turn_idx): (r.text, r.turn_md5, r.conv_fp) for r in batch.collect()}
    s = {(r.conv_id, r.turn_idx): (r.text, r.turn_md5, r.conv_fp) for r in merged.collect()}
    assert s == b  # per-turn text equality under stable turn ordering


def test_out_of_order_within_watermark_folds_correctly(spark, tmp_path):
    """turn 2 arrives after turn 3 (both within watermark) → fold waits,
    then emits in turn_idx order with the same fingerprints as in-order."""
    replay = str(tmp_path / "replay")
    _write_chunk(spark, [_row("c1", 0, 0), _row("c1", 1, 1)], f"{replay}/ch1")
    _write_chunk(spark, [_row("c1", 3, 3)], f"{replay}/ch2")  # gap: 2 missing
    _write_chunk(spark, [_row("c1", 2, 2)], f"{replay}/ch3")  # gap fills
    sink = _run(spark, replay, str(tmp_path))
    got = {
        r.turn_idx: r.conv_fp
        for r in sink.read_merged(spark).where("conv_id = 'c1'").collect()
    }
    assert sorted(got) == [0, 1, 2, 3]
    # fingerprints equal the ordered batch fold
    from arion_spark import oracle

    texts = [f"text c1 {i}" for i in range(4)]
    acc = ""
    import hashlib

    for i, t in enumerate(texts):
        acc = hashlib.md5((acc + oracle.turn_md5(t)).encode()).hexdigest()
        assert got[i] == acc, i


def test_late_beyond_watermark_dropped_then_timeout_flush(spark, tmp_path):
    """A turn older than the watermark is dropped; the blocked successor is
    flushed by event-time timeout (session close) with flushed=true."""
    replay = str(tmp_path / "replay")
    _write_chunk(spark, [_row("c1", 0, 0), _row("c1", 1, 1)], f"{replay}/ch1")
    # advance watermark far past t0 (other conversation)
    _write_chunk(spark, [_row("adv", 0, 300)], f"{replay}/ch2")
    # turn 2 is now way behind the watermark (ts=2min, wm≈270min) → dropped;
    # turn 3 is fresh → buffered behind the permanent gap
    _write_chunk(spark, [_row("c1", 2, 2), _row("c1", 3, 301)], f"{replay}/ch3")
    # sentinel pushes watermark past c1's timeout (max_ts 301 + 30min gap)
    _write_chunk(spark, [_row("sentinel", 0, 1000)], f"{replay}/ch4")
    sink = _run(spark, replay, str(tmp_path), watermark="30 minutes")
    got = {
        r.turn_idx: r
        for r in sink.read_merged(spark).where("conv_id = 'c1'").collect()
    }
    assert sorted(got) == [0, 1, 3]  # 2 dropped by watermark
    assert got[3].flushed is True  # emitted by session-close flush
    assert got[0].flushed is False


def test_checkpoint_restart_equals_uninterrupted(spark, transcripts_df, tmp_path):
    """Kill after the first chunks, restart from checkpoint with more data →
    final table identical to an uninterrupted run (exactly-once parity)."""
    replay_a = str(tmp_path / "replay_a")  # interrupted run reads this
    chunks = write_replay_chunks(transcripts_df, replay_a, n_chunks=4)
    # stage only the first 2 chunks, run, stop
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    for c in chunks[:2]:
        os.rename(c, f"{staged}/{os.path.basename(c)}")
    sink1 = _run(spark, staged, str(tmp_path), tag="r")
    n1 = sink1.read_merged(spark).count()
    # deliver the rest and RESTART with the same checkpoint + sink
    for c in chunks[2:]:
        os.rename(c, f"{staged}/{os.path.basename(c)}")
    sink2 = _run(spark, staged, str(tmp_path), tag="r")  # same ckpt_r/out_r
    merged = sink2.read_merged(spark)
    assert n1 < merged.count()
    # uninterrupted reference run
    replay_b = str(tmp_path / "replay_b")
    write_replay_chunks(transcripts_df, replay_b, n_chunks=4)
    sink_ref = _run(spark, replay_b, str(tmp_path), tag="ref")
    ref = {
        (r.conv_id, r.turn_idx): (r.text, r.conv_fp)
        for r in sink_ref.read_merged(spark).collect()
    }
    got = {(r.conv_id, r.turn_idx): (r.text, r.conv_fp) for r in merged.collect()}
    assert got == ref


def test_sink_batch_replay_is_noop(spark, tmp_path):
    """Re-processing an already-committed batch id must not change the
    table (foreachBatch replay after restart)."""
    sink = MergeSink(str(tmp_path / "tbl"))
    df = spark.createDataFrame([_row("c1", 0, 0)], TRANSCRIPT_SCHEMA)
    sink.process(df, 0)
    before = sink.read_merged(spark).count()
    sink.process(df.union(df), 0)  # replay with different content → ignored
    assert sink.read_merged(spark).count() == before == 1
    assert len(sink.lineage()) == 1


def test_sink_upsert_latest_batch_wins(spark, tmp_path):
    sink = MergeSink(str(tmp_path / "tbl2"))
    sink.process(
        spark.createDataFrame([_row("c1", 0, 0, text="old")], TRANSCRIPT_SCHEMA), 0
    )
    sink.process(
        spark.createDataFrame([_row("c1", 0, 0, text="new")], TRANSCRIPT_SCHEMA), 1
    )
    rows = sink.read_merged(spark).collect()
    assert len(rows) == 1 and rows[0].text == "new"


def test_sink_many_batches_single_scan(spark, tmp_path):
    """64+ committed micro-batches: read_merged stays a single
    partitioned scan + one aggregation (plan must NOT grow with batch
    count) and still returns latest-batch-wins per key."""
    sink = MergeSink(str(tmp_path / "tbl64"))
    for b in range(70):
        # key (c{b%7}, 0) is rewritten every 7th batch; unique key per batch too
        rows = [
            _row(f"c{b % 7}", 0, 0, text=f"v{b}"),
            _row(f"u{b}", 1, 0, text=f"only-{b}"),
        ]
        sink.process(spark.createDataFrame(rows, TRANSCRIPT_SCHEMA), b)
    merged = sink.read_merged(spark)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan and "Window" not in plan
    got = {(r.conv_id, r.turn_idx): r.text for r in merged.collect()}
    assert len(got) == 7 + 70
    for k in range(7):
        latest = max(b for b in range(70) if b % 7 == k)
        assert got[(f"c{k}", 0)] == f"v{latest}"


def test_checkpoint_layout_mismatch_refused(spark, transcripts_df, tmp_path):
    """Restarting a checkpoint under a different state layout must fail
    fast with an actionable error, not an opaque state-schema crash."""
    import pytest

    from arion_spark.streaming.pipeline import run_stream_pipeline
    from arion_spark.streaming.source import write_replay_chunks

    spec = {"operations": [{"type": "fingerprint", "params": {}}]}
    replay = str(tmp_path / "replay")
    write_replay_chunks(transcripts_df, replay, n_chunks=1, files_per_chunk=1)
    q, sink = run_stream_pipeline(
        spark, spec, replay, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        n_buckets=8,
    )
    q.processAllAvailable()
    q.stop()
    with pytest.raises(ValueError, match="n_buckets=8"):
        run_stream_pipeline(
            spark, spec, replay, str(tmp_path / "out"), str(tmp_path / "ckpt"),
            n_buckets=0,
        )


def test_null_text_contract_consistent_across_surfaces(spark, tmp_path):
    """Null-text turns: NULL turn_md5/conv_fp for that row, fold skips it
    — identical in batch rolling, batch conversation, and the streaming
    twin (previously three divergent behaviors)."""
    import hashlib

    from arion_spark.operators import fingerprint as op_fp
    from arion_spark.streaming.pipeline import run_stream_pipeline
    from arion_spark.streaming.source import write_replay_chunks

    rows = [
        _row("c1", 0, 0, text="alpha"),
        ("c1", 1, "user", None, None, T0 + timedelta(minutes=10)),  # null text
        _row("c1", 2, 20, text="beta"),
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)

    fp0 = hashlib.md5(
        ("" + hashlib.md5(b"alpha").hexdigest()).encode()
    ).hexdigest()
    fp2 = hashlib.md5(
        (fp0 + hashlib.md5(b"beta").hexdigest()).encode()
    ).hexdigest()

    roll = {r.turn_idx: r.conv_fp for r in op_fp.rolling(df).collect()}
    assert roll == {0: fp0, 1: None, 2: fp2}

    conv = op_fp.conversation(df).collect()[0]
    assert conv.conv_fp == fp2 and conv.n_turns == 3

    replay = str(tmp_path / "nulls")
    write_replay_chunks(df, replay, n_chunks=1, files_per_chunk=1)
    for nb, tag in ((0, "perkey"), (8, "bucketed")):
        q, sink = run_stream_pipeline(
            spark,
            {"operations": [{"type": "fingerprint", "params": {}}]},
            replay,
            str(tmp_path / f"out_{tag}"),
            str(tmp_path / f"ckpt_{tag}"),
            n_buckets=nb,
        )
        q.processAllAvailable()
        q.stop()
        got = {
            r.turn_idx: (r.turn_md5, r.conv_fp)
            for r in sink.read_merged(spark).collect()
        }
        assert got[0] == (hashlib.md5(b"alpha").hexdigest(), fp0), tag
        assert got[1] == (None, None), tag
        assert got[2] == (hashlib.md5(b"beta").hexdigest(), fp2), tag


def test_stream_stream_join_matches_batch(spark, tmp_path):
    from arion_spark.streaming.join import user_response_join

    rows = [
        _row("c1", 0, 0, "user"),
        _row("c1", 1, 5, "assistant"),
        _row("c1", 2, 10, "tool"),
        _row("c1", 3, 120, "assistant"),  # outside 1h horizon of turn 0
        _row("c2", 0, 0, "user"),
    ]
    replay = str(tmp_path / "replay_j")
    _write_chunk(spark, rows, f"{replay}/ch1")
    _write_chunk(spark, [_row("sentinel", 0, 600, "system")], f"{replay}/ch2")
    stream = read_replay_stream(spark, replay)
    q = (
        user_response_join(stream, horizon="1 hour", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("jout")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.conv_id, r.u_turn_idx, r.r_turn_idx): r.latency_s
        for r in spark.sql("select * from jout").collect()
    }
    assert got == {("c1", 0, 1): 300, ("c1", 0, 2): 600}


def test_streaming_windows_match_batch_counts(spark, transcripts_df, tmp_path):
    from arion_spark.streaming.windows import (
        salted_windowed_conv_counts,
        session_turn_counts,
        tumbling_role_counts,
    )
    from pyspark.sql import functions as F

    replay = str(tmp_path / "replay_w")
    write_replay_chunks(transcripts_df, replay, n_chunks=2)
    # far-future sentinel advances the watermark so every data window closes
    # (append mode emits a window only once the watermark passes its end)
    _write_chunk(spark, [_row("zz-sentinel", 0, 6000, "system")], f"{replay}/chunk=9999")

    def run_to_memory(make, name):
        stream = read_replay_stream(spark, replay)
        q = (
            make(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return spark.sql(f"select * from {name}")

    # tumbling counts: compare against batch groupBy (append mode only emits
    # windows older than the watermark → compare on emitted subset)
    tout = run_to_memory(lambda s: tumbling_role_counts(s, "1 hour", "5 minutes"), "t_out")
    batch = transcripts_df.groupBy(
        F.window("ts", "1 hour").start.alias("window_start"), "role"
    ).agg(F.count("*").cast("int").alias("n_turns"))
    b = {(r.window_start, r.role): r.n_turns for r in batch.collect()}
    emitted = tout.collect()
    assert emitted, "no windows emitted"
    for r in emitted:
        assert b[(r.window_start, r.role)] == r.n_turns

    # salted two-stage == plain per-conv counts on the emitted subset
    sout = run_to_memory(
        lambda s: salted_windowed_conv_counts(s, "1 hour", "5 minutes"), "s_out"
    )
    bc = {
        (r.window_start, r.conv_id): r.n_turns
        for r in transcripts_df.groupBy(
            F.window("ts", "1 hour").start.alias("window_start"), "conv_id"
        )
        .agg(F.count("*").cast("int").alias("n_turns"))
        .collect()
    }
    srows = sout.collect()
    assert srows
    for r in srows:
        assert bc[(r.window_start, r.conv_id)] == r.n_turns

    # session windows: emitted sessions have sane bounds and counts
    sess = run_to_memory(
        lambda s: session_turn_counts(s, "30 minutes", "5 minutes"), "sess_out"
    )
    srows = sess.collect()
    assert srows
    assert all(r.n_turns >= 1 and r.session_end > r.session_start for r in srows)


def test_soak_restart_every_batch_equals_uninterrupted(spark, transcripts_df, tmp_path):
    """Kill the query after EVERY micro-batch and restart from checkpoint;
    the final merged table must equal an uninterrupted run bit-for-bit
    (the strongest form of the exactly-once/restart contract)."""
    import time as _time

    replay = str(tmp_path / "replay")
    write_replay_chunks(transcripts_df, replay, n_chunks=5)

    # uninterrupted twin
    sink_ref = _run(spark, replay, str(tmp_path), tag="ref")
    want = sink_ref.read_merged(spark)

    out, ckpt = str(tmp_path / "soak_out"), str(tmp_path / "soak_ckpt")
    seen = 0
    for attempt in range(12):  # 5 chunks + timeout batches; bounded
        q, sink = run_stream_pipeline(
            spark, SPEC, replay, out, ckpt,
            watermark="30 minutes", session_gap_ms=30 * 60 * 1000,
        )
        # stop as soon as one MORE batch commits (mid-stream kill)
        deadline = _time.time() + 60
        while len(sink.committed_batches()) <= seen and _time.time() < deadline:
            if not q.isActive:
                break
            _time.sleep(0.2)
        try:
            q.stop()
        except Exception:
            # a kill mid-commit may surface as a streaming exception on
            # stop (e.g. RocksDB commit validation for the interrupted
            # batch); the restart below IS the recovery under test, and
            # the final bit-for-bit equality is the gate
            pass
        n_now = len(sink.committed_batches())
        if n_now == seen and attempt > 0:
            break  # no new batch → stream drained
        seen = n_now
    else:
        pytest.fail("soak loop did not drain the stream")

    got = sink.read_merged(spark)
    cols = ["conv_id", "turn_idx", "text", "turn_md5", "conv_fp"]
    assert got.count() == want.count()
    assert got.select(*cols).exceptAll(want.select(*cols)).count() == 0
    assert want.select(*cols).exceptAll(got.select(*cols)).count() == 0


# --------------------------------------------------------------------------
# streaming CEP twin (streaming/cep.py vs operators/cep.py)


def _cep_rows():
    """Three conversations with pattern matches, misses and an unterminated
    trailing tool run; interleaved event times."""
    rows = []
    # c1: user→tool→assistant (match), then user→assistant (no match)
    rows += [
        _row("c1", 0, 0, "user"),
        _row("c1", 1, 1, "tool"),
        _row("c1", 2, 2, "assistant"),
        _row("c1", 3, 3, "user"),
        _row("c1", 4, 4, "assistant"),
    ]
    # c2: user→tool→tool→tool→assistant (match, n_tools=3), then
    # user→tool→system (run broken by non-assistant)
    rows += [
        _row("c2", 0, 0, "user"),
        _row("c2", 1, 2, "tool"),
        _row("c2", 2, 4, "tool"),
        _row("c2", 3, 6, "tool"),
        _row("c2", 4, 8, "assistant"),
        _row("c2", 5, 10, "user"),
        _row("c2", 6, 12, "tool"),
        _row("c2", 7, 14, "system"),
    ]
    # c3: trailing unterminated user→tool→tool (no match ever)
    rows += [
        _row("c3", 0, 0, "user"),
        _row("c3", 1, 5, "tool"),
        _row("c3", 2, 10, "tool"),
    ]
    return rows


def _run_cep_to_memory(spark, replay, name):
    from arion_spark.streaming.cep import cep_stream

    q = (
        cep_stream(read_replay_stream(spark, replay), watermark="30 minutes")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"select * from {name}")


def _batch_cep_matches(spark, rows):
    from arion_spark.operators import cep as op_cep

    t = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    return {
        (r.conv_id, r.user_turn_idx): (r.n_tools, r.resp_turn_idx, r.latency_s)
        for r in op_cep.detect_user_tools_assistant(t).collect()
    }


def test_streaming_cep_matches_batch(spark, tmp_path):
    rows = _cep_rows()
    replay = str(tmp_path / "replay_cep")
    _write_chunk(spark, rows[:6], f"{replay}/ch1")
    _write_chunk(spark, rows[6:], f"{replay}/ch2")
    # sentinel advances the watermark far enough to time out every session
    _write_chunk(spark, [_row("zz", 0, 6000, "system")], f"{replay}/ch9")
    got = {
        (r.conv_id, r.user_turn_idx): (r.n_tools, r.resp_turn_idx, r.latency_s)
        for r in _run_cep_to_memory(spark, replay, "cep_a").collect()
    }
    want = _batch_cep_matches(spark, rows)
    assert got == want
    assert ("c1", 0) in want and ("c2", 0) in want  # non-degenerate
    assert want[("c2", 0)][0] == 3


def test_streaming_cep_out_of_order_arrival(spark, tmp_path):
    """Closing assistant turn arrives BEFORE the tool turn it depends on:
    the NFA must buffer and still emit the match once the gap fills."""
    rows = [
        _row("c1", 0, 0, "user"),
        _row("c1", 1, 1, "tool"),
        _row("c1", 2, 2, "assistant"),
    ]
    replay = str(tmp_path / "replay_cep_ooo")
    _write_chunk(spark, [rows[0]], f"{replay}/ch1")
    _write_chunk(spark, [rows[2]], f"{replay}/ch2")  # assistant first
    _write_chunk(spark, [rows[1]], f"{replay}/ch3")  # tool fills the gap
    _write_chunk(spark, [_row("zz", 0, 6000, "system")], f"{replay}/ch9")
    got = _run_cep_to_memory(spark, replay, "cep_ooo").collect()
    assert [(r.conv_id, r.user_turn_idx, r.n_tools, r.resp_turn_idx) for r in got] == [
        ("c1", 0, 1, 2)
    ]


def test_streaming_cep_restart_from_checkpoint(spark, tmp_path):
    """Kill mid-stream, restart from checkpoint: the union of emitted
    matches equals the uninterrupted run (file sink, exactly-once)."""
    rows = _cep_rows()
    replay = str(tmp_path / "replay_cep_r")
    _write_chunk(spark, rows[:6], f"{replay}/ch1")
    out, ckpt = str(tmp_path / "cep_out"), str(tmp_path / "cep_ckpt")
    from arion_spark.streaming.cep import cep_stream

    def start():
        return (
            cep_stream(read_replay_stream(spark, replay), watermark="30 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    _write_chunk(spark, rows[6:], f"{replay}/ch2")
    _write_chunk(spark, [_row("zz", 0, 6000, "system")], f"{replay}/ch9")
    q = start()
    q.processAllAvailable()
    q.stop()
    got = {
        (r.conv_id, r.user_turn_idx): (r.n_tools, r.resp_turn_idx, r.latency_s)
        for r in spark.read.parquet(out).collect()
    }
    assert got == _batch_cep_matches(spark, rows)


def test_generic_pattern_stream_matches_batch(spark, tmp_path):
    """pattern_stream (generic NFA in state) == match_pattern (batch NFA
    over sorted partitions) for a non-default pattern, with out-of-order
    arrival and timeout flush."""
    from arion_spark.operators import cep as op_cep
    from arion_spark.streaming.cep import pattern_stream

    pat = [("user", "1"), ("tool", "+"), ("tool", "+")]  # invalid: ambiguous
    import pytest as _pytest

    with _pytest.raises(ValueError):
        op_cep.compile_pattern(pat)

    pat = [("tool", "+"), ("assistant", "1")]
    rows = [
        _row("c1", 0, 0, "tool"),
        _row("c1", 1, 1, "tool"),
        _row("c1", 2, 2, "assistant"),
        _row("c2", 0, 0, "user"),
        _row("c2", 1, 1, "tool"),
        _row("c2", 2, 2, "assistant"),
        _row("c2", 3, 3, "tool"),
    ]
    replay = str(tmp_path / "replay_gp")
    # out-of-order: c1 turn 1 arrives after turn 2
    _write_chunk(spark, [rows[0], rows[2]], f"{replay}/ch1")
    _write_chunk(spark, [rows[1]] + rows[3:], f"{replay}/ch2")
    _write_chunk(spark, [_row("zz", 0, 6000, "system")], f"{replay}/ch9")

    q = (
        pattern_stream(read_replay_stream(spark, replay), pat, watermark="30 minutes")
        .writeStream.format("memory")
        .queryName("gp_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.conv_id, r.start_turn_idx): (r.end_turn_idx, r.n_turns, r.latency_s)
        for r in spark.sql("select * from gp_out").collect()
    }
    batch = {
        (r.conv_id, r.start_turn_idx): (r.end_turn_idx, r.n_turns, r.latency_s)
        for r in op_cep.match_pattern(
            spark.createDataFrame(rows, TRANSCRIPT_SCHEMA), pat
        ).collect()
    }
    assert got == batch
    assert ("c1", 0) in got and ("c2", 1) in got


def test_trailing_plus_pattern_stream_matches_batch(spark, tmp_path):
    """A trailing-'+' pattern (user -> tool+) completes on run-break AND
    on event-time flush; stream == batch for both completion paths."""
    from arion_spark.operators import cep as op_cep
    from arion_spark.streaming.cep import pattern_stream

    pat = [("user", "1"), ("tool", "+")]
    rows = [
        _row("c1", 0, 0, "user"),
        _row("c1", 1, 1, "tool"),
        _row("c1", 2, 2, "tool"),
        _row("c1", 3, 3, "assistant"),   # breaks the run -> match (0..2)
        _row("c2", 0, 0, "user"),
        _row("c2", 1, 1, "tool"),        # run open at end -> flush match (0..1)
    ]
    replay = str(tmp_path / "replay_tp")
    # out-of-order: c1 turn 1 arrives after turn 2
    _write_chunk(spark, [rows[0], rows[2], rows[3]], f"{replay}/ch1")
    _write_chunk(spark, [rows[1]] + rows[4:], f"{replay}/ch2")
    _write_chunk(spark, [_row("zz", 0, 6000, "system")], f"{replay}/ch9")

    q = (
        pattern_stream(read_replay_stream(spark, replay), pat, watermark="30 minutes")
        .writeStream.format("memory")
        .queryName("tp_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.conv_id, r.start_turn_idx): (r.end_turn_idx, r.n_turns)
        for r in spark.sql("select * from tp_out").collect()
    }
    batch = {
        (r.conv_id, r.start_turn_idx): (r.end_turn_idx, r.n_turns)
        for r in op_cep.match_pattern(
            spark.createDataFrame(rows, TRANSCRIPT_SCHEMA), pat
        ).collect()
    }
    assert got == batch == {("c1", 0): (2, 3), ("c2", 0): (1, 2)}
    flushed = {
        r.conv_id: r.flushed for r in spark.sql("select * from tp_out").collect()
    }
    assert flushed == {"c1": False, "c2": True}


def test_generic_pattern_stream_restart_from_checkpoint(spark, tmp_path):
    """Generic NFA state round-trips through a checkpoint: kill between
    micro-batches, restart, union of emissions equals the uninterrupted
    batch result (mid-pattern state must survive serialization)."""
    from arion_spark.operators import cep as op_cep
    from arion_spark.streaming.cep import pattern_stream

    pat = [("user", "1"), ("tool", "+"), ("assistant", "1")]
    rows = [
        _row("c1", 0, 0, "user"),
        _row("c1", 1, 1, "tool"),     # stream killed here: NFA mid-pattern
        _row("c1", 2, 2, "tool"),
        _row("c1", 3, 3, "assistant"),
    ]
    replay = str(tmp_path / "replay_gpr")
    _write_chunk(spark, rows[:2], f"{replay}/ch1")
    out, ckpt = str(tmp_path / "gpr_out"), str(tmp_path / "gpr_ckpt")

    def start():
        return (
            pattern_stream(read_replay_stream(spark, replay), pat,
                           watermark="30 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    qq = start(); qq.processAllAvailable(); qq.stop()
    _write_chunk(spark, rows[2:], f"{replay}/ch2")
    _write_chunk(spark, [_row("zz", 0, 6000, "system")], f"{replay}/ch9")
    qq = start(); qq.processAllAvailable(); qq.stop()

    got = {
        (r.conv_id, r.start_turn_idx): (r.end_turn_idx, r.n_turns)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.conv_id, r.start_turn_idx): (r.end_turn_idx, r.n_turns)
        for r in op_cep.match_pattern(
            spark.createDataFrame(rows, TRANSCRIPT_SCHEMA), pat
        ).collect()
    }
    assert got == want == {("c1", 0): (3, 4)}


def test_asof_stream_matches_batch_window(spark, tmp_path):
    """Streaming as-of enrichment == the batch window form
    (last assistant over UNBOUNDED PRECEDING..1 PRECEDING by turn_idx),
    with out-of-order arrival and a tolerance-nulled stale match."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from arion_spark.streaming.asof import asof_stream

    rows = [
        _row("c1", 0, 0, "assistant"),
        _row("c1", 1, 1, "user"),       # matches turn 0
        _row("c1", 2, 2, "tool"),
        _row("c1", 3, 3, "assistant"),
        _row("c1", 4, 4, "user"),       # matches turn 3
        _row("c2", 0, 0, "user"),       # no prior assistant -> null
        _row("c2", 1, 1, "assistant"),
        _row("c2", 2, 90, "user"),      # 89 min later: > 1h tolerance -> null
    ]
    replay = str(tmp_path / "replay_asof")
    # out-of-order: c1 turn 3 (assistant) arrives after turn 4 (user)
    _write_chunk(spark, rows[:3] + [rows[4]], f"{replay}/ch1")
    _write_chunk(spark, [rows[3]] + rows[5:], f"{replay}/ch2")
    _write_chunk(spark, [_row("zz", 0, 6000, "system")], f"{replay}/ch9")

    q = (
        asof_stream(read_replay_stream(spark, replay), tolerance_s=3600,
                    watermark="2 hours")
        .writeStream.format("memory")
        .queryName("asof_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.conv_id, r.turn_idx): (r.asof_turn_idx, r.lag_s)
        for r in spark.sql("select * from asof_out").collect()
    }

    t = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    a_idx = F.last(
        F.when(F.col("role") == "assistant", F.col("turn_idx")), ignorenulls=True
    ).over(w)
    a_ts = F.last(
        F.when(F.col("role") == "assistant", F.col("ts")), ignorenulls=True
    ).over(w)
    lag = F.col("ts").cast("timestamp").cast("double") - F.col("a_ts").cast(
        "timestamp"
    ).cast("double")
    batch = (
        t.select("conv_id", "turn_idx", "role", "ts",
                 a_idx.alias("a_idx"), a_ts.alias("a_ts"))
        .where(F.col("role") == "user")
        .select(
            "conv_id", "turn_idx",
            F.when(lag <= 3600, F.col("a_idx")).alias("a_idx"),
            F.when(lag <= 3600, F.round(lag, 3)).alias("lag_s"),
        )
    )
    want = {
        (r.conv_id, r.turn_idx): (r.a_idx, r.lag_s) for r in batch.collect()
    }
    assert got == want
    assert got[("c1", 4)] == (3, 1.0 * 60)   # matched across the OOO gap
    assert got[("c2", 0)] == (None, None)
    assert got[("c2", 2)] == (None, None)    # stale beyond tolerance


def test_dedup_stream_drops_replayed_turns(spark, tmp_path):
    """An at-least-once source replays a chunk: dedup_stream emits each
    (conv_id, turn_idx) once; downstream fold output equals the clean run."""
    from arion_spark.streaming.source import dedup_stream

    rows = [_row("c1", i, i) for i in range(4)]
    replay = str(tmp_path / "replay_dd")
    _write_chunk(spark, rows[:2], f"{replay}/ch1")
    _write_chunk(spark, rows[:3], f"{replay}/ch2")   # replays turns 0-1
    _write_chunk(spark, rows[2:], f"{replay}/ch3")   # replays turn 2
    q = (
        dedup_stream(read_replay_stream(spark, replay), watermark="30 minutes")
        .writeStream.format("memory")
        .queryName("dd_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        (r.conv_id, r.turn_idx) for r in spark.sql("select * from dd_out").collect()
    )
    assert got == [("c1", i) for i in range(4)]


# ---------------------------------------------------------------------------
# continuous rollup + incremental sketch merge (streaming/rollup.py)


def _stage_chunks(chunks, staged, lo, hi):
    os.makedirs(staged, exist_ok=True)
    for c in chunks[lo:hi]:
        os.rename(c, f"{staged}/{os.path.basename(c)}")


def test_rollup_stream_matches_batch_cascade(spark, transcripts_df, tmp_path):
    """Continuous minute aggregate MERGEd per batch; hour/day derived from
    the merged minute grain == the batch cascade on the same data."""
    from arion_spark.operators import rollup as op_rollup
    from arion_spark.streaming.rollup import run_rollup_stream

    replay = str(tmp_path / "replay")
    write_replay_chunks(transcripts_df, replay, n_chunks=4)
    q, roll = run_rollup_stream(
        spark, replay, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    key = lambda r: (r["grain"], r["bucket_ts"])  # noqa: E731
    val = lambda r: (  # noqa: E731
        r["n_turns"], r["n_user_turns"], r["sum_chars"], r["max_text_len"]
    )
    got = {key(r): val(r) for r in roll.read_cascade(spark).collect()}
    want = {key(r): val(r) for r in op_rollup.cascade(transcripts_df).collect()}
    assert got == want and len(got) > 0


def test_rollup_stream_restart_equals_batch(spark, transcripts_df, tmp_path):
    """Kill the rollup stream mid-way, restart from the checkpoint with
    more chunks → merged cascade equals the batch cascade (the update-mode
    window state survives the restart; replayed batches are no-ops)."""
    from arion_spark.operators import rollup as op_rollup
    from arion_spark.streaming.rollup import run_rollup_stream

    replay = str(tmp_path / "replay")
    chunks = write_replay_chunks(transcripts_df, replay, n_chunks=4)
    staged = str(tmp_path / "staged")
    _stage_chunks(chunks, staged, 0, 2)
    q, roll = run_rollup_stream(
        spark, staged, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    n1 = roll.read_minute(spark).count()
    _stage_chunks(chunks, staged, 2, 4)
    q, roll = run_rollup_stream(
        spark, staged, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    key = lambda r: (r["grain"], r["bucket_ts"])  # noqa: E731
    val = lambda r: (  # noqa: E731
        r["n_turns"], r["n_user_turns"], r["sum_chars"], r["max_text_len"]
    )
    got = {key(r): val(r) for r in roll.read_cascade(spark).collect()}
    want = {key(r): val(r) for r in op_rollup.cascade(transcripts_df).collect()}
    assert got == want
    assert n1 <= sum(1 for g, _ in got if g == "minute")


def test_kmv_stream_matches_batch(spark, transcripts_df, tmp_path):
    """Per-batch KMV partials merged incrementally == the one-shot batch
    sketch (merge is associative + idempotent), across a restart."""
    from pyspark.sql import functions as F

    from arion_spark.functions import sketch
    from arion_spark.streaming.rollup import read_kmv_estimate, run_kmv_stream

    replay = str(tmp_path / "replay")
    chunks = write_replay_chunks(transcripts_df, replay, n_chunks=4)
    staged = str(tmp_path / "staged")
    _stage_chunks(chunks, staged, 0, 2)
    q, sink = run_kmv_stream(
        spark, staged, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    _stage_chunks(chunks, staged, 2, 4)
    q, sink = run_kmv_stream(
        spark, staged, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["hour"]: (r["n_kept"], r["est"])
        for r in read_kmv_estimate(spark, sink).collect()
    }
    want = {
        r["hour"]: (r["n_kept"], r["est"])
        for r in sketch.kmv_distinct(
            transcripts_df.select(
                F.date_trunc("hour", "ts").alias("hour"), "conv_id"
            ),
            ["hour"],
            F.col("conv_id"),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_topk_stream_matches_batch(spark, transcripts_df, tmp_path):
    """Per-batch truncated-count summaries merged incrementally == the
    one-shot exact batch top-k, across a restart — the sketch runs in
    its exact regime (k=64 ≫ the generator's ~30-term vocabulary)."""
    from pyspark.sql import functions as F

    from arion_spark.functions import sketch
    from arion_spark.streaming.rollup import read_topk, run_topk_stream

    replay = str(tmp_path / "replay")
    chunks = write_replay_chunks(transcripts_df, replay, n_chunks=4)
    staged = str(tmp_path / "staged")
    _stage_chunks(chunks, staged, 0, 2)
    q, sink = run_topk_stream(
        spark, staged, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    _stage_chunks(chunks, staged, 2, 4)
    q, sink = run_topk_stream(
        spark, staged, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["hour"], r["rank"]): (r["term"], r["n"])
        for r in read_topk(spark, sink, k=5).collect()
    }
    toks = transcripts_df.select(
        F.date_trunc("hour", "ts").alias("hour"),
        F.explode(F.split("text", r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    want = {
        (r["hour"], r["rank"]): (r["term"], r["n"])
        for r in sketch.topk_terms(toks, ["hour"], F.col("tok"), k=5).collect()
    }
    assert got == want and len(got) > 0


def test_latency_hist_stream_matches_batch(spark, transcripts_df, tmp_path):
    """First-response stream → per-batch bin-count partials merged by
    addition == batch histogram_quantiles over batch first_response, across
    a restart (the commit log makes the non-idempotent count merge
    exactly-once)."""
    from pyspark.sql import functions as F

    from arion_spark.functions import sketch
    from arion_spark.queries import first_response
    from arion_spark.streaming.rollup import (
        read_hist_quantiles,
        run_latency_hist_stream,
    )

    replay = str(tmp_path / "replay")
    chunks = write_replay_chunks(transcripts_df, replay, n_chunks=4)
    staged = str(tmp_path / "staged")
    _stage_chunks(chunks, staged, 0, 2)
    q, sink = run_latency_hist_stream(
        spark, staged, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    _stage_chunks(chunks, staged, 2, 4)
    q, sink = run_latency_hist_stream(
        spark, staged, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["hour"], r["q"]): (r["n"], r["est"])
        for r in read_hist_quantiles(spark, sink).collect()
    }
    first = first_response(transcripts_df)
    lat = first.select(
        F.date_trunc("hour", "u_ts").alias("hour"),
        (
            F.col("first_r_ts").cast("timestamp").cast("double")
            - F.col("u_ts").cast("timestamp").cast("double")
        ).alias("v"),
    )
    want = {
        (r["hour"], r["q"]): (r["n"], r["est"])
        for r in sketch.histogram_quantiles(lat, ["hour"], F.col("v")).collect()
    }
    assert got == want and len(got) > 0


def test_first_response_stream_edge_semantics(spark, tmp_path):
    """Forward as-of stream: (a) a responder arriving AFTER a session-gap
    flush but inside the horizon still matches (pending survives flush);
    (b) a responder beyond the horizon yields no row, exactly like batch
    first_response."""
    from arion_spark.queries import first_response
    from arion_spark.streaming.asof import first_response_stream

    rows = [
        _row("c1", 0, 0, "user"),
        _row("c1", 1, 50, "assistant"),   # 50 min > 30-min gap, < 1 h horizon
        _row("c2", 0, 0, "user"),
        _row("c2", 1, 70, "assistant"),   # beyond horizon -> unanswered
    ]
    replay = str(tmp_path / "replay")
    _write_chunk(spark, [rows[0], rows[2]], f"{replay}/ch1")
    # sentinel pushes the watermark past c1/c2's session timeout (0 + 30min)
    _write_chunk(spark, [_row("adv", 0, 45, "system")], f"{replay}/ch2")
    _write_chunk(spark, [rows[1], rows[3]], f"{replay}/ch3")
    _write_chunk(spark, [_row("sentinel", 0, 1000, "system")], f"{replay}/ch4")
    q = (
        first_response_stream(
            read_replay_stream(spark, replay), watermark="10 minutes"
        )
        .writeStream.format("memory")
        .queryName("fr_edge")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.conv_id, r.turn_idx): (r.u_ts, r.first_r_ts)
        for r in spark.sql(
            "select * from fr_edge where conv_id in ('c1','c2')"
        ).collect()
    }
    t = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    want = {
        (r.conv_id, r.turn_idx): (r.u_ts, r.first_r_ts)
        for r in first_response(t).collect()
    }
    assert got == want
    assert ("c1", 0) in got and ("c2", 0) not in got


# ---------------------------------------------------------------------------
# streaming near-dup dedup guard (streaming/dedup.py)


def _doc_corpus(spark):
    """30 distinct-vocab docs + 15 planted 80%-prefix mutants + a drift
    chain c0≈c1≈c2 where c0 and c2 are NOT direct near-dups."""
    rows = []
    for i in range(30):
        rows.append((i, " ".join(f"w{i}x{j}" for j in range(30))))
    for i in range(0, 30, 2):
        rows.append((1000 + i, " ".join(f"w{i}x{j}" for j in range(24))))
    chain = [f"c{j}" for j in range(60)]
    rows.append((5000, " ".join(chain[0:30])))
    rows.append((5001, " ".join(chain[5:35])))
    rows.append((5002, " ".join(chain[10:40])))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _batch_keep_first(df):
    from pyspark.sql import functions as F

    from arion_spark.functions import dedup

    prep = dedup.prepare_dedup_corpus(df)
    pairs = dedup.lsh_candidate_pairs(None, prepared=prep)
    jp = dedup.jaccard_pairs(None, pairs, threshold=0.5, prepared=prep)
    dropped = jp.select(F.col("id_b").alias("doc_id")).distinct()
    return {
        r["doc_id"]
        for r in df.join(dropped, "doc_id", "left_anti").collect()
    }


def test_dedup_guard_matches_batch_across_restart(spark, tmp_path):
    """Streaming admission (LSH index probe + exact Jaccard per batch)
    == the batch anti-join twin (oracle query dedup_keep_first's
    definition), across a mid-stream checkpoint restart; per-batch
    lineage counts reconcile with the kept set."""
    from arion_spark.streaming.dedup import run_dedup_stream, write_doc_chunks

    corpus = _doc_corpus(spark)
    replay = str(tmp_path / "replay")
    chunks = write_doc_chunks(corpus, replay, n_chunks=4)
    staged = str(tmp_path / "staged")
    _stage_chunks(chunks, staged, 0, 2)
    q, g = run_dedup_stream(
        spark, staged, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    _stage_chunks(chunks, staged, 2, 4)
    q, g = run_dedup_stream(
        spark, staged, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()

    got = {r["doc_id"] for r in g.read_kept(spark).collect()}
    want = _batch_keep_first(corpus)
    assert got == want
    n_total = corpus.count()
    assert 0 < len(got) < n_total  # real drops happened
    # transitive-drop semantics: chain head kept, both drifts dropped
    # (5002 is a near-dup only of the already-DROPPED 5001)
    assert 5000 in got and 5001 not in got and 5002 not in got
    lin = g.lineage()
    assert sum(r["n_in"] for r in lin) == n_total
    assert sum(r["n_kept"] for r in lin) == len(got)


def test_dedup_guard_replayed_batch_is_noop(spark, tmp_path):
    """A committed batch id is skipped entirely — replays after restart
    cannot double-admit or re-drop (exactly-once admission)."""
    from arion_spark.streaming.dedup import DedupGuard

    corpus = _doc_corpus(spark).where("doc_id < 10")
    g = DedupGuard(str(tmp_path / "out"))
    g.process(corpus, 0)
    before = {r["doc_id"] for r in g.read_kept(spark).collect()}
    # replay with DIFFERENT data under the same id: must be a no-op
    g.process(corpus.limit(1), 0)
    after = {r["doc_id"] for r in g.read_kept(spark).collect()}
    assert before == after and len(g.lineage()) == 1


# ---------------------------------------------------------------------------
# compaction (small-file management on the MERGE sink)


def test_sink_compaction_preserves_merge_prunes_and_survives_replay(
    spark, tmp_path
):
    """compact() folds 12 batch dirs into one day-partitioned base:
    read_merged is row-identical before/after compact and after
    vacuum, replayed folded batch ids stay no-ops (commit markers
    survive vacuum), post-compaction batches keep upserting, a second
    compaction folds base+increments, and direct base reads
    partition-prune on day."""
    import glob

    from pyspark.sql import functions as F

    sink = MergeSink(str(tmp_path / "tblc"))
    for b in range(12):
        rows = [
            # day 1 or day 2 depending on batch; hot key rewritten
            _row(f"c{b % 3}", 0, b * 240, text=f"v{b}"),
            _row(f"u{b}", 1, b * 240, text=f"only-{b}"),
        ]
        sink.process(spark.createDataFrame(rows, TRANSCRIPT_SCHEMA), b)

    def snap():
        return {
            (r.conv_id, r.turn_idx): r.text
            for r in sink.read_merged(spark).collect()
        }

    before = snap()
    marker = sink.compact(spark, {"day": F.to_date("ts")})
    assert marker["upto"] == 11 and marker["partition_cols"] == ["day"]
    assert snap() == before
    assert "day" not in sink.read_merged(spark).columns  # schema unchanged

    # partition pruning on the derived day column of the base
    base = sink.read_base(spark)
    assert "day" in base.columns
    plan = (
        base.where("day = DATE'2024-01-01'")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "day" in plan.split(
        "PartitionFilters"
    )[1][:120]

    n_files_before = len(
        glob.glob(f"{tmp_path}/tblc/data/**/*.parquet", recursive=True)
    )
    removed = sink.vacuum()
    assert removed == 12
    n_files_after = len(
        glob.glob(f"{tmp_path}/tblc/data/**/*.parquet", recursive=True)
    ) + len(
        glob.glob(f"{tmp_path}/tblc/data_base/**/*.parquet", recursive=True)
    )
    assert n_files_after < n_files_before
    assert snap() == before

    # replay of a folded-and-vacuumed batch id: still a no-op
    sink.process(
        spark.createDataFrame([_row("zz", 9, 0, text="ghost")], TRANSCRIPT_SCHEMA),
        3,
    )
    assert snap() == before

    # the sink keeps upserting after compaction (incremental leg)
    sink.process(
        spark.createDataFrame([_row("c0", 0, 0, text="post")], TRANSCRIPT_SCHEMA),
        12,
    )
    got = snap()
    assert got[("c0", 0)] == "post"
    assert {k: v for k, v in got.items() if k != ("c0", 0)} == {
        k: v for k, v in before.items() if k != ("c0", 0)
    }

    # second compaction folds base + increment; results unchanged
    m2 = sink.compact(spark, {"day": F.to_date("ts")})
    assert m2["upto"] == 12
    assert sink.vacuum() >= 1  # old base + batch 12 dir
    assert snap() == got


def _admission_test_corpus(spark):
    """Letter-only vocab (alpha_ratio clears 0.8) with planted rejects
    for every admission stage: 20 base docs, 80%-prefix mutants
    (near-dups), exact copies, and junk docs failing the quality gate."""

    def w(i, j):
        return (
            "w"
            + chr(97 + i % 26)
            + chr(97 + i // 26)
            + "x"
            + chr(97 + j % 26)
            + chr(97 + j // 26)
        )

    rows = []
    texts = {}
    for i in range(20):
        texts[i] = " ".join(w(i, j) for j in range(30))
        rows.append((i, texts[i]))
    for i in range(0, 20, 2):  # near-dup mutants
        rows.append((1000 + i, " ".join(w(i, j) for j in range(24))))
    for i in range(0, 20, 5):  # exact copies
        rows.append((2000 + i, texts[i]))
    for i in range(5):  # junk: too short (< 20 tokens)
        rows.append((3000 + i, " ".join(w(i, j) for j in range(5))))
    for i in range(5):  # junk: digit-heavy (alpha_ratio < 0.8)
        rows.append((4000 + i, " ".join(f"1234567890{i}{j}" for j in range(25))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _batch_admission(df):
    from pyspark.sql import functions as F

    from arion_spark.functions import dedup
    from arion_spark.functions import text as txt

    feats = txt.quality_features(F.col("text"))
    quality = df.select(
        "doc_id", "text", feats["n_tokens"].alias("nt"),
        feats["alpha_ratio"].alias("ar"),
    ).where((F.col("nt") >= 20) & (F.col("ar") >= 0.8))
    first = quality.withColumn("m", F.md5(F.col("text").cast("binary")))
    exact = first.join(
        first.groupBy("m").agg(F.min("doc_id").alias("doc_id")).select("doc_id"),
        "doc_id",
    )
    prep = dedup.prepare_dedup_corpus(exact)
    pairs = dedup.lsh_candidate_pairs(None, prepared=prep)
    jp = dedup.jaccard_pairs(None, pairs, threshold=0.5, prepared=prep)
    kept = exact.join(
        jp.select(F.col("id_b").alias("doc_id")).distinct(), "doc_id", "left_anti"
    )
    return {r["doc_id"] for r in kept.collect()}


def test_corpus_admission_stream_matches_batch(spark, tmp_path):
    """Full streaming corpus-prep admission (quality gate → exact md5
    fast path → LSH/Jaccard keep-first) == the batch corpus_admission
    rule, across a restart; every stage's lineage counter fires."""
    from arion_spark.streaming.dedup import run_dedup_stream, write_doc_chunks

    corpus = _admission_test_corpus(spark)
    replay = str(tmp_path / "replay")
    chunks = write_doc_chunks(corpus, replay, n_chunks=4)
    staged = str(tmp_path / "staged")
    _stage_chunks(chunks, staged, 0, 2)
    kw = dict(quality_gate=True, exact_fast_path=True)
    q, g = run_dedup_stream(
        spark, staged, str(tmp_path / "out"), str(tmp_path / "ckpt"), **kw
    )
    q.processAllAvailable()
    q.stop()
    _stage_chunks(chunks, staged, 2, 4)
    q, g = run_dedup_stream(
        spark, staged, str(tmp_path / "out"), str(tmp_path / "ckpt"), **kw
    )
    q.processAllAvailable()
    q.stop()

    got = {r["doc_id"] for r in g.read_kept(spark).collect()}
    want = _batch_admission(corpus)
    assert got == want and 0 < len(got) < corpus.count()
    lin = g.lineage()
    assert sum(r["n_in"] for r in lin) == corpus.count()
    assert sum(r["n_kept"] for r in lin) == len(got)
    assert sum(r["n_quality_dropped"] for r in lin) == 10
    assert sum(r["n_exact_dropped"] for r in lin) == 4
    assert sum(r["n_neardup_dropped"] for r in lin) == 10
    # exact copies dropped by the fast path never enter the LSH index
    import glob

    from arion_spark.streaming.dedup import _DOCS_IDX, _WITH_BATCH

    idx = (
        spark.read.schema(_DOCS_IDX + _WITH_BATCH)
        .option("basePath", f"{tmp_path}/out/docs")
        .parquet(f"{tmp_path}/out/docs")
    )
    assert idx.where("doc_id >= 2000 and doc_id < 3000").count() == 0


def test_sink_cdc_and_time_travel(spark, tmp_path):
    """read_changes(since) feeds incremental consumers exactly the
    later upsert images; read_merged_as_of(b) reproduces any historical
    snapshot; both refuse gracefully once vacuum removed the dirs."""
    import pytest as _pytest

    sink = MergeSink(str(tmp_path / "tblcdc"))
    for b in range(6):
        rows = [
            _row("hot", 0, b, text=f"v{b}"),
            _row(f"k{b}", 1, b, text=f"only-{b}"),
        ]
        sink.process(spark.createDataFrame(rows, TRANSCRIPT_SCHEMA), b)

    # CDC from high-watermark 3: exactly batches 4 and 5, raw images
    ch = sink.read_changes(spark, since_batch=3)
    got = {(r.conv_id, r.turn_idx, r.batch) for r in ch.select("conv_id", "turn_idx", "batch").collect()}
    assert got == {("hot", 0, 4), ("k4", 1, 4), ("hot", 0, 5), ("k5", 1, 5)}

    # snapshot after batch 2: hot shows v2, k3..k5 absent
    snap = {
        (r.conv_id, r.turn_idx): r.text
        for r in sink.read_merged_as_of(spark, 2).collect()
    }
    assert snap[("hot", 0)] == "v2"
    assert ("k3", 1) not in snap and len(snap) == 4

    # after compaction+vacuum, pre-horizon reads refuse with guidance
    from pyspark.sql import functions as F

    sink.compact(spark, {"day": F.to_date("ts")})
    sink.vacuum()
    with _pytest.raises(ValueError, match="read_merged"):
        sink.read_changes(spark, since_batch=3)
    with _pytest.raises(ValueError, match="vacuumed"):
        sink.read_merged_as_of(spark, 2)


# ---------------------------------------------------------------------------
# streaming ANN serving (streaming/ann.py)


def _vec_rows(ids, dim=8):
    return [
        (i, [float(((i * 31 + j * 17) % 13) - 6) for j in range(dim)])
        for i in ids
    ]


def test_ann_serve_stream_matches_batch_lsh_topk(spark, tmp_path):
    """Queries streamed in 3 chunks against the static SRP index ==
    batch lsh_topk over the same corpus+queries, across a restart;
    the per-batch probe partition-prunes the index."""
    from arion_spark.functions.similarity import lsh_topk
    from arion_spark.streaming.ann import (
        VEC_SCHEMA,
        ann_serve_batch,
        build_srp_index,
        run_ann_stream,
    )

    dim, k, planes = 8, 3, 4
    corpus = spark.createDataFrame(_vec_rows(range(40), dim), VEC_SCHEMA)
    queries = spark.createDataFrame(_vec_rows(range(0, 12), dim), VEC_SCHEMA)
    index_dir = str(tmp_path / "index")
    build_srp_index(corpus, index_dir, dim, planes)

    # replay chunks of 4 queries each
    replay = str(tmp_path / "replay")
    os.makedirs(replay)
    chunk_paths = []
    for c in range(3):
        p = f"{replay}/chunk={c:04d}"
        spark.createDataFrame(
            _vec_rows(range(c * 4, c * 4 + 4), dim), VEC_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(p)
        chunk_paths.append(p)

    staged = str(tmp_path / "staged")
    _stage_chunks(chunk_paths, staged, 0, 2)
    args = (str(tmp_path / "out"), str(tmp_path / "ckpt"))
    q, sink = run_ann_stream(spark, staged, index_dir, *args, dim=dim, k=k,
                             n_planes=planes)
    q.processAllAvailable()
    q.stop()
    _stage_chunks(chunk_paths, staged, 2, 3)
    q, sink = run_ann_stream(spark, staged, index_dir, *args, dim=dim, k=k,
                             n_planes=planes)
    q.processAllAvailable()
    q.stop()

    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.score)
        for r in sink.read_merged(spark).collect()
    }
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.score)
        for r in lsh_topk(corpus, queries, dim=dim, k=k, n_planes=planes).collect()
    }
    assert got == want and len(got) > 0

    # the probe scan is partition-pruned to the batch's buckets
    one = spark.createDataFrame(_vec_rows([0], dim), VEC_SCHEMA)
    plan = (
        ann_serve_batch(spark, index_dir, one, dim, k, planes)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "bucket" in plan.split(
        "PartitionFilters"
    )[1][:150]


def test_dedup_guard_index_compaction(spark, tmp_path):
    """compact() folds the guard's per-batch index dirs into bases
    (buckets re-partitioned globally by bp); admission decisions,
    replay no-ops and kept sets are identical before/after compact and
    vacuum, and new batches probe the BASE index correctly."""
    from arion_spark.streaming.dedup import DedupGuard

    corpus = _doc_corpus(spark).where("doc_id < 1000")
    g = DedupGuard(str(tmp_path / "out"))
    g.process(corpus.where("doc_id < 10"), 0)
    g.process(corpus.where("doc_id >= 10"), 1)

    def kept():
        return {r["doc_id"] for r in g.read_kept(spark).collect()}

    before = kept()
    assert before == {r["doc_id"] for r in corpus.collect()}  # all unique
    m = g.compact(spark)
    assert m["upto"] == 1 and kept() == before
    assert g.vacuum() == 6  # 2 batches × 3 tables
    assert kept() == before

    # a new batch must reject a near-dup of a BASE-indexed doc (batch 0)
    dup_text = " ".join(f"w3x{j}" for j in range(30))
    nxt = spark.createDataFrame(
        [(9000, dup_text), (9001, "zq " * 40)], "doc_id long, text string"
    )
    g.process(nxt, 2)
    after = kept()
    assert 9001 in after and 9000 not in after
    assert after - before == {9001}

    # replay of a folded-and-vacuumed batch id: still a no-op
    g.process(nxt, 0)
    assert kept() == after and len(g.lineage()) == 3

    # second compaction folds base + increment
    m2 = g.compact(spark)
    assert m2["upto"] == 2 and g.vacuum() >= 4
    assert kept() == after


def test_ann_serve_multiprobe_matches_batch_and_raises_recall(spark, tmp_path):
    """Two-probe serving == batch lsh_multiprobe_topk; candidate sets
    strictly contain the single-probe ones (recall only goes up)."""
    from arion_spark.functions.similarity import lsh_multiprobe_topk, lsh_topk
    from arion_spark.streaming.ann import (
        VEC_SCHEMA,
        ann_serve_batch,
        build_srp_index,
    )

    dim, k, planes = 8, 3, 4
    corpus = spark.createDataFrame(_vec_rows(range(40), dim), VEC_SCHEMA)
    queries = spark.createDataFrame(_vec_rows(range(12), dim), VEC_SCHEMA)
    index_dir = str(tmp_path / "index")
    build_srp_index(corpus, index_dir, dim, planes)

    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.score)
        for r in ann_serve_batch(
            spark, index_dir, queries, dim, k, planes, n_probes=2
        ).collect()
    }
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.score)
        for r in lsh_multiprobe_topk(
            corpus, queries, dim=dim, k=k, n_planes=planes
        ).collect()
    }
    assert got == want and len(got) > 0

    # multi-probe answers dominate single-probe: per query, at least as
    # many neighbors, and every score at a given rank is >= single's
    single = lsh_topk(corpus, queries, dim=dim, k=k, n_planes=planes).collect()
    s_by_q = {}
    for r in single:
        s_by_q.setdefault(r.query_id, {})[r.rank] = r.score
    m_by_q = {}
    for (q, rank), (_, score) in got.items():
        m_by_q.setdefault(q, {})[rank] = score
    assert len(got) >= len(single)
    for q, ranks in s_by_q.items():
        for rank, score in ranks.items():
            assert m_by_q[q][rank] >= score


# ---------------------------------------------------------------------------
# crash-window fault injection: data written, marker NOT yet committed


def test_merge_sink_crash_before_marker_heals_on_replay(spark, tmp_path):
    """Simulate a crash in the window between the batch-dir write and
    the atomic marker rename: the data dir exists, the marker doesn't.
    Readers must not see the orphan; the replay must overwrite it and
    commit exactly once."""
    import pytest as _pytest

    sink = MergeSink(str(tmp_path / "tbl"))
    sink.process(
        spark.createDataFrame([_row("c1", 0, 0, text="ok")], TRANSCRIPT_SCHEMA), 0
    )
    # batch 1 "crashes": write data dir by hand, no marker
    orphan = spark.createDataFrame(
        [_row("c2", 0, 1, text="orphan")], TRANSCRIPT_SCHEMA
    )
    orphan.write.mode("overwrite").parquet(f"{tmp_path}/tbl/data/batch={1:012d}")
    assert not sink.is_committed(1)
    got = {r.conv_id for r in sink.read_merged(spark).collect()}
    assert got == {"c1"}  # orphan invisible
    # replay of batch 1 (same id, the content the retry would carry)
    sink.process(
        spark.createDataFrame([_row("c2", 0, 1, text="retry")], TRANSCRIPT_SCHEMA), 1
    )
    rows = {r.conv_id: r.text for r in sink.read_merged(spark).collect()}
    assert rows == {"c1": "ok", "c2": "retry"}  # orphan content replaced
    assert [c["batch_id"] for c in sink.committed_batches()] == [0, 1]


def test_dedup_guard_crash_before_marker_heals_on_replay(spark, tmp_path):
    """Same window for the admission guard: orphan index/kept dirs from
    an uncommitted batch must not poison history (an orphan doc may NOT
    drop later docs) and are overwritten by the replay."""
    from arion_spark.streaming.dedup import DedupGuard

    g = DedupGuard(str(tmp_path / "out"))
    c0 = _doc_corpus(spark).where("doc_id < 10")
    g.process(c0, 0)
    # batch 1 "crashes" after writing its dirs: fabricate by processing
    # then deleting the marker
    c1 = _doc_corpus(spark).where("doc_id >= 10 and doc_id < 1000")
    g.process(c1, 1)
    os.remove(g._commit_path(1))
    # history = batch 0 only: a near-dup of a batch-1 doc is ADMITTED
    # (uncommitted work must not influence admission)
    probe = spark.createDataFrame(
        [(8000, " ".join(f"w12x{j}" for j in range(30)))],
        "doc_id long, text string",
    )
    g.process(probe, 2)
    kept = {r["doc_id"] for r in g.read_kept(spark).collect()}
    assert 8000 in kept and kept.isdisjoint({r["doc_id"] for r in c1.collect()})
    # replay of batch 1 now lands — but 8000 was (correctly) admitted
    # first, so the replayed doc 12 is now the duplicate: exactly ONE
    # of each near-dup pair survives regardless of the crash ordering
    g.process(c1, 1)
    probe2 = spark.createDataFrame(
        [(8001, " ".join(f"w13x{j}" for j in range(30)))],
        "doc_id long, text string",
    )
    g.process(probe2, 3)
    kept = {r["doc_id"] for r in g.read_kept(spark).collect()}
    assert 8001 not in kept  # rejected against the replayed doc 13
    c1_ids = {r["doc_id"] for r in c1.collect()}
    assert 12 not in kept and 8000 in kept  # the pair resolved to one
    assert c1_ids - {12} <= kept


# ---------------------------------------------------------------------------
# one-pass multi-sink fan-out (streaming/fanout.py)


def test_fanout_one_pass_all_sinks_match_batch(spark, transcripts_df, tmp_path):
    """ONE stream read feeds chain MERGE + minute rollup + KMV + top-k,
    across a mid-stream restart: the chain table equals the dedicated
    single-sink pipeline; every summary equals batch recomputation over
    the chain's own merged output; all stores converge to identical
    committed-id sets (per-batch convergence after replay)."""
    from pyspark.sql import functions as F

    from arion_spark.functions import sketch
    from arion_spark.operators import rollup as op_rollup
    from arion_spark.streaming.fanout import run_fanout_stream

    replay = str(tmp_path / "replay")
    chunks = write_replay_chunks(transcripts_df, replay, n_chunks=4)
    staged = str(tmp_path / "staged")
    _stage_chunks(chunks, staged, 0, 2)
    args = (str(tmp_path / "fan"), str(tmp_path / "ckpt"))
    q, fan = run_fanout_stream(spark, SPEC, staged, *args)
    q.processAllAvailable()
    q.stop()
    _stage_chunks(chunks, staged, 2, 4)
    q, fan = run_fanout_stream(spark, SPEC, staged, *args)
    q.processAllAvailable()
    q.stop()

    assert fan.committed_consistent()

    # chain table == the dedicated single-sink pipeline
    replay_ref = str(tmp_path / "replay_ref")
    write_replay_chunks(transcripts_df, replay_ref, n_chunks=4)
    sink_ref = _run(spark, replay_ref, str(tmp_path), tag="fanref")
    key = lambda r: (r["conv_id"], r["turn_idx"])
    got_chain = {key(r): r["conv_fp"] for r in fan.read_chain(spark).collect()}
    want_chain = {
        key(r): r["conv_fp"] for r in sink_ref.read_merged(spark).collect()
    }
    assert got_chain == want_chain

    chain_df = fan.read_chain(spark)

    # minute/hour/day cascade == batch cascade over the merged table
    ckey = lambda r: (r["grain"], r["bucket_ts"])
    cval = lambda r: (r["n_turns"], r["n_user_turns"], r["sum_chars"], r["max_text_len"])
    got_c = {ckey(r): cval(r) for r in fan.read_cascade(spark).collect()}
    want_c = {ckey(r): cval(r) for r in op_rollup.cascade(chain_df).collect()}
    assert got_c == want_c and len(got_c) > 0

    # KMV == one-shot partial+estimate over the merged table
    got_k = {
        (r["hour"],): (r["n_kept"], r["est"])
        for r in fan.read_kmv(spark).collect()
    }
    want_k = {
        (r["hour"],): (r["n_kept"], r["est"])
        for r in sketch.kmv_estimate(
            sketch.kmv_partial(
                chain_df.select(
                    F.date_trunc("hour", "ts").alias("hour"), "conv_id"
                ),
                ["hour"],
                F.col("conv_id"),
                64,
            ),
            ["hour"],
            64,
        ).collect()
    }
    assert got_k == want_k and len(got_k) > 0

    # top-k tokens == exact batch top-k over the merged table
    toks = chain_df.select(
        F.date_trunc("hour", "ts").alias("hour"),
        F.explode(F.split("text", r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    got_t = {
        (r["hour"], r["rank"]): (r["term"], r["n"])
        for r in fan.read_topk(spark, k=5).collect()
    }
    want_t = {
        (r["hour"], r["rank"]): (r["term"], r["n"])
        for r in sketch.topk_terms(toks, ["hour"], F.col("tok"), k=5).collect()
    }
    assert got_t == want_t and len(got_t) > 0


def test_optional_quantifier_pattern_stream_matches_batch(spark, tmp_path):
    """A '?' (zero-or-one) pattern — user → tool? → assistant — agrees
    stream vs batch, for both the absorbed-optional and skipped-optional
    paths, under out-of-order arrival."""
    from arion_spark.operators import cep as op_cep
    from arion_spark.streaming.cep import pattern_stream

    pat = [("user", "1"), ("tool", "?"), ("assistant", "1")]
    rows = [
        _row("c1", 0, 0, "user"),
        _row("c1", 1, 1, "tool"),       # absorbed
        _row("c1", 2, 2, "assistant"),  # match (0..2)
        _row("c2", 0, 0, "user"),
        _row("c2", 1, 1, "assistant"),  # optional skipped -> match (0..1)
        _row("c3", 0, 0, "user"),
        _row("c3", 1, 1, "tool"),
        _row("c3", 2, 2, "tool"),       # second tool kills the partial
        _row("c3", 3, 3, "assistant"),
    ]
    replay = str(tmp_path / "replay_opt")
    # out-of-order: c1 turn 1 arrives after turn 2
    _write_chunk(spark, [rows[0], rows[2]] + rows[3:5], f"{replay}/ch1")
    _write_chunk(spark, [rows[1]] + rows[5:], f"{replay}/ch2")
    _write_chunk(spark, [_row("zz", 0, 6000, "system")], f"{replay}/ch9")

    q = (
        pattern_stream(read_replay_stream(spark, replay), pat, watermark="30 minutes")
        .writeStream.format("memory")
        .queryName("opt_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.conv_id, r.start_turn_idx): (r.end_turn_idx, r.n_turns)
        for r in spark.sql(
            "select * from opt_out where conv_id like 'c%'"
        ).collect()
    }
    batch = {
        (r.conv_id, r.start_turn_idx): (r.end_turn_idx, r.n_turns)
        for r in op_cep.match_pattern(
            spark.createDataFrame(rows, TRANSCRIPT_SCHEMA), pat
        ).collect()
    }
    assert got == batch == {("c1", 0): (2, 3), ("c2", 0): (1, 2)}


# ---------------------------------------------------------------------------
# streaming embedding near-dup admission (streaming/vecdedup.py)


def test_vec_dedup_stream_matches_batch(spark, tmp_path):
    """Streamed vector admission (banded-SRP probe + exact cosine vs
    all earlier vectors) == the batch anti-join twin
    (vec_dedup_keep_first's definition), across a restart."""
    from arion_spark.functions.similarity import cosine_near_dup_pairs
    from arion_spark.streaming.vecdedup import (
        VEC_SCHEMA,
        run_vec_dedup_stream,
        write_vec_chunks,
    )
    from pyspark.sql import functions as F

    dim, bands, planes, thr = 16, 8, 8, 0.9
    # 30 base vectors + tail-zeroed near-dup copies of every other one
    rows = []
    for i in range(30):
        v = [float(((i * 37 + j * 11) % 19) - 9) for j in range(dim)]
        rows.append((i, v))
        if i % 2 == 0:
            rows.append((1000 + i, v[: dim - 3] + [0.0, 0.0, 0.0]))
    corpus = spark.createDataFrame(rows, VEC_SCHEMA)

    replay = str(tmp_path / "replay")
    chunks = write_vec_chunks(corpus, replay, n_chunks=4)
    staged = str(tmp_path / "staged")
    _stage_chunks(chunks, staged, 0, 2)
    kw = dict(dim=dim, threshold=thr, n_bands=bands, n_planes=planes)
    q, g = run_vec_dedup_stream(
        spark, staged, str(tmp_path / "out"), str(tmp_path / "ckpt"), **kw
    )
    q.processAllAvailable()
    q.stop()
    _stage_chunks(chunks, staged, 2, 4)
    q, g = run_vec_dedup_stream(
        spark, staged, str(tmp_path / "out"), str(tmp_path / "ckpt"), **kw
    )
    q.processAllAvailable()
    q.stop()

    got = {r["vec_id"] for r in g.read_kept(spark).collect()}
    pairs = cosine_near_dup_pairs(
        corpus, dim=dim, threshold=thr, n_bands=bands, n_planes=planes
    )
    dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    want = {
        r["vec_id"]
        for r in corpus.join(dropped, "vec_id", "left_anti").collect()
    }
    assert got == want
    assert 0 < len(got) < corpus.count()  # real drops happened
    # the lattice generator correlates across i (period 19 plus window
    # overlaps), so exact membership is defined by the twin equality
    # above; structurally: the first arrival is always admitted and at
    # least one planted tail-zero copy was dropped
    assert 0 in got
    assert any(1000 + i not in got for i in range(0, 30, 2))
    lin = g.lineage()
    assert sum(r["n_in"] for r in lin) == corpus.count()
    assert sum(r["n_kept"] for r in lin) == len(got)


def test_dedup_guard_bootstrap_then_stream(spark, tmp_path):
    """The migration path: bootstrap the guard from the existing corpus
    (direct process), THEN attach a stream of new documents.  Spark's
    per-checkpoint batch ids restart at 0 — the persisted stream offset
    maps them past the bootstrap ids, so chunk 0 is not silently
    swallowed as 'already committed'.  Final kept set equals batch
    keep-first over bootstrap ∪ streamed, across a stream restart."""
    from arion_spark.streaming.dedup import (
        DedupGuard,
        run_dedup_stream,
        write_doc_chunks,
    )

    corpus = _doc_corpus(spark)
    boot = corpus.where("doc_id < 20")        # existing corpus
    inc = corpus.where("doc_id >= 20")        # arrives later as a stream

    out = str(tmp_path / "out")
    g = DedupGuard(out)
    g.process(boot, 0)                         # bootstrap ingest

    replay = str(tmp_path / "replay")
    chunks = write_doc_chunks(inc, replay, n_chunks=2)
    staged = str(tmp_path / "staged")
    _stage_chunks(chunks, staged, 0, 1)
    q, g = run_dedup_stream(spark, staged, out, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    _stage_chunks(chunks, staged, 1, 2)        # restart with more data
    q, g = run_dedup_stream(spark, staged, out, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    got = {r["doc_id"] for r in g.read_kept(spark).collect()}
    want = _batch_keep_first(corpus)
    assert got == want
    # bootstrap batch 0 + two stream batches mapped to ids 1 and 2
    assert [r["batch_id"] for r in g.lineage()] == [0, 1, 2]
    assert sum(r["n_in"] for r in g.lineage()) == corpus.count()


def test_sink_empty_batch_commits_cleanly(spark, tmp_path):
    """A zero-row micro-batch (stateful op buffered everything) must
    commit without schema-inference failures and stay invisible to the
    merged view."""
    sink = MergeSink(str(tmp_path / "tble"))
    sink.process(
        spark.createDataFrame([_row("c1", 0, 0)], TRANSCRIPT_SCHEMA), 0
    )
    empty = spark.createDataFrame([], TRANSCRIPT_SCHEMA)
    sink.process(empty, 1)          # empty batch after a non-empty one
    full = MergeSink(str(tmp_path / "tblf"))
    full.process(empty, 0)          # empty first batch (observed min/max of 0 rows)
    assert sink.is_committed(1) and full.is_committed(0)
    assert sink.read_merged(spark).count() == 1
    assert sink.lineage()[1]["rows"] == 0


def test_spike_stream_matches_batch_islands_across_restart(spark, tmp_path):
    """Continuous spike detection from the streaming minute rollup:
    island set == batch queries.spike_intervals across a mid-stream
    restart, including a cross-midnight stitched island; per-batch alert
    lineage is recorded."""
    from arion_spark.queries import spike_intervals
    from arion_spark.streaming.spikes import run_spike_stream

    rows = []
    t0 = datetime(2024, 1, 1, 22, 0)
    # baseline: 1 turn/minute for 3 hours (crosses midnight at minute 120)
    for i in range(180):
        rows.append(_row(f"c{i}", 0, i))
    # burst A: minutes 30..34, +10 turns each
    for m in range(30, 35):
        for j in range(10):
            rows.append((f"a{m}_{j}", 0, "user", "burst", None,
                         t0 + timedelta(minutes=m, seconds=5 * j)))
    # burst B straddling midnight: minutes 118..122 (23:58 → 00:02)
    for m in range(118, 123):
        for j in range(10):
            rows.append((f"b{m}_{j}", 0, "user", "burst", None,
                         t0 + timedelta(minutes=m, seconds=5 * j)))
    # shift the baseline rows onto the same t0 axis
    base = [(c, i, r, x, tl, t0 + (ts - T0)) for c, i, r, x, tl, ts in rows[:180]]
    df = spark.createDataFrame(
        base + rows[180:], TRANSCRIPT_SCHEMA
    ).orderBy("ts")

    replay = str(tmp_path / "replay")
    chunks = write_replay_chunks(df, replay, n_chunks=4)
    staged = str(tmp_path / "staged")
    _stage_chunks(chunks, staged, 0, 2)
    q, det = run_spike_stream(
        spark, staged, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    mid = {tuple(r) for r in det.read_spikes(spark).collect()}
    assert mid  # burst A is inside the first half

    _stage_chunks(chunks, staged, 2, 4)
    q, det = run_spike_stream(
        spark, staged, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()

    got = {tuple(r) for r in det.read_spikes(spark).collect()}
    want = {tuple(r) for r in spike_intervals(df).collect()}
    assert got == want and len(want) == 2
    # the midnight island really stitched across the day boundary
    midnight = [r for r in want if r[0].day != (r[1] - timedelta(minutes=1)).day]
    assert len(midnight) == 1
    # alert lineage: every committed batch carries counts; the batch set
    # changed at least when each burst appeared
    al = det.alerts()
    assert all("n_changed_spikes" in m and "n_spikes" in m for m in al)
    assert sum(m["n_changed_spikes"] for m in al) >= 2
    # replayed batch id: snapshot sink no-ops (exactly-once)
    n_before = len(det.alerts())
    det.process(spark.createDataFrame([], "bucket_ts timestamp, n_turns long, n_user_turns long, sum_chars long, max_text_len int"), al[-1]["batch_id"])
    assert len(det.alerts()) == n_before


def test_ann_serving_recall_telemetry(spark, tmp_path):
    """Every served batch's commit marker carries sampled recall@k vs
    brute force; two-probe recall >= single-probe on the same stream."""
    from arion_spark.streaming.ann import VEC_SCHEMA, build_srp_index, run_ann_stream

    dim, k, planes = 8, 3, 4
    corpus = spark.createDataFrame(_vec_rows(range(40), dim), VEC_SCHEMA)
    index_dir = str(tmp_path / "index")
    build_srp_index(corpus, index_dir, dim, planes)
    replay = str(tmp_path / "replay")
    os.makedirs(replay)
    for c in range(2):
        spark.createDataFrame(
            _vec_rows(range(c * 4, c * 4 + 4), dim), VEC_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(f"{replay}/chunk={c:04d}")

    def run(tag, probes):
        q, sink = run_ann_stream(
            spark, replay, index_dir,
            str(tmp_path / f"out{tag}"), str(tmp_path / f"ckpt{tag}"),
            dim=dim, k=k, n_planes=planes, n_probes=probes, recall_sample=4,
        )
        q.processAllAvailable()
        q.stop()
        return sink.lineage()

    lin1 = run("p1", 1)
    lin2 = run("p2", 2)
    for lin in (lin1, lin2):
        assert lin and all(
            0.0 <= m["recall_at_k"] <= 1.0 and m["recall_sample"] > 0
            for m in lin
        )
    r1 = sum(m["recall_at_k"] for m in lin1) / len(lin1)
    r2 = sum(m["recall_at_k"] for m in lin2) / len(lin2)
    assert r2 >= r1  # multi-probe can only add candidates


def test_ann_index_maintenance_repairs_drift(spark, tmp_path):
    """Streamed corpus vectors keep the serving index fresh: before
    maintenance the served answers equal lsh_topk over the OLD corpus
    (drift); after the new batch commits they equal lsh_topk over the
    full corpus, and recall vs the live corpus rises.  Replay no-ops,
    compact+vacuum preserve answers, layout mismatches refuse."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from arion_spark.functions.similarity import lsh_topk
    from arion_spark.streaming.ann import (
        VEC_SCHEMA,
        AnnIndexMaintainer,
        run_index_maintenance_stream,
    )

    dim, k, planes = 8, 3, 4
    old = spark.createDataFrame(_vec_rows(range(30), dim), VEC_SCHEMA)
    new = spark.createDataFrame(_vec_rows(range(30, 60), dim), VEC_SCHEMA)
    full = old.unionByName(new)
    queries = spark.createDataFrame(_vec_rows(range(45, 53), dim), VEC_SCHEMA)

    idx_dir = str(tmp_path / "idx")
    maint = AnnIndexMaintainer(idx_dir, dim, planes)
    maint.process(old, 0)  # bootstrap bulk build

    def served():
        return {
            (r.query_id, r.rank): (r.neighbor_id, r.score)
            for r in maint.serve(spark, queries, k=k).collect()
        }

    def want(corpus):
        return {
            (r.query_id, r.rank): (r.neighbor_id, r.score)
            for r in lsh_topk(corpus, queries, dim=dim, k=k, n_planes=planes)
            .collect()
        }

    before = served()
    assert before == want(old)  # serving the stale index == batch on OLD

    # attach the maintenance stream for the new vectors
    replay = str(tmp_path / "replay")
    os.makedirs(replay)
    new.coalesce(1).write.mode("overwrite").parquet(f"{replay}/chunk=0001")
    q, maint2 = run_index_maintenance_stream(
        spark, replay, idx_dir, str(tmp_path / "ckpt"), dim=dim,
        n_planes=planes,
    )
    q.processAllAvailable()
    q.stop()

    after = {
        (r.query_id, r.rank): (r.neighbor_id, r.score)
        for r in maint2.serve(spark, queries, k=k).collect()
    }
    assert after == want(full)  # drift repaired: == batch on FULL corpus
    assert after != before

    # recall vs the LIVE corpus rises (brute force over full corpus)
    def recall(answers):
        from arion_spark.streaming.ann import brute_force_topk

        # brute force over the live corpus == lsh with 0 pruning: use
        # exact cosine top-k via lsh_topk on a single bucket is not
        # available; compute with a cross join expression instead
        cb = full.selectExpr("vec_id as neighbor_id", "embedding as cv")
        qb = queries.selectExpr("vec_id as query_id", "embedding as qv")
        from pyspark.sql import Window as W
        from arion_spark.functions.similarity import cosine as _cos

        scored = (
            cb.crossJoin(F.broadcast(qb))
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id", "neighbor_id",
                F.round(_cos(F.col("qv"), F.col("cv")), 3).alias("s"),
            )
        )
        w = W.partitionBy("query_id").orderBy(F.desc("s"), F.asc("neighbor_id"))
        exact = {
            (r.query_id, r.neighbor_id)
            for r in scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k).collect()
        }
        got = {(qq, n) for (qq, _rk), (n, _s) in answers.items()}
        return len(got & exact) / len(exact)

    assert recall(after) >= recall(before)

    # replay no-op + maintenance invariants
    n_lineage = len(maint2.lineage())
    maint2.process(new, maint2.committed_ids()[-1])
    assert len(maint2.lineage()) == n_lineage
    maint2.compact(spark)
    assert maint2.vacuum() >= 1
    assert {
        (r.query_id, r.rank): (r.neighbor_id, r.score)
        for r in maint2.serve(spark, queries, k=k).collect()
    } == want(full)
    with _pytest.raises(ValueError, match="layout mismatch"):
        AnnIndexMaintainer(idx_dir, dim, n_planes=6)


def _batch_cc(spark, corpus):
    """The q_dup_clusters definition: LSH pairs → Jaccard ≥ 0.5 →
    min-label connected components."""
    from arion_spark.functions import dedup as dd

    prep = dd.prepare_dedup_corpus(corpus)
    pairs = dd.lsh_candidate_pairs(None, prepared=prep)
    jp = dd.jaccard_pairs(None, pairs, threshold=0.5, prepared=prep)
    return {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in dd.connected_components(
            corpus.select("doc_id"), jp.select("id_a", "id_b")
        ).collect()
    }


def test_cluster_maintainer_matches_batch_cc_across_restart(spark, tmp_path):
    """Incremental cluster maintenance (VERDICT r4 task 7): the
    streaming map equals batch dup_clusters at EVERY commit horizon —
    after the first half of the corpus, and over the full corpus across
    a mid-stream checkpoint restart — with merge events in lineage and
    replay no-ops."""
    from arion_spark.streaming.clusters import run_cluster_stream
    from arion_spark.streaming.dedup import write_doc_chunks

    corpus = _doc_corpus(spark)
    replay = str(tmp_path / "replay")
    chunks = write_doc_chunks(corpus, replay, n_chunks=4)
    staged = str(tmp_path / "staged")
    _stage_chunks(chunks, staged, 0, 2)
    q, m = run_cluster_stream(
        spark, staged, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()

    # mid-stream horizon: map == batch CC over exactly the docs seen
    seen = spark.read.parquet(staged).select("doc_id", "text")
    got_half = {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in m.read_clusters(spark).collect()
    }
    assert got_half == _batch_cc(spark, seen)

    # restart from checkpoint, remaining chunks arrive
    _stage_chunks(chunks, staged, 2, 4)
    q, m = run_cluster_stream(
        spark, staged, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in m.read_clusters(spark).collect()
    }
    want = _batch_cc(spark, corpus)
    assert got == want
    # the fixture guarantees non-trivial structure: multi-doc clusters
    # (mutants join their originals) and the transitive drift chain
    # 5000-5001-5002 in ONE cluster despite 5000 !~ 5002
    labels = {d: c for d, c, _ in got}
    assert labels[5001] == labels[5000] and labels[5002] == labels[5000]
    assert sum(1 for d, c, canon in got if not canon) >= 15  # mutants merged

    # merge events were logged in the commit lineage
    lin = m.lineage()
    assert sum(r["n_merge_events"] for r in lin) >= 1
    assert all("n_cluster_delta_rows" in r for r in lin)

    # replayed batch id: full no-op (map unchanged, no new lineage)
    first_chunk = spark.read.parquet(f"{staged}/{os.path.basename(chunks[0])}")
    m.process(first_chunk.select("doc_id", "text"), 0)
    assert len(m.lineage()) == len(lin)
    assert {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in m.read_clusters(spark).collect()
    } == want


def test_cluster_maintainer_crash_window_heals(spark, tmp_path):
    """Crash AFTER the nested cluster-map sink committed but BEFORE the
    outer marker landed: replay must heal the marker from the surviving
    merges dir without re-merging (the map stays exactly-once)."""
    from arion_spark.streaming.clusters import ClusterMaintainer

    corpus = _doc_corpus(spark)
    m = ClusterMaintainer(str(tmp_path / "out"))
    m.process(corpus.where("doc_id < 20"), 0)
    m.process(corpus.where("doc_id >= 20"), 1)
    want = {
        (r.doc_id, r.cluster_id) for r in m.read_clusters(spark).collect()
    }
    lin1 = next(r for r in m.lineage() if r["batch_id"] == 1)

    # simulate the crash window: outer marker gone, nested sink + dirs intact
    os.remove(m._commit_path(1))
    assert m.clusters.is_committed(1)
    m.process(corpus.where("doc_id >= 20"), 1)  # replay

    healed = next(r for r in m.lineage() if r["batch_id"] == 1)
    assert healed["n_merge_events"] == lin1["n_merge_events"]
    assert {
        (r.doc_id, r.cluster_id) for r in m.read_clusters(spark).collect()
    } == want


def test_pq_index_serving_matches_batch_ivf_pq(spark, tmp_path):
    """IVF×PQ serving index (streaming/pqann.py): served answers equal
    the batch composition (ivf_pq_topk) over exactly the committed
    corpus — stale before the maintenance stream runs, full after,
    across a checkpoint restart; quantizers are pinned on disk
    (mismatched re-open refuses, bare re-open loads them); compression
    lineage records measured index bytes vs raw bytes; compact+vacuum
    preserve answers."""
    import glob

    import pytest as _pytest

    from arion_spark.functions.similarity import (
        ivf_pq_topk,
        kmeans_centroids,
        pq_train,
    )
    from arion_spark.streaming.ann import VEC_SCHEMA
    from arion_spark.streaming.pqann import (
        PqIndexMaintainer,
        run_pq_index_stream,
    )

    dim = 8
    old = spark.createDataFrame(_vec_rows(range(30), dim), VEC_SCHEMA)
    new = spark.createDataFrame(_vec_rows(range(30, 60), dim), VEC_SCHEMA)
    full = old.unionByName(new)
    queries = spark.createDataFrame(_vec_rows(range(45, 53), dim), VEC_SCHEMA)

    # bootstrap training over the OLD corpus (production: train once,
    # pin, rebuild to retrain)
    cents_df = kmeans_centroids(old, k=3, iters=1)
    coarse = [
        r["cent"] for r in cents_df.orderBy("cell_id").collect()
    ]
    pq = pq_train(old, dim=dim, n_sub=4, k=8, iters=1)

    idx_dir = str(tmp_path / "pqidx")
    maint = PqIndexMaintainer(idx_dir, dim, coarse, pq)
    maint.process(old, 0)  # bootstrap bulk build

    def served(m, n_probes=2):
        return {
            (r.query_id, r.rank): (r.neighbor_id, r.score)
            for r in m.serve(spark, queries, k=3, n_probes=n_probes).collect()
        }

    def want(corpus, n_probes=2):
        return {
            (r.query_id, r.rank): (r.neighbor_id, r.score)
            for r in ivf_pq_topk(
                corpus, queries, cents_df, pq, k=3, n_probes=n_probes
            ).collect()
        }

    assert served(maint) == want(old)  # stale index == batch on OLD

    # maintenance stream commits the new vectors; restart mid-way
    replay = str(tmp_path / "replay")
    os.makedirs(replay)
    new.where("vec_id < 45").coalesce(1).write.parquet(f"{replay}/chunk=0001")
    q, m2 = run_pq_index_stream(
        spark, replay, idx_dir, str(tmp_path / "ckpt"), dim=dim
    )
    q.processAllAvailable()
    q.stop()
    new.where("vec_id >= 45").coalesce(1).write.parquet(f"{replay}/chunk=0002")
    q, m2 = run_pq_index_stream(  # checkpoint restart, quantizers from disk
        spark, replay, idx_dir, str(tmp_path / "ckpt"), dim=dim
    )
    q.processAllAvailable()
    q.stop()

    assert served(m2) == want(full)  # drift repaired == batch on FULL
    # single-probe serving matches single-probe batch too
    assert served(m2, n_probes=1) == want(full, n_probes=1)

    # compression lineage: the index bytes are the part files on disk
    # (at 15-30 vectors a batch the ~1 KB parquet footer per cell file
    # outweighs the codes, so no ratio is asserted), raw = 8 doubles
    lin = m2.lineage()
    for r in lin:
        on_disk = sum(
            os.path.getsize(f)
            for f in glob.glob(
                f"{idx_dir}/index/batch={r['batch_id']:012d}/**/*.parquet",
                recursive=True,
            )
        )
        assert r["bytes_written"] == on_disk > 0
        assert r["raw_bytes"] == r["n_vectors"] * dim * 8
    assert sum(r["n_vectors"] for r in lin) == 60

    # compact + vacuum preserve answers; replayed id no-ops
    before = served(m2)
    m2.compact(spark)
    assert m2.vacuum() >= 1
    assert served(m2) == before
    m2.process(old, 0)
    assert served(m2) == before and len(m2.lineage()) == len(lin)

    # quantizer pinning: mismatched codebooks refuse, bare re-open loads
    with _pytest.raises(ValueError, match="quantizer mismatch"):
        PqIndexMaintainer(idx_dir, dim, coarse, pq_train(full, dim=dim, n_sub=4, k=8, iters=1))
    again = PqIndexMaintainer(idx_dir, dim)
    assert again.pq_cents == pq and again.coarse_cents == [list(c) for c in coarse]
