"""Commit-marker lineage comes from the writes themselves.

Every commit-logged sink runs one write step per batch
(CommitLog.process): output rows and bytes are read from the written
part files, and counts of rows dropped before a write are observed on
the written plan.  These tests pin that the figures are true (equal to
a direct count of the same stage) and that they cost no extra Spark
jobs (jobs per ``process`` call, counted with a statusTracker job
group).
"""

from __future__ import annotations

import uuid
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from arion_spark.functions import text as text_fns
from arion_spark.streaming.dedup import DedupGuard
from arion_spark.streaming.sink import MergeSink
from arion_spark.transcripts import TRANSCRIPT_SCHEMA


def _word(i: int, j: int) -> str:
    # letters only, so real documents clear the alpha_ratio gate
    return (
        "w" + chr(97 + i % 26) + chr(97 + i // 26)
        + "x" + chr(97 + j % 26) + chr(97 + j // 26)
    )


def _doc(i: int, n: int = 30) -> str:
    return " ".join(_word(i, j) for j in range(n))


def _batches(spark):
    """Three admission batches with planted rejects for every stage:
    quality junk (short, digit-heavy), exact copies within the batch and
    of history docs, and 80%-prefix near-duplicates of earlier docs."""
    junk = lambda b: [  # noqa: E731
        (9000 + 10 * b, _doc(b, 5)),
        (9001 + 10 * b, " ".join(f"123456789{b}{j}" for j in range(25))),
    ]
    b0 = [(i, _doc(i)) for i in range(20)] + junk(0)
    b1 = (
        [(i, _doc(i)) for i in range(20, 40)]
        + [(1000 + i, _doc(i, 24)) for i in range(0, 20, 2)]  # near-dups of history
        + [(2000, _doc(0)), (2005, _doc(5))]  # exact copies of history
        + [(2020, _doc(20))]  # exact copy within the batch
        + junk(1)
    )
    b2 = (
        [(i, _doc(i)) for i in range(40, 50)]
        + [(1000 + i, _doc(i, 24)) for i in range(20, 40, 2)]
        + [(2025, _doc(25)), (2040, _doc(40))]
        + junk(2)
    )
    return [spark.createDataFrame(b, "doc_id long, text string") for b in (b0, b1, b2)]


def _jobs(spark, fn) -> int:
    """Spark jobs started by ``fn``, counted through a job group."""
    sc = spark.sparkContext
    group = f"sink-jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "jobs per process call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_guard_marker_counts_equal_direct_counts(spark, tmp_path):
    """With the gate and the fast path on, every n_* field equals a
    direct count() of its stage, batch by batch."""
    g = DedupGuard(str(tmp_path / "g"), quality_gate=True, exact_fast_path=True)
    feats = text_fns.quality_features(F.col("text"))
    for bid, batch in enumerate(_batches(spark)):
        hist_ids = g.committed_ids()
        g.process(batch, bid)
        m = g.lineage()[-1]

        def stage(sub):
            return spark.read.parquet(g._batch_dir(sub, bid))

        n_in = batch.count()
        n_quality = batch.where(
            (feats["n_tokens"] >= 20) & (feats["alpha_ratio"] >= 0.8)
        ).count()
        n_exact = stage("docs").count()
        n_kept = stage("kept").count()
        assert m["n_in"] == n_in
        assert m["n_quality_dropped"] == n_in - n_quality == 2
        assert m["n_exact_dropped"] == n_quality - n_exact
        assert m["n_neardup_dropped"] == n_exact - n_kept
        assert m["n_kept"] == n_kept
        assert m["n_dropped"] == n_in - n_kept
        assert m["tables"]["buckets"]["rows"] == stage("buckets").count()

        bps = sorted(r["bp"] for r in stage("buckets").select("bp").distinct().collect())
        if not hist_ids:
            assert m["n_probe_rows"] is None and m["n_probe_partitions"] == 0
            continue
        probe = g._read_committed(
            spark, "buckets", hist_ids, partition_filter={"bp": bps}
        ).where(F.col("bp").isin(bps))
        assert m["n_probe_rows"] == probe.count() > 0
        assert m["n_probe_partitions"] == len(bps)
    # every stage dropped something over the run
    lin = g.lineage()
    for k in ("n_quality_dropped", "n_exact_dropped", "n_neardup_dropped"):
        assert sum(r[k] for r in lin) > 0, k


def test_merge_sink_marker_equals_direct_counts(spark, tmp_path):
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (f"c{i % 3}", i, t0 + timedelta(seconds=7 * i, microseconds=250 * i),
         "user", f"turn {i}", None)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    sink = MergeSink(str(tmp_path / "m"))
    sink.process(df, 0)
    m = sink.lineage()[0]
    want = df.agg(
        F.count("*").alias("rows"),
        F.min("ts").cast("string").alias("min_ts"),
        F.max("ts").cast("string").alias("max_ts"),
    ).head()
    assert (m["rows"], m["min_ts"], m["max_ts"]) == tuple(want)
    assert m["bytes_written"] == m["tables"]["data"]["bytes"] > 0
    assert m["n_partitions"] == m["tables"]["data"]["files"]


def test_process_job_counts(spark, tmp_path):
    """Jobs per ``process`` call.  When the sinks re-read or counted
    what they had just written, the same batches took 4 (MergeSink), 18
    (guard probe batch at the defaults) and 30 (guard probe batch with
    the gate and the fast path) jobs."""
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (f"c{i % 3}", i, t0 + timedelta(seconds=i), "user", f"turn {i}", None)
        for i in range(40)
    ]
    sink = MergeSink(str(tmp_path / "m"))
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    merge_jobs = _jobs(spark, lambda: sink.process(df, 0))

    guard_jobs = []
    for kw in ({}, {"quality_gate": True, "exact_fast_path": True}):
        g = DedupGuard(str(tmp_path / f"g{len(guard_jobs)}"), **kw)
        b0, b1, b2 = _batches(spark)
        g.process(b0, 0)
        g.process(b1, 1)
        guard_jobs.append(_jobs(spark, lambda: g.process(b2, 2)))
    assert (merge_jobs, *guard_jobs) == (1, 12, 16)


def test_pq_read_index_empty_cell_list_reads_nothing(spark, tmp_path):
    """``cells=[]`` is a filter that matches no cell, on the compacted
    base and on the incremental tail alike; ``cells=None`` reads all."""
    from arion_spark.streaming.ann import VEC_SCHEMA
    from arion_spark.streaming.pqann import PqIndexMaintainer

    coarse = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    pq = [[[1.0, 0.0], [0.0, 1.0]], [[1.0, 0.0], [0.0, 1.0]]]
    vecs = [(i, [1.0, 0.1, 0.1, 0.1] if i % 2 else [0.1, 1.0, 0.1, 0.1]) for i in range(6)]
    m = PqIndexMaintainer(str(tmp_path / "pq"), 4, coarse, pq)
    m.process(spark.createDataFrame(vecs[:4], VEC_SCHEMA), 0)
    m.compact(spark)
    m.process(spark.createDataFrame(vecs[4:], VEC_SCHEMA), 1)
    assert m.read_index(spark).count() == 6
    assert m.read_index(spark, [1]).count() == 3
    assert m.read_index(spark, []).count() == 0
