"""Probe-cost growth curve for the streaming dedup guard (VERDICT r3
task 1 / missing #4): does per-batch admission cost stay bounded as the
committed corpus doubles?

Method: bootstrap a DedupGuard with distinct-vocab documents (no dups,
so the index grows linearly) in doubling steps; after each doubling,
compact+vacuum (steady-state maintenance), then admit a FIXED-SIZE
probe batch and record wall-clock plus the probe-scan lineage the guard
now emits (n_probe_rows / n_probe_partitions).  The claim under test:
probe rows grow ∝ corpus × touched_bp/16^bp_len (prefix-proportional),
NOT ∝ corpus — and a small batch touches few of the 256 bp cells.

Usage: python tools/bench_probe_growth.py [base_docs] [doublings] [probe_docs] [bp_len]
Prints one JSON line per corpus size, then a summary line.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, ".")
from arion_spark import get_spark  # noqa: E402
from arion_spark.streaming.dedup import DedupGuard  # noqa: E402


def synth_docs(spark, start: int, n: int):
    """n distinct-vocab docs (30 tokens each), ids start..start+n."""
    return spark.range(start, start + n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"t{j}w"), F.col("id").cast("string"))
                for j in range(30)
            ],
        ).alias("text"),
    )


def main(
    base_docs: int = 12_500,
    doublings: int = 3,
    probe_docs: int = 64,
    bp_len: int = 3,
):
    spark = get_spark("bench_probe_growth", cpus=8)
    work = tempfile.mkdtemp(prefix="probe_growth_")
    guard = DedupGuard(f"{work}/guard", bp_len=bp_len)
    bid = 0
    corpus = 0
    points = []
    next_probe_id = 90_000_000

    def ingest(n):
        nonlocal bid, corpus
        guard.process(synth_docs(spark, corpus, n), bid)
        bid += 1
        corpus += n

    try:
        for step in range(doublings + 1):
            ingest(base_docs if step == 0 else corpus)  # double each step
            guard.compact(spark)
            guard.vacuum()
            probe = synth_docs(spark, next_probe_id, probe_docs)
            t = time.time()
            guard.process(probe, bid)
            dt = time.time() - t
            m = guard.lineage()[-1]
            bid += 1
            total_idx = guard._read_committed(
                spark, "buckets", guard.committed_ids()
            ).count()
            pt = {
                "bp_len": bp_len,
                "corpus_docs": corpus,
                "probe_docs": probe_docs,
                "probe_batch_sec": round(dt, 2),
                "n_probe_rows": m["n_probe_rows"],
                "n_probe_partitions": m["n_probe_partitions"],
                "index_rows_total": total_idx,
                "probe_scan_fraction": round(m["n_probe_rows"] / total_idx, 4),
            }
            points.append(pt)
            print(json.dumps(pt), flush=True)
            corpus += probe_docs  # probes are admitted too
        first, last = points[0], points[-1]
        print(json.dumps({
            "summary": "probe growth",
            "corpus_growth_x": round(last["corpus_docs"] / first["corpus_docs"], 1),
            "probe_rows_growth_x": round(
                last["n_probe_rows"] / max(first["n_probe_rows"], 1), 2
            ),
            "probe_time_growth_x": round(
                last["probe_batch_sec"] / first["probe_batch_sec"], 2
            ),
            "points": points,
        }), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    a = [int(x) for x in sys.argv[1:]]
    main(*a)
