"""The workloads: each lands its seeded inputs, warms up, runs timed
passes through the program's public entry points, and checks every
pass's outputs against the batch twin.

A pass drains one pre-landed backlog into fresh sink and checkpoint
directories, so every pass does the same work.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import checks, harness, inputs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the production operation chain the program ships
CHAIN_SPEC_PATH = os.path.join(ROOT, "examples", "chain.json")

#: input sizes: files per micro-batch is the one input-shape argument
#: passed to the entry points (``max_files_per_trigger``).  ``warm_*``
#: size the set-up's own small inputs.
SIZES = {
    "chain_backlog": {
        "full": {"turns": 24_000, "files": 3, "files_per_batch": 1, "warm_turns": 400, "warm_files": 2},
        "tiny": {"turns": 1_500, "files": 3, "files_per_batch": 1, "warm_turns": 200, "warm_files": 2},
    },
    "dedup_admit": {
        "full": {"docs": 300, "files": 2, "files_per_batch": 1, "warm_docs": 60, "warm_files": 2},
        "tiny": {"docs": 120, "files": 2, "files_per_batch": 1, "warm_docs": 40, "warm_files": 2},
    },
}
#: half the corpus are 80 %-prefix mutants of earlier documents: the
#: near-duplicate corpus of ``queries._near_dup_corpus_spark`` (one mutant
#: per scale-factor document)
NEAR_DUP_SHARE = 0.5


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def chain_spec() -> str:
    with open(CHAIN_SPEC_PATH) as f:
        return f.read()


class Workload:
    name = ""
    unit = ""
    #: timed passes run even when fewer fit in ``--seconds``
    min_passes = 1

    def __init__(self, work: str, seed: int, size: str) -> None:
        self.work = work
        self.seed = seed
        self.size = SIZES[self.name][size]
        self.passes: list[dict] = []

    def input_digest(self) -> str:
        """sha256 over the landed input files, in name order."""
        import hashlib

        h = hashlib.sha256()
        for name in sorted(os.listdir(self.input_dir)):
            with open(os.path.join(self.input_dir, name), "rb") as f:
                h.update(f.read())
        return h.hexdigest()[:16]

    def _dirs(self, tag: str) -> str:
        d = os.path.join(self.work, tag)
        os.makedirs(d, exist_ok=True)
        return d

    def warmup(self, spark, obs) -> None:
        """One untimed pass over the small warm-up inputs, one file per
        micro-batch: the cold start (codegen, Python workers, state
        store) of every plan a pass runs stays out of the timed passes."""
        self._drain(spark, self.warm_dir, self._dirs("warm"), 1, obs)

    def run_pass(self, spark, obs) -> dict:
        p = self._drain(spark, self.input_dir, self._dirs(f"pass{len(self.passes)}"),
                        self.size["files_per_batch"], obs)
        p["items_per_s"] = self.items / p["drain_s"]
        self.passes.append(p)
        return p

    def maintain(self, spark, obs, p: dict) -> tuple[float, float]:
        """Seconds of ``compact`` and of ``vacuum`` on the pass's sink."""
        sink = self.sink(p)
        t0 = time.perf_counter()
        with obs.tracer.span("sink.compact"):
            sink.compact(spark)
        t1 = time.perf_counter()
        with obs.tracer.span("sink.vacuum"):
            sink.vacuum()
        return t1 - t0, time.perf_counter() - t1


class ChainBacklog(Workload):
    """Closed loop: the chain and the rollup each drain the same backlog,
    then the merged views are read."""

    name = "chain_backlog"
    unit = "turns"

    def make_inputs(self) -> dict:
        s = self.size
        stamp0 = time.time() - 10_000
        self.input_dir = self._dirs("backlog")
        self.on_time = os.path.join(self.work, "on_time.parquet")
        landed = inputs.write_backlog(self.input_dir, s["turns"], self.seed, s["files"], s["files_per_batch"],
                                      stamp0, self.on_time)
        self.warm_dir = self._dirs("warm_input")
        inputs.write_backlog(self.warm_dir, s["warm_turns"], self.seed, s["warm_files"], 1, stamp0)
        self.first_conv = landed["first_conv"]
        self.items = s["turns"]
        return landed["shares"]

    def _chain(self, spark, src: str, d: str, mft: int, obs):
        from arion_spark.streaming.pipeline import run_stream_pipeline

        with obs.tracer.span("chain.query_start"):
            q, sink = run_stream_pipeline(spark, chain_spec(), src, f"{d}/out", f"{d}/ckpt", max_files_per_trigger=mft)
        q.processAllAvailable()
        q.stop()
        return q, sink

    def _drain(self, spark, src: str, d: str, mft: int, obs) -> dict:
        from arion_spark.streaming.rollup import run_rollup_stream

        tr = obs.tracer
        t0 = time.perf_counter()
        q, sink = self._chain(spark, src, d, mft, obs)
        t1 = time.perf_counter()
        with tr.span("rollup.query_start"):
            rq, roll = run_rollup_stream(spark, src, f"{d}/roll", f"{d}/roll_ckpt", max_files_per_trigger=mft)
        rq.processAllAvailable()
        rq.stop()
        t2 = time.perf_counter()
        with tr.span("sink.read_merged"):
            _noop(sink.read_merged(spark))
        t3 = time.perf_counter()
        with tr.span("rollup.read_cascade"):
            _noop(roll.read_cascade(spark))
        t4 = time.perf_counter()
        return {
            "dir": d, "sink": sink, "roll": roll,
            "chain_s": t1 - t0, "rollup_s": t2 - t1,
            "drain_s": t2 - t0, "read_s": t4 - t2, "sink_read_s": t3 - t2, "read_cascade_s": t4 - t3,
            "progress": harness.progress_batches(q),
            "roll_progress": harness.progress_batches(rq),
        }

    def chain_throughput(self, spark, obs) -> float:
        """Turns per second of one chain drain of the backlog (no rollup,
        no reads), after a chain drain of the warm-up inputs: the
        single-core baseline."""
        self._chain(spark, self.warm_dir, self._dirs("chain_only_warm"), 1, obs)
        t0 = time.perf_counter()
        self._chain(spark, self.input_dir, self._dirs("chain_only"), self.size["files_per_batch"], obs)
        return self.items / (time.perf_counter() - t0)

    def check(self, spark, drop_row: bool) -> tuple[int, int]:
        from arion_spark.transcripts import TRANSCRIPT_SCHEMA

        on_time = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(self.on_time).cache()
        chain_want = checks.chain_twin(on_time).cache()
        roll_want = checks.rollup_twin(on_time).cache()
        attempted = failed = 0
        for p in self.passes:
            got = p["sink"].read_merged(spark)
            if drop_row:
                got = got.where(~((got.conv_id == self.first_conv) & (got.turn_idx == 0)))
            a, f = checks.compare(got, chain_want, checks.CHAIN_KEYS, checks.CHAIN_VALUES)
            a2, f2 = checks.compare(p["roll"].read_cascade(spark), roll_want, checks.ROLLUP_KEYS, checks.ROLLUP_VALUES)
            attempted += a + a2
            failed += f + f2
        for df in (on_time, chain_want, roll_want):
            df.unpersist()
        return attempted, failed

    def named_metrics(self) -> dict[str, tuple[float, str]]:
        med = statistics.median
        return {
            "chain_turns_per_s": (med(self.items / p["chain_s"] for p in self.passes), "1/s"),
            "rollup_turns_per_s": (med(self.items / p["rollup_s"] for p in self.passes), "1/s"),
            "merged_read_s": (med(p["read_s"] for p in self.passes), "s"),
        }

    @staticmethod
    def sink(p: dict):
        return p["sink"]

    @staticmethod
    def streams(p: dict) -> list[tuple[str, str, list[dict]]]:
        """(name, sink table dir, progress) of each streaming query of a pass."""
        return [("chain", p["sink"].table_dir, p["progress"]),
                ("rollup", p["roll"].sink.table_dir, p["roll_progress"])]

    def layer_extras(self, spark, obs, p: dict) -> dict[str, tuple[float, str]]:
        """Traced-run figures specific to this workload."""
        from arion_spark.operators import fingerprint as op_fp
        from arion_spark.plans.spec import parse_spec
        from arion_spark.streaming.pipeline import apply_stateless_chain
        from arion_spark.transcripts import TRANSCRIPT_SCHEMA

        static = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(self.input_dir)
        tr = obs.tracer
        t0 = time.perf_counter()
        with tr.span("chain.stateless_static"):
            _noop(apply_stateless_chain(static, parse_spec(chain_spec())))
        t1 = time.perf_counter()
        with tr.span("fingerprint.batch_twin"):
            _noop(op_fp.rolling(op_fp.per_turn(static)))
        t2 = time.perf_counter()
        with tr.span("rollup.batch_twin"):
            _noop(checks.rollup_twin(static))
        t3 = time.perf_counter()
        roll_calls = obs.calls.for_table(p["roll"].sink.table_dir)
        roll_state = harness.state_totals(p["roll_progress"])
        return {
            "queries.twin_s": (t3 - t1, "s"),
            "chain.stateless_s": (t1 - t0, "s"),
            "fingerprint.batch_twin_s": (t2 - t1, "s"),
            "rollup.process_ms": (statistics.median(1000 * (c["end"] - c["start"]) for c in roll_calls), "ms"),
            "rollup.jobs_per_batch": (statistics.median(obs.calls.jobs(c) for c in roll_calls), "count"),
            "rollup.state_rows": (roll_state["numRowsTotal"], "count"),
            "rollup.read_cascade_s": (p["read_cascade_s"], "s"),
        }

    def kept_ratio(self, spark, p: dict) -> float:
        return p["sink"].read_merged(spark).count() / (self.items + 1)


class DedupAdmit(Workload):
    """Closed loop: a seeded corpus with planted near and exact
    duplicates drains through the dedup guard at its defaults."""

    name = "dedup_admit"
    unit = "docs"
    # a pass is short enough that the median of three fits the time budget
    min_passes = 3
    threshold = 0.5  # run_dedup_stream's default

    def make_inputs(self) -> dict:
        s = self.size
        stamp0 = time.time() - 10_000
        self.input_dir = self._dirs("corpus")
        docs = inputs.write_corpus(self.input_dir, s["docs"], self.seed, s["files"], stamp0, NEAR_DUP_SHARE)
        # two warm-up batches: the second is the first to probe the history index
        self.warm_dir = self._dirs("warm_input")
        inputs.write_corpus(self.warm_dir, s["warm_docs"], self.seed, s["warm_files"], stamp0, NEAR_DUP_SHARE)
        self.items = s["docs"]
        return docs["shares"]

    def _drain(self, spark, src: str, d: str, mft: int, obs) -> dict:
        from arion_spark.streaming.dedup import run_dedup_stream

        t0 = time.perf_counter()
        with obs.tracer.span("dedup.query_start"):
            q, guard = run_dedup_stream(spark, src, f"{d}/out", f"{d}/ckpt", max_files_per_trigger=mft)
        q.processAllAvailable()
        q.stop()
        t1 = time.perf_counter()
        with obs.tracer.span("dedup.read_kept"):
            _noop(guard.read_kept(spark))
        t2 = time.perf_counter()
        return {
            "dir": d, "guard": guard, "drain_s": t1 - t0, "read_s": t2 - t1, "sink_read_s": t2 - t1,
            "progress": harness.progress_batches(q),
        }

    def check(self, spark, drop_row: bool) -> tuple[int, int]:
        from arion_spark.streaming.dedup import DOC_SCHEMA

        corpus = spark.read.schema(DOC_SCHEMA).parquet(self.input_dir).cache()
        want = checks.dedup_twin(corpus, self.threshold).cache()
        attempted = failed = 0
        for p in self.passes:
            kept = p["guard"].read_kept(spark)
            if drop_row:
                kept = kept.where(kept.doc_id != 0)
            a, f = checks.compare(checks.dedup_decisions(corpus, kept), want, ["doc_id"], ["kept"])
            attempted += a
            failed += f
        corpus.unpersist()
        want.unpersist()
        return attempted, failed

    def named_metrics(self) -> dict[str, tuple[float, str]]:
        return {
            "dedup_docs_per_s": (statistics.median(p["items_per_s"] for p in self.passes), "1/s"),
        }

    @staticmethod
    def sink(p: dict):
        return p["guard"]

    @staticmethod
    def streams(p: dict) -> list[tuple[str, str, list[dict]]]:
        return [("dedup", p["guard"].table_dir, p["progress"])]

    def layer_extras(self, spark, obs, p: dict) -> dict[str, tuple[float, str]]:
        from arion_spark.streaming.dedup import DOC_SCHEMA

        corpus = spark.read.schema(DOC_SCHEMA).parquet(self.input_dir)
        t0 = time.perf_counter()
        with obs.tracer.span("dedup.batch_twin"):
            _noop(checks.dedup_twin(corpus, self.threshold))
        t1 = time.perf_counter()
        lineage = p["guard"].lineage()
        probed = [m["n_probe_partitions"] for m in lineage if m.get("n_probe_partitions")]
        out = p["dir"] + "/out"
        return {
            "queries.twin_s": (t1 - t0, "s"),
            "dedup.probe_partitions": (statistics.median(probed) if probed else 0, "count"),
            "dedup.index_bytes": (harness.dir_bytes(f"{out}/buckets") + harness.dir_bytes(f"{out}/docs"), "bytes"),
        }

    def kept_ratio(self, spark, p: dict) -> float:
        return sum(m["n_kept"] for m in p["guard"].lineage()) / self.items


WORKLOADS = {w.name: w for w in (ChainBacklog, DedupAdmit)}
