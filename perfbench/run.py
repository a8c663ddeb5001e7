"""Same-host benchmark of arion_spark: one workload at one seed.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload chain_backlog --seed 1 --seconds 20 --trace 0

It lands the workload's seeded inputs under ``.perfbench_work/``, sets
up Spark at ``local[<cores>]`` (timed as ``setup_s``), runs timed
passes for at least ``--seconds``, checks every pass's outputs against
the batch twin, prints every metric by name with its unit, and ends
with one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics, measured with no
instrumentation installed.  ``--trace 1`` adds one traced pass, with
spans recorded around the calls into each layer and a Spark job group
on every sink call, and reports the per-layer metrics and the tracing
overhead; on ``chain_backlog`` also a single-core baseline.  Spans and a
result document are written to ``.perfbench_work/results/``.  See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Spark runs at local[<cores this process may use>]
CPUS = len(os.sched_getaffinity(0))


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=("chain_backlog", "dedup_admit"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="least length of the timed region")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: the self-test's inputs")
    p.add_argument("--drop-output-row", action="store_true",
                   help="self-test: drop one output row before the checks")
    return p.parse_args(argv)


def _isolate(run_dir: str) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside the run dir."""
    local, tmp = f"{run_dir}/spark_local", f"{run_dir}/tmp"
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    # every JVM, the spark-submit launcher too: no /tmp perf data, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {"spark.local.dir": local}


def _shutdown() -> None:
    """Stop any Spark session, then the py4j gateway JVM, and wait until
    the JVM has exited."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _emit(name: str, value: float, unit: str) -> None:
    print(f"metric {name} = {value:.6g} {unit}", flush=True)


class Observer:
    """What the workloads record into: the tracer, and (traced pass
    only) the sink-call wrapper."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.calls = None


def _timed_passes(wl, spark, obs, seconds: float) -> list[dict]:
    """The workload's ``min_passes``, then as many more as fit in
    ``seconds``: another pass starts while the one before, repeated,
    would still end within ``seconds`` plus a tenth."""
    done, t0 = [], time.perf_counter()
    while True:
        t = time.perf_counter()
        done.append(wl.run_pass(spark, obs))
        now = time.perf_counter()
        if len(done) >= wl.min_passes and now + (now - t) - t0 > 1.1 * seconds:
            return done


def _end_to_end(passes: list[dict], setup_s: float) -> dict[str, tuple[float, str]]:
    return {
        "setup_s": (setup_s, "s"),
        "items_per_s": (statistics.median(p["items_per_s"] for p in passes), "1/s"),
    }


def _batch_p50_ms(passes: list[dict]) -> float:
    """Median ``triggerExecution`` over the primary query's micro-batches
    that read input."""
    return statistics.median(
        b["durationMs"]["triggerExecution"] for p in passes for b in p["progress"] if b.get("numInputRows", 0) > 0
    )


def _pin_to_one_core() -> None:
    """Pin this process, the driver JVM and every Python worker — each of
    their threads — to one CPU.  Threads and processes started later
    inherit the mask (what ``taskset`` does for a new process tree)."""
    from perfbench.harness import descendants

    cpu = {min(os.sched_getaffinity(0))}
    for pid in [os.getpid()] + descendants():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpu)
            except OSError:
                pass


def _traced_pass(wl, spark, obs):
    """One pass with spans and sink-call wrappers installed.  Its trigger
    phases become spans under the pass, and each sink call a child of
    its trigger's ``addBatch``.  Returns the pass and its RSS sampler."""
    from arion_spark.streaming.dedup import DedupGuard
    from arion_spark.streaming.sink import MergeSink

    from perfbench import harness

    tracer = obs.tracer
    tracer.enabled = True
    obs.calls = harness.SinkCalls(spark, tracer)
    obs.calls.install(MergeSink)
    obs.calls.install(DedupGuard)
    try:
        with harness.RssSampler() as rss, tracer.span("pass"):
            p = wl.run_pass(spark, obs)
    finally:
        obs.calls.uninstall()
    pass_span = next(s["span_id"] for s in tracer.spans if s["name"] == "pass")
    for name, table_dir, progress in wl.streams(p):
        harness.trigger_spans(tracer, progress, name, pass_span)
        for cls in ("MergeSink", "DedupGuard"):
            harness.nest_sink_spans(tracer, name, cls, table_dir)
    return p, rss


def _per_layer(wl, spark, obs, traced: dict, around: list[dict], setup: tuple[float, float],
               rss) -> tuple[dict, dict]:
    """Per-layer figures of the traced pass.  The first dict holds the
    metrics every workload reports; the second the figures of layers
    only this workload runs."""
    from perfbench import harness

    med = statistics.median
    table_dir, progress = wl.sink(traced).table_dir, traced["progress"]
    calls = obs.calls.for_table(table_dir)
    jobs = [obs.calls.jobs(c) for c in calls]
    print(f"sink jobs per batch (each call of the traced pass): {jobs}", flush=True)
    phases = harness.phase_medians(progress)
    state = harness.state_totals(progress)
    extras = wl.layer_extras(spark, obs, traced)
    bytes_written = harness.dir_bytes(table_dir)
    compact_s, vacuum_s = wl.maintain(spark, obs, traced)
    layer = {
        "session.get_spark_s": (setup[0], "s"),
        "session.warmup_s": (setup[1], "s"),
        "source.latest_offset_ms": (phases["latestOffset"], "ms"),
        "source.get_batch_ms": (phases["getBatch"], "ms"),
        "microbatch.planning_ms": (phases["queryPlanning"], "ms"),
        "microbatch.add_batch_ms": (phases["addBatch"], "ms"),
        "microbatch.wal_commit_ms": (phases["walCommit"], "ms"),
        "microbatch.commit_offsets_ms": (phases["commitOffsets"], "ms"),
        "microbatch.trigger_ms": (phases["triggerExecution"], "ms"),
        "sink.process_ms": (med(1000 * (c["end"] - c["start"]) for c in calls), "ms"),
        "sink.jobs_per_batch": (med(jobs), "count"),
        "sink.batch_growth": ((calls[-1]["end"] - calls[-1]["start"]) / (calls[0]["end"] - calls[0]["start"]), "ratio"),
        "sink.bytes_written": (bytes_written, "bytes"),
        "sink.read_s": (traced["sink_read_s"], "s"),
        "sink.compact_s": (compact_s, "s"),
        "sink.vacuum_s": (vacuum_s, "s"),
        "stateful.state_rows": (state["numRowsTotal"], "count"),
        "stateful.state_bytes": (state["memoryUsedBytes"], "bytes"),
        "rollup.jobs_per_batch": (0, "count"),
        "rollup.state_rows": (0, "count"),
        "dedup.probe_partitions": (0, "count"),
        "dedup.index_bytes": (0, "bytes"),
        "queries.twin_s": (extras.pop("queries.twin_s")[0], "s"),
        "trace.overhead_pct": (100.0 * (traced["drain_s"] / med(p["drain_s"] for p in around) - 1.0), "%"),
        "rss.peak_mb": (rss.peak_mb, "MB"),
        "rss.jvm_mb": (rss.peak_jvm_mb, "MB"),
        "rss.python_mb": (rss.peak_python_mb, "MB"),
    }
    # figures of layers the other workload does not run go beside the
    # result line; only their counts are in it (as 0 where not run)
    specific = {
        # fixed by the inputs and the drop rules, which the output checks
        # already hold to; printed as diagnostics
        "source.rows_per_batch": (med(b["numInputRows"] for b in progress if b.get("numInputRows", 0) > 0), "count"),
        "sink.kept_ratio": (wl.kept_ratio(spark, traced), "ratio"),
        "stateful.dropped_by_watermark": (state["numRowsDroppedByWatermark"], "count"),
    }
    for k, v in extras.items():
        (layer if k in layer else specific)[k] = v
    if any(b.get("stateOperators") for b in progress):
        specific["stateful.updates_ms"] = (state["allUpdatesTimeMs"], "ms")
        specific["stateful.removals_ms"] = (state["allRemovalsTimeMs"], "ms")
        specific["stateful.commit_ms"] = (state["commitTimeMs"], "ms")
    return layer, specific


def run(args, run_dir: str, results_dir: str) -> int:
    from arion_spark import get_spark

    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    conf = _isolate(run_dir)
    wl = WORKLOADS[args.workload](f"{run_dir}/data", args.seed, args.size)
    t0 = time.perf_counter()
    shares = wl.make_inputs()
    print(f"inputs: {wl.items} {wl.unit}, landed in {time.perf_counter() - t0:.2f} s (not in setup_s), "
          f"sha256 {wl.input_digest()}; measured shares: "
          f"{json.dumps({k: round(v, 5) for k, v in shares.items()})}", flush=True)

    tracer = harness.Tracer(enabled=bool(args.trace))
    obs = Observer(tracer)
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", cpus=CPUS, extra_conf=conf)
    t1 = time.perf_counter()
    with tracer.span("session.warmup"):
        wl.warmup(spark, obs)
    setup = (t1 - t0, time.perf_counter() - t1)
    print(f"set-up: get_spark {setup[0]:.2f} s, warm-up {setup[1]:.2f} s", flush=True)
    host = harness.host_fingerprint(ROOT, spark)
    print(f"host: {json.dumps(host)}", flush=True)

    tracer.enabled = False
    with harness.RssSampler() as rss:
        untraced = _timed_passes(wl, spark, obs, args.seconds)
    e2e = _end_to_end(untraced, sum(setup))
    n_batches = sum(1 for p in untraced for b in p["progress"] if b.get("numInputRows", 0) > 0)
    print(f"untraced: {len(untraced)} passes, {n_batches} micro-batches with input; per pass "
          f"(drain s, read s): {[(round(p['drain_s'], 2), round(p['read_s'], 2)) for p in untraced]}; "
          f"primary triggers (ms): {[[b['durationMs']['triggerExecution'] for b in p['progress']] for p in untraced]}",
          flush=True)

    if args.trace:
        traced, trss = _traced_pass(wl, spark, obs)
        # passes still speed up as the JIT warms, so the overhead compares
        # the traced pass with the untraced passes just before and after it
        tracer.enabled = False
        around = [untraced[-1], wl.run_pass(spark, obs)]
        tracer.enabled = True
        layer, specific = _per_layer(wl, spark, obs, traced, around, setup, trss)
        specific["trace.delta.items_per_s"] = (traced["items_per_s"] - e2e["items_per_s"][0], "1/s")
        specific["trace.delta.batch_p50_ms"] = (_batch_p50_ms([traced]) - _batch_p50_ms(untraced), "ms")

    t0 = time.perf_counter()
    attempted, failed = wl.check(spark, args.drop_output_row)
    print(f"checks: {len(wl.passes)} passes against the batch twin in {time.perf_counter() - t0:.2f} s", flush=True)
    named = wl.named_metrics()
    named["batch_p50_ms"] = (_batch_p50_ms(untraced), "ms")
    named["peak_rss_mb"] = (rss.peak_mb, "MB")

    if args.trace and hasattr(wl, "chain_throughput"):
        # single-core baseline: a new local[1] context in the warm JVM,
        # with the whole process tree pinned to one CPU
        spark.stop()
        _pin_to_one_core()
        spark = get_spark("perfbench-1core", cpus=1, extra_conf=conf)
        tp1 = wl.chain_throughput(spark, obs)
        tpn = statistics.median(wl.items / p["chain_s"] for p in untraced)
        specific["chain.turns_per_s_1core"] = (tp1, "1/s")
        specific[f"chain.scaling_eff_1to{CPUS}"] = (tpn / (CPUS * tp1), "ratio")
    _shutdown()

    for name, (v, unit) in list(named.items()) + list(e2e.items()):
        _emit(name, v, unit)
    _emit("ops_attempted", attempted, "count")
    _emit("ops_failed_ratio", failed / attempted if attempted else 1.0, "ratio")
    result_metrics = e2e
    doc = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "host": host,
           "shares": shares, "setup": setup, "end_to_end": e2e, "named": named,
           "attempted": attempted, "failed": failed}
    if args.trace:
        for name, (v, unit) in list(layer.items()) + list(specific.items()):
            _emit(name, v, unit)
        self_times = tracer.self_times()
        print("layer self time (s): " + json.dumps({k: round(v, 4) for k, v in sorted(self_times.items())}), flush=True)
        result_metrics = layer
        doc.update(per_layer=layer, specific=specific, self_times=self_times)
    os.makedirs(results_dir, exist_ok=True)
    stem = f"{results_dir}/{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(f"{stem}.json", "w") as f:
        json.dump(doc, f, indent=1)
    if args.trace:
        tracer.write(f"{stem}-spans.jsonl")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result_metrics.items()},
    }), flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "arion_spark")):
        print(f"perfbench: no arion_spark package under {ROOT}; run from the root of a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return run(args, run_dir, os.path.join(work, "results"))
    finally:
        _shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
