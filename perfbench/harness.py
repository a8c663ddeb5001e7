"""Measurement plumbing: spans, sink wrappers with Spark job groups,
progress splits, resident-memory sampling and the host fingerprint.

Everything is installed from outside the program: sink methods are
wrapped at run time on the class, never edited.
"""

from __future__ import annotations

import contextlib
import json
import os
import platform
import statistics
import subprocess
import threading
import time
import uuid

#: order of the ``durationMs`` phases inside one trigger
TRIGGER_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class Tracer:
    """In-memory spans: name, start, end, parent and trace id (one trace
    per workload run), plus free attributes such as the batch id.
    Written out once, when the run ends."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, start: float, end: float, parent: str | None = None, **attrs) -> str:
        """Record a finished span; ``parent`` defaults to the innermost
        open span on this thread."""
        span_id = uuid.uuid4().hex[:16]
        if self.enabled:
            stack = self._stack()
            span = {
                "trace_id": self.trace_id, "span_id": span_id, "name": name,
                "start": start, "end": end,
                "parent": parent if parent is not None else (stack[-1] if stack else None),
                **attrs,
            }
            with self._lock:
                self.spans.append(span)
        return span_id

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time the block; nested spans made on this thread are its children."""
        if not self.enabled:
            yield
            return
        stack = self._stack()
        span_id = uuid.uuid4().hex[:16]
        parent = stack[-1] if stack else None
        stack.append(span_id)
        start = time.time()
        try:
            yield
        finally:
            stack.pop()
            with self._lock:
                self.spans.append({
                    "trace_id": self.trace_id, "span_id": span_id, "name": name,
                    "start": start, "end": time.time(), "parent": parent, **attrs,
                })

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part of each span's interval
        that its children cover."""
        children: dict[str, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"]:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["span_id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


class SinkCalls:
    """Wraps ``process`` of sink classes for the length of a run: each
    call gets its own Spark job group, so the jobs it started can be
    counted exactly, and its wall time and commit time are recorded."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.calls: list[dict] = []
        self._patched: list[tuple[type, object]] = []

    def install(self, cls: type) -> None:
        orig = cls.process
        calls, tracer = self.calls, self.tracer

        def process(sink, batch_df, batch_id, *args, **kwargs):
            sc = batch_df.sparkSession.sparkContext
            group = f"perfbench-{uuid.uuid4().hex[:12]}"
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, f"{cls.__name__} batch {batch_id}")
            t0 = time.time()
            try:
                return orig(sink, batch_df, batch_id, *args, **kwargs)
            finally:
                t1 = time.time()
                sc.setLocalProperty("spark.jobGroup.id", prev)
                calls.append({
                    "table_dir": sink.table_dir, "batch_id": batch_id,
                    "start": t0, "end": t1, "group": group,
                })
                tracer.add(f"{cls.__name__}.process", t0, t1, parent=None, batch_id=batch_id,
                           table_dir=sink.table_dir)

        cls.process = process
        self._patched.append((cls, orig))

    def uninstall(self) -> None:
        for cls, orig in reversed(self._patched):
            cls.process = orig
        self._patched.clear()

    def for_table(self, table_dir: str) -> list[dict]:
        return [c for c in self.calls if c["table_dir"] == table_dir]

    def jobs(self, call: dict) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(call["group"]))


def progress_batches(query) -> list[dict]:
    """Progress reports of a stopped query, as dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def trigger_spans(tracer: Tracer, batches: list[dict], query_name: str, parent: str) -> None:
    """One span per trigger with its ``durationMs`` phases laid out in
    execution order as children."""
    from datetime import datetime

    for b in batches:
        dur = b.get("durationMs") or {}
        start = datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00")).timestamp()
        total = dur.get("triggerExecution", 0) / 1000.0
        trig = tracer.add(f"{query_name}.trigger", start, start + total, parent=parent,
                          batch_id=b["batchId"])
        t = start
        for phase in TRIGGER_PHASES:
            if phase in dur:
                d = dur[phase] / 1000.0
                tracer.add(f"{query_name}.{phase}", t, t + d, parent=trig, batch_id=b["batchId"])
                t += d


def nest_sink_spans(tracer: Tracer, query_name: str, sink_name: str, table_dir: str) -> None:
    """Make each call of the query's sink a child of its trigger's
    ``addBatch`` span — the one with the same batch id that starts
    nearest to it — and name it after the query."""
    adds: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s["name"] == f"{query_name}.addBatch":
            adds.setdefault(s["batch_id"], []).append(s)
    for s in tracer.spans:
        if s["name"] == f"{sink_name}.process" and s.get("table_dir") == table_dir and s["batch_id"] in adds:
            s["parent"] = min(adds[s["batch_id"]], key=lambda a: abs(a["start"] - s["start"]))["span_id"]
            s["name"] = f"{query_name}.{sink_name}.process"


def phase_medians(batches: list[dict]) -> dict[str, float]:
    """Median ms per ``durationMs`` phase over batches that read input."""
    rows = [b for b in batches if b.get("numInputRows", 0) > 0]
    out = {}
    for phase in TRIGGER_PHASES + ("triggerExecution",):
        vals = [(b.get("durationMs") or {}).get(phase, 0) for b in rows]
        out[phase] = statistics.median(vals) if vals else 0.0
    return out


def state_totals(batches: list[dict]) -> dict[str, float]:
    """Stateful-operator figures over the run: times summed, sizes at
    their peak."""
    keys = ("allUpdatesTimeMs", "allRemovalsTimeMs", "commitTimeMs", "numRowsDroppedByWatermark")
    out = {k: 0.0 for k in keys}
    out["numRowsTotal"] = 0
    out["memoryUsedBytes"] = 0
    for b in batches:
        for op in b.get("stateOperators", []):
            for k in keys:
                out[k] += op.get(k, 0)
        out["numRowsTotal"] = max(out["numRowsTotal"], sum(op.get("numRowsTotal", 0) for op in b.get("stateOperators", [])))
        out["memoryUsedBytes"] = max(out["memoryUsedBytes"], sum(op.get("memoryUsedBytes", 0) for op in b.get("stateOperators", [])))
    return out


def descendants() -> list[int]:
    """Pids of every process below this one (the driver JVM, the Python
    worker daemon and its workers)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class RssSampler:
    """Samples the summed resident memory of every descendant process
    (the driver JVM, the Python worker daemon and its workers) from
    ``/proc`` and keeps the peak, split into JVM and Python."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_jvm_mb = 0.0
        self.peak_python_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        jvm = py = 0.0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/status") as f:
                    status = f.read()
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            rss = next((int(l.split()[1]) for l in status.splitlines() if l.startswith("VmRSS:")), 0) / 1024
            if comm == "java":
                jvm += rss
            else:
                py += rss
        self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)
        self.peak_python_mb = max(self.peak_python_mb, py)
        self.peak_mb = max(self.peak_mb, jvm + py)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def host_fingerprint(root: str, spark) -> dict:
    cpu = next(
        (l.split(":", 1)[1].strip() for l in open("/proc/cpuinfo") if l.startswith("model name")),
        platform.processor(),
    )
    mem_kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
    try:
        commit = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except OSError:
        commit = None
    jvm = spark.sparkContext._jvm.java.lang.System
    return {
        "cores": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "cpu_model": cpu,
        "pyspark": spark.version,
        "java": jvm.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": commit,
    }
