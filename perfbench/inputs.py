"""Seeded benchmark inputs, written straight to parquet from one process.

Nothing here touches Spark: the program under test receives only the
files.  The same seed gives byte-identical rows.

Transcripts keep the shape of ``arion_spark.transcripts.generate_transcripts``
(1/25 of turns on two hot conversations, 0-30 s in-watermark ``ts``
jitter, 1/997 of turns stamped a day late), with the seed salting the
row hash.  Turns arrive in creation order, so a late turn lands after
the watermark has passed its ``ts`` and is dropped by the engine.  The
first two micro-batches carry no late turn (see :func:`write_backlog`),
which makes "late" and "dropped" the same set.

The document corpus plants near-duplicate mutants of earlier documents
at a stated share; ``doc_id`` order is arrival order.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = datetime(2024, 1, 1)
WORDS = (
    "query plan shuffle merge window state stream batch join filter "
    "agg scan sort hash skew salt watermark checkpoint sink source turn"
).split()
#: a wider vocabulary for documents, so unrelated documents share few shingles
DOC_WORDS = WORDS + (
    "vector column line part table key group order data row value spark "
    "fast slow big small index probe cell band bucket"
).split()

HOT_MOD = 25
HOT_CONVS = 2
LATE_MOD = 997
LATE_S = 86_400
TURNS_PER_CONV = 20
SENTINEL_CONV = "conv-sentinel"

TRANSCRIPT_ARROW = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)
DOC_ARROW = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def _mix(x: np.ndarray, seed: int) -> np.ndarray:
    """splitmix64 of ``x`` salted by ``seed`` (uint64 arithmetic wraps)."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _write_files(table: pa.Table, out_dir: str, n_files: int, stamp0: float) -> None:
    """Split ``table`` in row order into ``n_files`` parquet files whose
    modification times increase one second apart, so the file source
    lists them in this order."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (stamp0 + i, stamp0 + i))


def transcripts(n_turns: int, seed: int, late_free: int) -> dict[str, np.ndarray | list]:
    """Columns of ``n_turns`` seeded turns in arrival order plus the
    ``late`` flags.  The first ``late_free`` turns are never late."""
    ids = np.arange(n_turns, dtype=np.int64)
    h = _mix(ids, seed)
    hot = (h % np.uint64(HOT_MOD)) == 0
    conv = np.where(
        hot,
        np.char.add("conv-hot-", (ids % HOT_CONVS).astype(str)),
        np.char.add("conv-", np.char.zfill((ids // TURNS_PER_CONV).astype(str), 8)),
    )
    # dense per-conversation turn index in arrival order
    order = np.argsort(conv, kind="stable")
    sc = conv[order]
    starts = np.r_[0, np.flatnonzero(sc[1:] != sc[:-1]) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, n_turns]))
    turn_idx = np.empty(n_turns, dtype=np.int32)
    turn_idx[order] = np.arange(n_turns) - run_start

    word_ix = (h[:, None] >> (np.arange(8, dtype=np.uint64) * np.uint64(5))) % np.uint64(len(WORDS))
    words = np.array(WORDS)[word_ix.astype(np.int64)]
    text = [" ".join(w) for w in words]
    for i in range(n_turns):
        if i % 31 == 0:
            text[i] += ", model released (mr)"
        if i % 37 == 0:
            text[i] += " property released (pr)"
    roles = np.array(["user", "assistant", "tool", "system"])[ids % 4]
    tools = np.array(["search", "calc", "code"])[ids % 3]
    tool = np.where(roles == "tool", tools, None)

    h2 = _mix(ids, seed + 1)
    jitter = (h2 % np.uint64(30)).astype(np.int64)
    late = ((h2 >> np.uint64(8)) % np.uint64(LATE_MOD) == 0) & (ids >= late_free)
    secs = ids - jitter - np.where(late, LATE_S, 0)
    ts = np.datetime64(BASE_TS, "us") + secs.astype("timedelta64[s]")
    return {
        "conv_id": conv, "turn_idx": turn_idx, "role": roles, "text": text,
        "tool": tool, "ts": ts, "late": late, "hot": hot, "jitter": jitter,
    }


def write_backlog(out_dir: str, n_turns: int, seed: int, n_files: int, files_per_batch: int,
                  stamp0: float, on_time_path: str | None = None) -> dict:
    """Land a transcript backlog as ``n_files`` files.  The last file
    ends with a sentinel turn whose far-future ``ts`` moves the
    watermark past every open session, so the engine flushes all
    buffered turns before the drain ends.

    No late turn lands in the first two micro-batches: the watermark
    that filters late rows in a streaming aggregation lags one batch
    behind the one a stateful fold sees, so only from the third batch
    on do both drop exactly the late turns.  Returns the rows (for the
    output checks) and their measured shares.  ``on_time_path``, if
    given, receives the turns that are not late: the batch twin's input."""
    late_free = n_turns * 2 * files_per_batch // n_files
    cols = transcripts(n_turns, seed, late_free)
    sentinel_ts = np.datetime64(BASE_TS + timedelta(seconds=n_turns + 10 * LATE_S), "us")
    rows = {
        "conv_id": list(cols["conv_id"]) + [SENTINEL_CONV],
        "turn_idx": list(cols["turn_idx"]) + [0],
        "role": list(cols["role"]) + ["system"],
        "text": cols["text"] + ["end of backlog"],
        "tool": list(cols["tool"]) + [None],
        "ts": np.r_[cols["ts"], sentinel_ts],
        "late": np.r_[cols["late"], False],
    }
    table = pa.table({k: rows[k] for k in TRANSCRIPT_ARROW.names}, schema=TRANSCRIPT_ARROW)
    _write_files(table, out_dir, n_files, stamp0)
    if on_time_path:
        pq.write_table(table.filter(pa.array(~rows["late"])), on_time_path)
    shares = {
        "late": float(cols["late"].mean()),
        "hot_key": float(cols["hot"].mean()),
        "jittered": float((cols["jitter"] > 0).mean()),
    }
    return {"first_conv": rows["conv_id"][0], "shares": shares}


def doc_corpus(n_docs: int, seed: int, near_dup_share: float) -> dict:
    """``n_docs`` documents in arrival order.  ``near_dup_share`` of them
    are near-duplicate mutants: the first 80 % (at least one) of the
    tokens of a fresh document, as ``queries._near_dup_corpus_spark``
    mutates the scale-factor documents; each fresh document has at most one
    mutant, which arrives after it.  The rest are fresh random text.
    Exact copies are not planted; their share is measured."""
    rng = np.random.default_rng(seed)
    n_mut = int(round(n_docs * near_dup_share))
    n_fresh = n_docs - n_mut
    fresh = [
        " ".join(DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), int(rng.integers(30, 90))))
        for _ in range(n_fresh)
    ]
    mutated = rng.choice(n_fresh, size=n_mut, replace=False)
    # arrival times: a fresh document and its mutant are the earlier and
    # the later of two uniform draws
    t_src = rng.random(n_fresh)
    t_mut = rng.random(n_mut)
    t_src[mutated], t_mut = np.minimum(t_src[mutated], t_mut), np.maximum(t_src[mutated], t_mut)
    texts = fresh + [
        " ".join(toks[: max(1, int(len(toks) * 0.8))]) for toks in (fresh[j].split() for j in mutated)
    ]
    order = np.argsort(np.r_[t_src, t_mut], kind="stable")
    texts = [texts[i] for i in order]
    near = order >= n_fresh
    seen: set[str] = set()
    exact = np.zeros(n_docs, dtype=bool)
    for i, t in enumerate(texts):
        exact[i] = t in seen
        seen.add(t)
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "shares": {"near_dup": float(near.mean()), "exact_dup": float(exact.mean())},
    }


def write_corpus(out_dir: str, n_docs: int, seed: int, n_files: int, stamp0: float,
                 near_dup_share: float) -> dict:
    docs = doc_corpus(n_docs, seed, near_dup_share)
    table = pa.table({"doc_id": docs["doc_id"], "text": docs["text"]}, schema=DOC_ARROW)
    _write_files(table, out_dir, n_files, stamp0)
    return docs
