"""Shared commit-log discipline for batch-versioned foreachBatch sinks.

Every sink in this engine (MergeSink, SketchSink, the text and vector
admission guards) follows the same exactly-once recipe:

* per-batch data dirs written FIRST (overwrite → idempotent under task
  retry and crash replay),
* a marker ``_commits/<id>.json`` written AFTER the data via atomic
  rename — the commit point readers trust,
* committed batch ids are no-ops on replay,
* optional compaction: fold committed batch dirs into per-table bases
  behind a ``_compactions/<id>.json`` marker (readers switch at the
  rename; a crash mid-compaction leaves the incremental view intact),
  then vacuum folded dirs while KEEPING commit markers so replay
  no-ops survive.

This module is that recipe, once.  :meth:`CommitLog.process` is the
one foreachBatch body: skip a committed id, run the sink's
:meth:`~CommitLog._write_batch` step, write one marker.  Sinks supply
only the write plan and their own marker fields; the shared fields
(``batch_id``, per-table ``tables`` rows/bytes/files, ``bytes_written``,
``write_ms``) come from the committed part files, not from extra Spark
actions.  Row counts of stages that never reach disk (rows dropped
before the write) come from ``pyspark.sql.Observation`` metrics on the
written plan — see :func:`observed_count`.  Sinks call
:meth:`_fold_tables` / :meth:`_vacuum_tables` for maintenance.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def parquet_stats(path: str) -> dict:
    """Rows (parquet footers), bytes and file count of the part files
    under ``path`` — exact under task retries, since only committed
    files remain, and free: no Spark job."""
    rows = nbytes = files = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                f = os.path.join(root, name)
                rows += pq.read_metadata(f).num_rows
                nbytes += os.path.getsize(f)
                files += 1
    return {"rows": rows, "bytes": nbytes, "files": files}


def observe_count(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row-count observation attached; read it with
    :func:`observed_count` after the write that runs ``df``."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def observed_count(obs: Observation, df: DataFrame) -> int:
    """Rows ``obs`` counted on ``df`` during the batch's writes.

    When a sibling stage comes back empty, adaptive execution replaces
    the join or union above it with an empty relation, and an observed
    subtree under it drops out of the final plan: Spark then completes
    the observation with an empty row.  Only in that case is ``df``
    counted directly."""
    if obs._jo.getRow().length() == 0:
        return df.count()
    return obs.get["n"]


class CommitLog:
    """Mixin: marker paths, committed-id queries, lineage, and the
    compaction fold/vacuum helpers.  Requires ``self.table_dir``."""

    table_dir: str

    def _init_commit_log(self, table_dir: str) -> None:
        self.table_dir = table_dir
        os.makedirs(f"{table_dir}/_commits", exist_ok=True)

    # -- batch commits ------------------------------------------------------

    def _commit_path(self, batch_id: int) -> str:
        return f"{self.table_dir}/_commits/{batch_id:012d}.json"

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._commit_path(batch_id))

    def committed_ids(self) -> list[int]:
        cdir = f"{self.table_dir}/_commits"
        return sorted(
            int(n[:-5]) for n in os.listdir(cdir) if n.endswith(".json")
        )

    def lineage(self) -> list[dict]:
        out = []
        for bid in self.committed_ids():
            with open(self._commit_path(bid)) as f:
                out.append(json.load(f))
        return out

    # -- the shared write path ----------------------------------------------

    def process(
        self, batch_df: DataFrame, batch_id: int, extra: dict | None = None
    ) -> None:
        """foreachBatch body.  Idempotent: committed batch ids are no-ops.
        Otherwise the sink's write step runs, then ONE marker — shared
        fields, the step's own fields, then ``extra`` (caller telemetry,
        e.g. serving recall) — is written as the atomic commit point."""
        if self.is_committed(batch_id):
            return
        self._tables: dict[str, dict] = {}
        t0 = time.perf_counter()
        fields = self._write_batch(batch_df, batch_id)
        marker = {
            "batch_id": batch_id,
            **fields,
            "tables": self._tables,
            "bytes_written": sum(t["bytes"] for t in self._tables.values()),
            "write_ms": round(1000 * (time.perf_counter() - t0), 1),
        }
        marker.update(extra or {})
        self._write_marker(batch_id, marker)

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> dict:
        """The sink's write step: write every data dir of the batch via
        :meth:`_write_table` and return the sink's own marker fields."""
        raise NotImplementedError

    def _batch_dir(self, sub: str, batch_id: int) -> str:
        return f"{self.table_dir}/{sub}/batch={batch_id:012d}"

    def _write_table(
        self,
        df: DataFrame,
        sub: str,
        batch_id: int,
        partition_by: list[str] | None = None,
    ) -> dict:
        """Overwrite one table's batch dir (idempotent under task retry
        and crash replay) and record its rows/bytes/files for the
        marker; returns them."""
        path = self._batch_dir(sub, batch_id)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        self._tables[sub] = parquet_stats(path)
        return self._tables[sub]

    def _write_marker(self, batch_id: int, marker: dict) -> None:
        """The atomic commit point: marker lands only after all data."""
        tmp = self._commit_path(batch_id) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(marker, f)
        os.replace(tmp, self._commit_path(batch_id))

    # -- bootstrap → streaming handoff --------------------------------------

    def stream_offset(self, checkpoint_dir: str | None = None) -> int:
        """Stable batch-id offset for a streaming query attached AFTER
        batches were committed out-of-band (a bootstrap ingest of the
        existing corpus, the standard migration path).

        Spark numbers ``foreachBatch`` ids from 0 per checkpoint:
        without an offset, a fresh stream's batch 0 collides with
        bootstrap batch 0 and is silently skipped as already committed
        — data loss.  The offset is fixed at the FIRST stream start
        (max committed id + 1, or 0 on an empty log) and persisted next
        to the log, so checkpoint restarts map replayed Spark ids to
        the same table ids — recomputing it per start would shift ids
        and break replay no-ops.

        ``checkpoint_dir`` binds the offset to one Spark checkpoint via
        a shared epoch id (``_arion_stream_epoch.json`` written into the
        checkpoint dir at first start): replay protection depends on the
        checkpoint and the offset file describing the SAME stream, so a
        deleted/recreated checkpoint (replayed source data would map to
        fresh batch ids → double-processing) or a lost offset file
        (fresh ids would collide with committed ones → data loss) is
        refused at start instead of corrupting silently.  Without
        ``checkpoint_dir`` the caller owns the contract: checkpoint and
        ``_stream_offset.json`` must be wiped or kept together."""
        path = f"{self.table_dir}/_stream_offset.json"
        off_doc = None
        if os.path.exists(path):
            with open(path) as f:
                off_doc = json.load(f)
        if checkpoint_dir is None:
            if off_doc is not None:
                return off_doc["offset"]
            return self._write_stream_offset(path, None)

        epoch_path = f"{checkpoint_dir}/_arion_stream_epoch.json"
        ck_epoch = None
        if os.path.exists(epoch_path):
            with open(epoch_path) as f:
                ck_epoch = json.load(f)["epoch"]
        if off_doc is not None:
            known = off_doc.get("epoch")
            if known is None:
                # legacy offset file (pre-epoch): adopt this checkpoint
                if ck_epoch is None:
                    ck_epoch = uuid.uuid4().hex
                    self._write_epoch(epoch_path, ck_epoch)
                off_doc["epoch"] = ck_epoch
                tmp = path + f".tmp.{uuid.uuid4().hex}"
                with open(tmp, "w") as f:
                    json.dump(off_doc, f)
                os.replace(tmp, path)
                return off_doc["offset"]
            if ck_epoch is None:
                ids = self.committed_ids()
                if not ids or max(ids) < off_doc["offset"]:
                    # first-start crash window: the offset file landed
                    # (written first, see below) but the epoch file did
                    # not — no stream batch was ever committed under
                    # this offset, so adopting this checkpoint is safe.
                    self._write_epoch(epoch_path, known)
                    return off_doc["offset"]
                raise RuntimeError(
                    f"checkpoint {checkpoint_dir} carries no stream epoch but "
                    f"{path} is bound to epoch {known} and stream batches "
                    "were committed under it: the checkpoint was deleted or "
                    "recreated, so replayed source data would be "
                    "re-processed under fresh batch ids. Wipe "
                    "_stream_offset.json together with the checkpoint (and "
                    "accept re-ingest), or restore the original checkpoint."
                )
            if ck_epoch != known:
                raise RuntimeError(
                    f"stream epoch mismatch: checkpoint {checkpoint_dir} has "
                    f"{ck_epoch}, {path} expects {known} — offset file and "
                    "checkpoint belong to different streams."
                )
            return off_doc["offset"]
        if ck_epoch is not None:
            if not self.committed_ids():
                # legacy first-start crash window (epoch written before
                # offset by pre-round-5 code) on an EMPTY commit log:
                # nothing was ever committed, re-initializing loses
                # nothing — bind a fresh offset to the existing epoch.
                return self._write_stream_offset(path, ck_epoch)
            raise RuntimeError(
                f"{path} is missing but checkpoint {checkpoint_dir} already "
                f"has stream epoch {ck_epoch} and the commit log is "
                "non-empty: the offset file was lost, and restarting would "
                "renumber batches over committed ids. Restore "
                "_stream_offset.json or wipe the checkpoint with it."
            )
        # offset file FIRST (it carries the epoch), epoch file second:
        # a crash between the two leaves a recoverable state (the
        # adopt-checkpoint branch above), whereas the reverse order left
        # an epoch with no offset — a false-positive 'offset lost' error
        # on a stream that never committed anything.
        epoch = uuid.uuid4().hex
        off = self._write_stream_offset(path, epoch)
        self._write_epoch(epoch_path, epoch)
        return off

    def _write_stream_offset(self, path: str, epoch: str | None) -> int:
        ids = self.committed_ids()
        off = (max(ids) + 1) if ids else 0
        doc = {"offset": off}
        if epoch is not None:
            doc["epoch"] = epoch
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, path)
        return off

    @staticmethod
    def _write_epoch(epoch_path: str, epoch: str) -> None:
        os.makedirs(os.path.dirname(epoch_path), exist_ok=True)
        tmp = epoch_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"epoch": epoch}, f)
        os.replace(tmp, epoch_path)

    # -- index-layout pinning -------------------------------------------------

    def _pin_meta(self, _legacy_layout: dict | None = None, **layout) -> None:
        """Persist index-layout constants (prefix lengths, plane counts)
        next to the log at FIRST init and refuse mismatched re-opens: a
        probe pruned with a different layout than the index was written
        with silently misses duplicates — fail loud instead.

        ``_legacy_layout`` is the layout pre-pinning code hard-coded
        (e.g. DedupGuard bp_len=1 before round 4).  An existing index
        with committed ids but no meta file is unambiguous iff the
        caller requests exactly that legacy layout — auto-adopt it by
        writing the meta file instead of forcing a rebuild; any OTHER
        requested layout on a meta-less index stays a hard error."""
        path = f"{self.table_dir}/_guard_meta.json"
        if os.path.exists(path):
            with open(path) as f:
                known = json.load(f)
            if known != layout:
                raise ValueError(
                    f"index layout mismatch at {self.table_dir}: on disk "
                    f"{known}, requested {layout} — rebuild the index or "
                    "re-open with the on-disk layout"
                )
            return
        if self.committed_ids() and layout != _legacy_layout:
            raise ValueError(
                f"existing index at {self.table_dir} has no _guard_meta.json "
                "(pre-layout-pinning format); rebuild it, re-open with the "
                f"legacy layout {_legacy_layout}, or write the meta file "
                "matching the layout it was created with"
            )
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(layout, f)
        os.replace(tmp, path)

    # -- compaction ---------------------------------------------------------

    def _compaction_marker(self, upto: int) -> str:
        return f"{self.table_dir}/_compactions/{upto:012d}.json"

    def latest_compaction(self) -> dict | None:
        cdir = f"{self.table_dir}/_compactions"
        if not os.path.isdir(cdir):
            return None
        names = sorted(n for n in os.listdir(cdir) if n.endswith(".json"))
        if not names:
            return None
        with open(f"{cdir}/{names[-1]}") as f:
            return json.load(f)

    def _write_compaction_marker(self, upto: int, marker: dict) -> dict:
        os.makedirs(f"{self.table_dir}/_compactions", exist_ok=True)
        tmp = self._compaction_marker(upto) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(marker, f)
        os.replace(tmp, self._compaction_marker(upto))  # readers switch here
        return marker

    def _read_table(
        self,
        spark: SparkSession,
        sub: str,
        schema: str,
        ids: list[int],
        partition_filter: dict[str, list] | None = None,
    ) -> DataFrame:
        """Committed view of one batch-versioned table: compacted base
        (if any) plus still-incremental batch dirs, payload columns
        only.  Explicit schema — zero-row batches write empty dirs where
        inference would fail.

        ``partition_filter`` ({col: values}) prunes the BASE leg by
        constructing the touched partition paths directly instead of
        letting Spark's file index list the whole base (a bp_len=3
        buckets base has 4096 dirs; per-probe-batch discovery of all of
        them was the measured local cost of the finer prune cells —
        manifest-backed tables get this for free, the direct paths are
        the local twin of that manifest lookup).  Callers must still
        apply the equivalent row filter for the incremental legs, where
        the column is data, not a partition."""
        comp = self.latest_compaction()
        legs = []
        if comp is not None:
            base = f"{self.table_dir}/{sub}_base/upto={comp['upto']:012d}"
            if partition_filter:
                ((col, vals),) = partition_filter.items()
                # existence check = the manifest lookup at cluster scale
                paths = [
                    p
                    for p in (f"{base}/{col}={v}" for v in vals)
                    if os.path.isdir(p)
                ]
                if paths:
                    legs.append(
                        spark.read.schema(schema)
                        .option("basePath", base)
                        .parquet(*paths)
                    )
            else:
                legs.append(spark.read.schema(schema).parquet(base))
            ids = [i for i in ids if i > comp["upto"]]
        if ids:
            legs.append(
                spark.read.schema(schema + ", batch long")
                .option("basePath", f"{self.table_dir}/{sub}")
                .parquet(f"{self.table_dir}/{sub}")
                .where(F.col("batch").isin(ids))
                .drop("batch")
            )
        if not legs:
            return spark.createDataFrame([], schema)
        df = legs[0]
        for leg in legs[1:]:
            df = df.unionByName(leg)
        return df

    def _fold_tables(
        self,
        spark: SparkSession,
        schemas: dict[str, str],
        partition_cols: dict[str, list[str]] | None = None,
    ) -> dict:
        """Fold every committed batch (and any previous base) of each
        table into a fresh base at the current high-watermark."""
        ids = self.committed_ids()
        if not ids:
            raise FileNotFoundError(f"no committed batches in {self.table_dir}")
        upto = max(ids)
        prev = self.latest_compaction()
        if prev is not None and prev["upto"] == upto:
            return prev
        for sub, schema in schemas.items():
            df = self._read_table(spark, sub, schema, ids)
            pcs = (partition_cols or {}).get(sub, [])
            if pcs:
                # one file per partition dir: the base is re-read every
                # micro-batch, so its file count is probe latency
                df = df.repartition(*pcs)
            w = df.write.mode("overwrite")
            for pc in pcs:
                w = w.partitionBy(pc)
            w.parquet(f"{self.table_dir}/{sub}_base/upto={upto:012d}")
        return self._write_compaction_marker(upto, {"upto": upto})

    def _vacuum_tables(self, subs: list[str]) -> int:
        """Delete batch dirs folded into the latest bases and superseded
        bases; commit markers are kept.  Returns dirs removed."""
        comp = self.latest_compaction()
        if comp is None:
            return 0
        upto = comp["upto"]
        removed = 0
        for sub in subs:
            d = f"{self.table_dir}/{sub}"
            if os.path.isdir(d):
                for name in os.listdir(d):
                    if name.startswith("batch=") and int(name.split("=")[1]) <= upto:
                        shutil.rmtree(f"{d}/{name}")
                        removed += 1
            base = f"{self.table_dir}/{sub}_base"
            if os.path.isdir(base):
                for name in os.listdir(base):
                    if name.startswith("upto=") and int(name.split("=")[1]) < upto:
                        shutil.rmtree(f"{base}/{name}")
                        removed += 1
        return removed
