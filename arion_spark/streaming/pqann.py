"""Streaming IVF×PQ serving index — the 100 TB ANN deployment shape.

`queries.q_ivf_pq_ann` proves the composed batch form (coarse cells
prune, ADC scores 8-byte codes).  This module is its serving
deployment: a commit-logged index whose ONLY corpus representation is
``(neighbor_id, cell_id, codes)`` — one 4,000-vector dim=64 batch
(8 sub-quantizers × 16 codes, 8 cells) wrote 48 KB against 2.0 MB of
raw doubles; every marker records both (``bytes_written``,
``raw_bytes``) — so the state a 10^10-vector deployment re-reads per
query batch is the compressed, cell-pruned one.  Tiny batches are the
exception: each cell file carries ~1 KB of parquet footer.

Design decisions (each mirrors production PQ serving):

* **Quantizers are part of the on-disk index.**  Coarse centroids and
  PQ codebooks are trained ONCE at bootstrap (`kmeans_centroids` +
  `pq_train` over the bootstrap corpus) and pinned to
  ``_quantizers.json`` at first init; codes written under one codebook
  are meaningless under another, so a re-open verifies the requested
  quantizers equal the pinned ones (omit them to load from disk) and
  retraining means rebuilding the index — exactly Faiss/ScaNN's
  contract.
* **Per-batch encode is one map pass** (broadcast centroid assign +
  Arrow-UDF PQ encode), written partitioned by ``cell_id``; compact()
  folds batches into one file per cell.
* **Serving prunes at the directory level**: the query batch assigns to
  its ``n_probes`` best cells, and the committed index is read via
  constructed cell paths (`_read_table(partition_filter=...)`, the
  local twin of a manifest lookup) — only probed cells are ever
  listed, opened, or scanned.
* **Answers equal the batch composition by construction**: serving
  calls the same `similarity.pq_adc_topk` scoring core as
  `ivf_pq_topk`, over the same index rows (tested, including across a
  checkpoint restart).

Reference analog: arion serves transforms, not vectors; this extends
the training-data ANN surface (SURVEY §2 addenda) the same way
`ivf_pq_ann` does in batch.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from arion_spark.functions.similarity import (
    _assign_cells,
    pq_adc_topk,
    pq_cell_index,
)
from arion_spark.streaming.ann import VEC_SCHEMA
from arion_spark.streaming.commitlog import CommitLog

_IDX = "neighbor_id long, cell_id long, codes array<int>"


class PqIndexMaintainer(CommitLog):
    """Commit-logged incremental IVF×PQ serving index (see module
    docstring).  ``coarse_cents`` is ``[[dim floats], ...]`` (cell_id =
    position+1, the `kmeans_centroids` convention); ``pq_cents`` is the
    `pq_train` nested list.  Pass both at bootstrap; omit on re-open to
    load the pinned quantizers."""

    def __init__(
        self,
        table_dir: str,
        dim: int,
        coarse_cents: list[list[float]] | None = None,
        pq_cents: list[list[list[float]]] | None = None,
    ):
        self.dim = dim
        self._init_commit_log(table_dir)
        qpath = f"{table_dir}/_quantizers.json"
        if os.path.exists(qpath):
            with open(qpath) as f:
                pinned = json.load(f)
            for name, req in (("coarse", coarse_cents), ("pq", pq_cents)):
                if req is not None and req != pinned[name]:
                    raise ValueError(
                        f"{name} quantizer mismatch at {table_dir}: codes "
                        "written under the pinned codebooks are meaningless "
                        "under different ones — rebuild the index to retrain"
                    )
            if pinned["dim"] != dim:
                raise ValueError(
                    f"dim mismatch at {table_dir}: pinned {pinned['dim']}, "
                    f"requested {dim}"
                )
            coarse_cents, pq_cents = pinned["coarse"], pinned["pq"]
        else:
            if coarse_cents is None or pq_cents is None:
                raise ValueError(
                    f"no pinned quantizers at {table_dir}: bootstrap must "
                    "pass coarse_cents and pq_cents (train with "
                    "kmeans_centroids + pq_train over the bootstrap corpus)"
                )
            tmp = qpath + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(
                    {"dim": dim, "coarse": coarse_cents, "pq": pq_cents}, f
                )
            os.replace(tmp, qpath)
        self.coarse_cents = coarse_cents
        self.pq_cents = pq_cents

    def _cents_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            [(i + 1, c) for i, c in enumerate(self.coarse_cents)],
            "cell_id long, cent array<double>",
        )

    # -- write path -----------------------------------------------------------

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> dict:
        spark = batch_df.sparkSession
        n = self._write_table(
            pq_cell_index(batch_df, self._cents_df(spark), self.pq_cents),
            "index",
            batch_id,
            partition_by=["cell_id"],
        )["rows"]
        # the lineage a capacity planner reads: what the index costs on
        # disk (the shared bytes_written) vs what the raw vectors would
        return {"n_vectors": n, "raw_bytes": n * self.dim * 8}

    # -- maintenance ------------------------------------------------------------

    def compact(self, spark: SparkSession) -> dict:
        return self._fold_tables(spark, {"index": _IDX}, {"index": ["cell_id"]})

    def vacuum(self) -> int:
        return self._vacuum_tables(["index"])

    # -- read/serve path ----------------------------------------------------------

    def read_index(
        self, spark: SparkSession, cells: list[int] | None = None
    ) -> DataFrame:
        ids = self.committed_ids()
        if not ids:
            raise FileNotFoundError(f"no committed batches in {self.table_dir}")
        pf = {"cell_id": cells} if cells is not None else None
        df = self._read_table(spark, "index", _IDX, ids, pf)
        # cells=[] is a filter too: an empty probe list reads nothing
        return df.where(F.col("cell_id").isin(cells)) if cells is not None else df

    def serve(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 5,
        n_probes: int = 1,
    ) -> DataFrame:
        """Top-k against the committed compressed index: queries assign
        to their ``n_probes`` best cells, only those cells' committed
        files are read, ADC scores the codes (pq_adc_topk — the same
        core as the batch ivf_pq_topk)."""
        probes = _assign_cells(
            queries, self._cents_df(spark), "vec_id", "embedding",
            n_probes=n_probes,
        ).select(F.col("vec_id").alias("query_id"), "cell_id")
        cells = sorted(
            {r["cell_id"] for r in probes.select("cell_id").distinct().collect()}
        )
        index = self.read_index(spark, cells)
        return pq_adc_topk(index, probes, queries, self.pq_cents, k)


def run_pq_index_stream(
    spark: SparkSession,
    replay_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    dim: int,
    coarse_cents: list[list[float]] | None = None,
    pq_cents: list[list[list[float]]] | None = None,
    max_files_per_trigger: int = 1,
) -> tuple[StreamingQuery, PqIndexMaintainer]:
    """Corpus-vector stream continuously maintaining the compressed
    serving index (bootstrap→stream offset handoff, exactly-once)."""
    maint = PqIndexMaintainer(index_dir, dim, coarse_cents, pq_cents)
    off = maint.stream_offset(checkpoint_dir)
    stream = (
        spark.readStream.schema(VEC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(replay_dir)
    )
    query = (
        stream.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: maint.process(df, bid + off))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    return query, maint
