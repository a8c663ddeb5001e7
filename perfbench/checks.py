"""Output checks against the batch twins, run outside the timed region.

One operation is one output key checked against its reference: a turn
of the chain, a (grain, bucket) row of the rollup, a keep/drop decision
of the dedup guard.  A key missing on either side, or with any value
different, counts as failed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def compare(got: DataFrame, want: DataFrame, keys: list[str], values: list[str]) -> tuple[int, int]:
    """(attempted, failed) over the union of keys of ``got`` and ``want``."""
    g = got.select(*keys, F.struct(*values).alias("_g"))
    w = want.select(*keys, F.struct(*values).alias("_w"))
    row = (
        g.join(w, keys, "full_outer")
        .agg(
            F.count(F.lit(1)).alias("attempted"),
            F.sum((~F.col("_g").eqNullSafe(F.col("_w"))).cast("long")).alias("failed"),
        )
        .head()
    )
    return int(row["attempted"]), int(row["failed"] or 0)


def chain_twin(turns: DataFrame) -> DataFrame:
    """Per-turn and rolling fingerprints of the on-time turns: the batch
    twin of the streaming fold (late turns are dropped by the watermark
    before the fold, so the twin folds past them the same way)."""
    from arion_spark.operators import fingerprint as op_fp

    return op_fp.rolling(op_fp.per_turn(turns))


CHAIN_KEYS = ["conv_id", "turn_idx"]
CHAIN_VALUES = ["text", "turn_md5", "conv_fp"]


def rollup_twin(turns: DataFrame) -> DataFrame:
    from arion_spark.operators import rollup as op_rollup

    return op_rollup.cascade(turns)


ROLLUP_KEYS = ["grain", "bucket_ts"]
ROLLUP_VALUES = ["n_turns", "n_user_turns", "sum_chars", "max_text_len"]


def dedup_twin(corpus: DataFrame, threshold: float) -> DataFrame:
    """Keep-first twin (the composition of ``queries.q_dedup_keep_first``
    over this corpus): a document is kept iff no LSH candidate among
    earlier documents verifies at Jaccard >= threshold.  One row per
    document with its ``kept`` decision."""
    from arion_spark.functions import dedup

    prep = dedup.prepare_dedup_corpus(corpus)
    pairs = dedup.lsh_candidate_pairs(None, prepared=prep)
    dropped = (
        dedup.jaccard_pairs(None, pairs, threshold=threshold, prepared=prep)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return corpus.join(dropped, "doc_id", "left").select(
        "doc_id", F.col("_drop").isNull().alias("kept")
    )


def dedup_decisions(corpus: DataFrame, kept: DataFrame) -> DataFrame:
    """The guard's decisions as one row per document of the corpus."""
    k = kept.select("doc_id").distinct().withColumn("_k", F.lit(True))
    return corpus.join(k, "doc_id", "left").select(
        "doc_id", F.col("_k").isNotNull().alias("kept")
    )
