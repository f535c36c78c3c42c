"""Incremental near-duplicate detection over a document stream.

The production shape of corpus dedup: documents arrive continuously
(reference E1 semantics — the pipeline never stops), and each new batch
must be checked against EVERYTHING ingested before it, not just its own
micro-batch.  ksqlDB has no analogue; this composes the engine's
MinHash-LSH substrate (operators/dedup.py) with the versioned-parquet
state pattern (streaming/upsert.py):

  per batch:
    1. per-doc minhash state for the batch (32 signatures + shingle
       hash set) — one map-side-combining aggregation;
    2. LSH band join of the batch's bucket addresses against the bucket
       addresses of state ∪ batch, keeping pairs (earlier, later) by
       ingest key — new docs collide with ALL prior docs through the
       band equi-join, never an all-pairs scan;
    3. signature-agreement prefilter, then exact-Jaccard verification
       on survivors (same two-stage verify as the batch operator);
    4. flagged docs (those with an earlier near-duplicate) are appended
       to the output; the batch's per-doc state is MERGEd into the
       state table for all later batches.

Ingest-order contract: the ingest key (doc_id) must be monotone with
arrival — the same contract Kafka offsets give the reference (S7,
``auto.offset.reset=earliest``).  Under that contract the result is
batch-split invariant: however the stream is chopped into micro-batches,
the flagged set equals the batch LSH pairs aggregated per later doc
(tests/test_golden_streaming.py asserts the 2-batch == 1-batch
equivalence), so the DuckDB oracle is the batch pair query.

Scale: state grows one row per ingested doc (signatures + 60-bit hash
set; ~2.5 KB/doc — 2.5 TB per billion docs, parquet-compressed less).
The per-batch cost is keyed on band buckets: each new doc probes ~8
buckets; at 100 TB the state table is bucketed by band_key so the probe
join is co-located and touches only matching buckets.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from .sources import run_query
from .upsert import read_state, upsert_batch

_OUT_SCHEMA = "doc_id bigint, dup_of bigint, jaccard double"


def _verify_pairs(cand: DataFrame, left_state: DataFrame, right_state: DataFrame,
                  threshold: float) -> DataFrame:
    """Two-stage verification of (doc_a=earlier, doc_b=later) candidate
    pairs: minhash-agreement prefilter, then exact hash-set Jaccard —
    identical staging to operators/dedup.verified_near_dups."""
    sig_a = left_state.select(
        F.col("doc_id").alias("doc_a"),
        F.array(*[F.col(f"mh{i}") for i in range(D.N_HASHES)]).alias("mhs_a"),
    )
    sig_b = right_state.select(
        F.col("doc_id").alias("doc_b"),
        F.array(*[F.col(f"mh{i}") for i in range(D.N_HASHES)]).alias("mhs_b"),
    )
    n_eq = F.expr(
        "aggregate(zip_with(mhs_a, mhs_b, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
        " 0, (acc, v) -> acc + v)"
    )
    survivors = (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .filter(n_eq >= F.lit(D.EST_CUTOFF))
        .select("doc_a", "doc_b")
    )
    hs_a = left_state.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("n_sh").alias("n_a"),
    )
    hs_b = right_state.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hs_b"),
        F.col("n_sh").alias("n_b"),
    )
    return (
        survivors.join(hs_a, "doc_a")
        .join(hs_b, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .distinct()
    )


def dedup_batch(
    batch_df: DataFrame,
    state_dir: str,
    out_dir: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = D.JACCARD_THRESHOLD,
) -> None:
    """Process one micro-batch: flag batch docs near-duplicating any
    earlier doc, append flags to ``out_dir``, fold the batch's per-doc
    minhash state into ``state_dir``."""
    spark = batch_df.sparkSession
    perdoc = D.minhash_perdoc(batch_df, id_col, text_col).cache()
    perdoc.count()

    prior = read_state(spark, state_dir)
    if prior is not None:
        # state rows carry the merge bookkeeping column; align to the
        # per-doc schema before unioning
        prior = prior.select(*perdoc.columns)
    earlier = prior.unionByName(perdoc) if prior is not None else perdoc
    cand = (
        D.band_stack(earlier, "doc_id").alias("a")
        .join(
            D.band_stack(perdoc, "doc_id").alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    pairs = _verify_pairs(cand, earlier, perdoc, threshold)
    flagged = (
        pairs.groupBy("doc_b")
        .agg(F.min_by(F.struct("doc_a", "jaccard"), "doc_a").alias("m"))
        .select(
            F.col("doc_b").alias("doc_id"),
            F.col("m.doc_a").alias("dup_of"),
            F.col("m.jaccard").alias("jaccard"),
        )
    )
    # idempotent per-epoch output (a retried batch overwrites its own dir)
    flagged.write.mode("overwrite").parquet(os.path.join(out_dir, f"epoch={batch_id}"))
    # fold the batch state in (doc_id is both key and offset: re-merge of
    # the same batch is a no-op)
    upsert_batch(
        perdoc.withColumn("_offset", F.col("doc_id")),
        state_dir,
        keys=["doc_id"],
        offset_col="_offset",
        deleted_col=None,
    )
    perdoc.unpersist()


def run_minhash_dedup_stream(
    stream_df: DataFrame,
    sources: str | Sequence[str],
    state_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = D.JACCARD_THRESHOLD,
) -> None:
    """Run the incremental dedup as a real StreamingQuery (availableNow)
    with checkpointed source offsets next to the state."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        dedup_batch(
            batch_df, state_dir, out_dir, batch_id, id_col, text_col, threshold
        )

    run_query(stream_df, _sink, sources, state_dir)


def read_flags(spark: SparkSession, out_dir: str) -> DataFrame:
    """All flagged (doc_id, dup_of, jaccard) rows emitted so far."""
    try:
        return spark.read.schema(_OUT_SCHEMA).parquet(os.path.join(out_dir, "epoch=*"))
    except Exception:
        return spark.createDataFrame([], _OUT_SCHEMA)
