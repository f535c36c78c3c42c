"""Incremental embedding near-duplicate detection over a vector stream.

The vector-space twin of streaming/dedup.py (MinHash text dedup): new
embeddings arrive continuously and each batch must be screened against
EVERYTHING ingested before it.  Composes the hyperplane-LSH substrate
(operators/similarity.py) with the keyed-upsert state pattern:

  per batch:
    1. one Arrow-batched GEMM computes the batch's (table, bucket)
       addresses (4 tables × 8 sign bits);
    2. bucket equi-join of the batch's addresses against state ∪ batch
       addresses, keeping (earlier, later) pairs by ingest key — new
       vectors collide with ALL prior vectors through the bucket join,
       never an all-pairs scan;
    3. exact-cosine verification of the deduped candidates;
    4. flagged vectors (those with an earlier near-duplicate among
       their LSH candidates) append to the output; the batch's bucket
       rows MERGE into the state table for all later batches.

Ingest-order contract: vec_id monotone with arrival (the same Kafka
offset contract as the text dedup).  Under it the flagged set is
batch-split invariant and equals the batch LSH-candidate pair query —
the DuckDB oracle.  Re-delivery safe: the state MERGE keys on
(vec_id, table_idx) so a replayed batch re-writes identical rows, and
each batch's flags overwrite their own epoch directory.

Scale: state is 4 bucket rows per vector carrying the embedding
(~1 KB/vec at 64 float dims); at deploy scale the state table is
bucketed by (table_idx, bucket) so each new vector's probe touches
only its 4 buckets' partitions.  Recall is the LSH dial (more tables →
higher recall), identical to the batch candidate generator.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as S
from .sources import run_query
from .upsert import read_state, upsert_batch

_OUT_SCHEMA = "vec_id bigint, dup_of bigint, cos double"


def embdedup_batch(
    batch_df: DataFrame,
    state_dir: str,
    out_dir: str,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> None:
    """Process one micro-batch: flag batch vectors near-duplicating any
    earlier vector, append flags to ``out_dir``, fold the batch's
    bucket rows into ``state_dir``."""
    spark = batch_df.sparkSession
    tables = S.lsh_planes()
    # vectorless rows cannot be bucketized or deduplicated — same
    # contract as the batch similarity operators
    batch_df = batch_df.filter(F.col(vec_col).isNotNull())
    buckets = S._bucketize_pandas(batch_df, tables, id_col, vec_col).cache()
    buckets.count()

    prior = read_state(spark, state_dir)
    if prior is not None:
        prior = prior.select(*buckets.columns)
    earlier = prior.unionByName(buckets) if prior is not None else buckets
    cand = (
        earlier.alias("a")
        .join(
            buckets.alias("b"),
            (F.col("a.table_idx") == F.col("b.table_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"a.{vec_col}").alias("v_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"b.{vec_col}").alias("v_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.select(
        "id_a", "id_b", S.cosine_col("v_a", "v_b").alias("cos")
    ).filter(F.col("cos") >= threshold)
    flagged = (
        pairs.groupBy("id_b")
        .agg(F.min_by(F.struct("id_a", "cos"), "id_a").alias("m"))
        .select(
            F.col("id_b").alias(id_col),
            F.col("m.id_a").alias("dup_of"),
            F.col("m.cos").alias("cos"),
        )
    )
    flagged.write.mode("overwrite").parquet(
        os.path.join(out_dir, f"epoch={batch_id}")
    )
    upsert_batch(
        buckets.withColumn("_offset", F.col(id_col)),
        state_dir,
        keys=[id_col, "table_idx"],
        offset_col="_offset",
        deleted_col=None,
    )
    buckets.unpersist()


def run_embdedup_stream(
    stream_df: DataFrame,
    sources: str | Sequence[str],
    state_dir: str,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> None:
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        embdedup_batch(
            batch_df, state_dir, out_dir, batch_id, id_col, vec_col, threshold
        )

    run_query(stream_df, _sink, sources, state_dir)


def read_embdedup_flags(spark: SparkSession, out_dir: str) -> DataFrame:
    try:
        return spark.read.schema(_OUT_SCHEMA).parquet(
            os.path.join(out_dir, "epoch=*")
        )
    except Exception:
        return spark.createDataFrame([], _OUT_SCHEMA)
