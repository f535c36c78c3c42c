"""Continuously-maintained temperature-mixture state (streaming form of
the batch ``temperature_mixture`` query).

The batch operator's entire derivation — per-source counts, global
temperature weights, keep rates, kept tallies — reads from one
(source x basis-point-bucket) histogram, and that histogram is a pure
sum of per-row contributions.  So the streaming state IS the histogram:
each micro-batch's partial counts sum-merge into it, and the mixture
output is recomputed from O(sources x bp) state at read time — no
event data is ever retained.

Sum-merge is not idempotent, so the state commits at its micro-batch id
(streaming/upsert.py): a crashed batch's re-run deterministically
overwrites its own commit instead of double-counting.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import sampling
from .sources import run_query
from .upsert import read_state, write_version

TEMP_BP = 10000


def _batch_hist(batch_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return batch_df.groupBy(
        "source", sampling.hash_bucket(id_col, TEMP_BP).alias("b")
    ).agg(F.count(F.lit(1)).alias("c"))


def merge_mixture_batch(
    batch_df: DataFrame, state_dir: str, batch_id: int, id_col: str = "doc_id"
) -> None:
    part = _batch_hist(batch_df, id_col)
    prior = read_state(batch_df.sparkSession, state_dir, below=batch_id)
    if prior is not None:
        part = (
            prior.unionByName(part)
            .groupBy("source", "b")
            .agg(F.sum("c").alias("c"))
        )
    write_version(part, state_dir, version=batch_id)


def run_mixture_stream(
    stream_df: DataFrame,
    sources: str | Sequence[str],
    state_dir: str,
    id_col: str = "doc_id",
) -> None:
    run_query(
        stream_df,
        lambda b, i: merge_mixture_batch(b, state_dir, i, id_col),
        sources,
        state_dir,
    )


def mixture_from_hist(hist: DataFrame, budget: float = 0.5) -> DataFrame:
    """Derive (source, n_total, rate_bp, n_kept) from a bucket histogram
    — shared by the batch query and this state's read path, so the
    streamed mixture is definitionally the batch mixture over the same
    rows (which is what the shared oracle checks)."""
    tot = hist.groupBy("source").agg(F.sum("c").cast("bigint").alias("n_s"))
    g = tot.agg(
        F.sum("n_s").cast("bigint").alias("total"),
        F.sum(F.sqrt(F.col("n_s").cast("double"))).alias("sum_sqrt"),
    )
    rates = tot.crossJoin(F.broadcast(g)).select(
        "source",
        "n_s",
        F.least(
            F.lit(TEMP_BP).cast("bigint"),
            F.round(
                F.lit(float(TEMP_BP))
                * F.lit(budget)
                * F.col("total")
                * F.sqrt(F.col("n_s").cast("double"))
                / F.col("sum_sqrt")
                / F.col("n_s"),
                0,
            ).cast("bigint"),
        ).alias("rate_bp"),
    )
    return (
        rates.join(hist, "source")
        .groupBy("source", F.col("n_s").alias("n_total"), "rate_bp")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("b") < F.col("rate_bp"), F.col("c"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_kept")
        )
    )


def read_mixture(
    spark: SparkSession, state_dir: str, budget: float = 0.5
) -> DataFrame:
    return mixture_from_hist(read_state(spark, state_dir), budget)


__all__ = [
    "merge_mixture_batch",
    "run_mixture_stream",
    "mixture_from_hist",
    "read_mixture",
]
