"""Continuously-maintained out-of-orderness monitor (streaming form of
the batch ``out_of_order_audit`` — the live watermark-tuning signal).

State per event type: the running event-time maximum plus the lateness
tallies (n, n_late, sum_late_us, max_late_us).  A new micro-batch's
lateness is computed against ``greatest(state.run_max, in-batch running
max)`` — the state max seeds the window, so an event that is late only
relative to a PREVIOUS batch is still counted (per-batch windows alone
would miss every cross-batch inversion, the same boundary blindness the
transition/interarrival states solve with segment endpoints).

Valid under the arrival-order contract (micro-batches arrive in offset
order — the audit is BY DEFINITION about arrival order, so this is not
an extra assumption but the quantity being measured).  Tallies
sum-merge, so the state commits at its batch id (streaming/upsert.py)
for exactly-once counting.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .sources import run_query
from .upsert import read_state, write_version


def _batch_audit(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = batch_df.select(
        "event_type", "ts", "event_id", F.max("ts").over(w).alias("_bmax")
    )
    if prior is not None:
        r = r.join(
            prior.select("event_type", F.col("run_max").alias("_smax")),
            "event_type",
            "left",
        )
    else:
        r = r.withColumn("_smax", F.lit(None).cast("timestamp"))
    run_max = F.greatest(F.col("_bmax"), F.col("_smax"))
    late_us = F.when(
        F.col("ts") < run_max, F.unix_micros(run_max) - F.unix_micros("ts")
    )
    part = r.select("event_type", late_us.alias("late_us"), "ts").groupBy(
        "event_type"
    ).agg(
        F.max("ts").alias("run_max"),
        F.count(F.lit(1)).alias("n"),
        F.count("late_us").alias("n_late"),
        F.coalesce(F.sum("late_us"), F.lit(0)).cast("bigint").alias("sum_late_us"),
        F.max("late_us").cast("bigint").alias("max_late_us"),
    )
    if prior is None:
        return part
    both = prior.unionByName(part)
    return both.groupBy("event_type").agg(
        F.max("run_max").alias("run_max"),
        F.sum("n").alias("n"),
        F.sum("n_late").alias("n_late"),
        F.sum("sum_late_us").cast("bigint").alias("sum_late_us"),
        F.max("max_late_us").cast("bigint").alias("max_late_us"),
    )


def merge_disorder_batch(
    batch_df: DataFrame, state_dir: str, batch_id: int
) -> None:
    prior = read_state(batch_df.sparkSession, state_dir, below=batch_id)
    write_version(_batch_audit(batch_df, prior), state_dir, version=batch_id)


def run_disorder_stream(
    stream_df: DataFrame, sources: str | Sequence[str], state_dir: str
) -> None:
    run_query(
        stream_df,
        lambda b, i: merge_disorder_batch(b, state_dir, i),
        sources,
        state_dir,
    )


def read_disorder(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current audit in the batch query's output shape."""
    return read_state(spark, state_dir).select(
        "event_type",
        F.col("n").alias("n_events"),
        "n_late",
        F.round(F.col("n_late") / F.col("n").cast("double"), 6).alias(
            "late_frac"
        ),
        "max_late_us",
        F.col("sum_late_us").alias("total_late_us"),
    )


__all__ = ["merge_disorder_batch", "run_disorder_stream", "read_disorder"]
