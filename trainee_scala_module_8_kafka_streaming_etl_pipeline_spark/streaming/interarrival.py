"""Continuously-maintained per-user inter-arrival gap statistics
(streaming form of the batch ``interarrival_stats`` query).

Like transition counts (streaming/transitions.py), a gap spans two
adjacent rows of a per-user sequence, so per-batch aggregation alone
drops the gap straddling every micro-batch boundary.  State is one row
per user carrying BOTH the running gap stats and the user's segment
endpoints:

    (user_id, n_gaps, min_gap_us, max_gap_us, total_gap_us,
     first_ts, first_off, last_ts, last_off)

Two segments of one user merge associatively: stats fold with
count-sum/min/max/sum, plus ONE bridge gap ``later.first_ts -
earlier.last_ts`` between the adjacent endpoints; the merged segment
keeps the outer endpoints.  Gaps stay exact integer microseconds end to
end.  The state commits at its micro-batch id (streaming/upsert.py), so
a re-run overwrites its own commit deterministically.

Scale: O(users) state rows; each micro-batch shuffles once on user_id
for the in-batch window, and the merge is a keyed aggregate over
state ∪ batch-partial — no row data to the driver, no sequential scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .sources import run_query
from .upsert import read_state, write_version


def _batch_partial(batch_df: DataFrame) -> DataFrame:
    """Per-user in-batch gap stats + segment endpoints for one batch."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = batch_df.select(
        "user_id",
        "ts",
        "event_id",
        (us - F.lag(us).over(w)).alias("gap_us"),
    )
    key = F.struct("ts", "event_id")
    return gaps.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.sum("gap_us").alias("total_gap_us"),
        F.min("ts").alias("first_ts"),
        F.min_by("event_id", key).alias("first_off"),
        F.max("ts").alias("last_ts"),
        F.max_by("event_id", key).alias("last_off"),
    )


def _merge(prior: DataFrame, part: DataFrame) -> DataFrame:
    segs = prior.unionByName(part)
    # Bridge gap between consecutive segments of one user: the lead()
    # window orders the (≤ segments-per-user) state rows, never events.
    sw = Window.partitionBy("user_id").orderBy("first_ts", "first_off")
    bridge = F.unix_micros(F.lead("first_ts").over(sw)) - F.unix_micros(
        F.col("last_ts")
    )
    with_bridge = segs.withColumn("bridge_us", bridge)
    first_key = F.struct("first_ts", "first_off")
    last_key = F.struct("last_ts", "last_off")
    n_bridges = F.count("bridge_us")
    total_n = F.sum("n_gaps") + n_bridges
    # A user with no gaps yet keeps NULL totals — sum() over an empty
    # set is NULL in both engines, and the batch query preserves that.
    total = F.when(
        total_n > 0,
        F.coalesce(F.sum("total_gap_us"), F.lit(0))
        + F.coalesce(F.sum("bridge_us"), F.lit(0)),
    )
    return with_bridge.groupBy("user_id").agg(
        total_n.alias("n_gaps"),
        F.least(F.min("min_gap_us"), F.min("bridge_us")).alias("min_gap_us"),
        F.greatest(F.max("max_gap_us"), F.max("bridge_us")).alias("max_gap_us"),
        total.alias("total_gap_us"),
        F.min("first_ts").alias("first_ts"),
        F.min_by("first_off", first_key).alias("first_off"),
        F.max("last_ts").alias("last_ts"),
        F.max_by("last_off", last_key).alias("last_off"),
    )


def merge_interarrival_batch(
    batch_df: DataFrame, state_dir: str, batch_id: int
) -> None:
    prior = read_state(batch_df.sparkSession, state_dir, below=batch_id)
    part = _batch_partial(batch_df)
    if prior is not None:
        part = _merge(prior, part)
    write_version(part, state_dir, version=batch_id)


def run_interarrival_stream(
    stream_df: DataFrame, sources: str | Sequence[str], state_dir: str
) -> None:
    run_query(
        stream_df,
        lambda b, i: merge_interarrival_batch(b, state_dir, i),
        sources,
        state_dir,
    )


def read_interarrival(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current stats in the batch query's output shape."""
    return read_state(spark, state_dir).select(
        "user_id",
        "n_gaps",
        F.col("min_gap_us").cast("long").alias("min_gap_us"),
        F.col("max_gap_us").cast("long").alias("max_gap_us"),
        F.col("total_gap_us").cast("long").alias("total_gap_us"),
    )


__all__ = [
    "merge_interarrival_batch",
    "run_interarrival_stream",
    "read_interarrival",
]
