"""Continuously-maintained conversion funnel (streaming form of the
batch ``event_funnel`` query: first view -> first click after it ->
first purchase after that, per user).

Stage minima are interdependent — the "first click" is conditioned on
the first VIEW's timestamp, so funnel state is not a plain per-column
min.  Under the ordered-log contract (micro-batches arrive in event
order per user — the same arrival-order assumption latest_by_offset
and the transition state rely on, /root/reference/README.md:436), each
stage's anchor is already final when its dependents arrive, so one
batch folds in three staged steps:

  v' = v        if set, else min view ts in batch
  c' = c        if set, else min click ts in batch with ts > v'
  p' = p        if set, else min purchase ts in batch with ts > c'

``v'`` is computed first and joined back so a view and its click in the
SAME batch still chain (the in-batch case), and an already-set stage is
never revised (its anchor predates the whole batch).  State is one row
per user; each batch costs one aggregate plus one state join, both
keyed on user_id.  The state commits at its batch id
(streaming/upsert.py) — staged mins are deterministic in (prior, batch)
but a replayed batch must not see its own output as prior state.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources import run_query
from .upsert import read_state, write_version

_STAGES = ("view", "click", "purchase")


def _stage_min(stage: str, after) -> F.Column:
    cond = F.col("event_type") == stage
    if after is not None:
        cond = cond & (F.col("ts") > after)
    return F.min(F.when(cond, F.col("ts")))


def merge_funnel_batch(
    batch_df: DataFrame, state_dir: str, batch_id: int
) -> None:
    prior = read_state(batch_df.sparkSession, state_dir, below=batch_id)
    ev = batch_df.select("user_id", "event_type", "ts")
    if prior is not None:
        ev = ev.join(prior, "user_id", "left")
    else:
        for s in _STAGES:
            ev = ev.withColumn(f"first_{s}", F.lit(None).cast("timestamp"))

    # Stage 1: the view anchor (state wins — it predates the batch).
    v_eff = ev.groupBy("user_id").agg(
        F.coalesce(F.first("first_view"), _stage_min("view", None)).alias(
            "first_view"
        ),
        F.first("first_click").alias("_c0"),
        F.first("first_purchase").alias("_p0"),
    )
    # Stages 2+3 re-aggregate the batch against the effective anchors:
    # the join attaches each user's anchor to every row, so the
    # conditional min reads it as a plain column (anchors are per-user
    # constants; F.first() recovers them in the output).
    staged = (
        ev.select("user_id", "event_type", "ts")
        .join(v_eff, "user_id")
        .groupBy("user_id")
        .agg(
            F.first("first_view").alias("first_view"),
            F.coalesce(
                F.first("_c0"), _stage_min("click", F.col("first_view"))
            ).alias("first_click"),
            F.first("_p0").alias("_p0"),
        )
    )
    out = (
        ev.select("user_id", "event_type", "ts")
        .join(staged, "user_id")
        .groupBy("user_id")
        .agg(
            F.first("first_view").alias("first_view"),
            F.first("first_click").alias("first_click"),
            F.coalesce(
                F.first("_p0"), _stage_min("purchase", F.col("first_click"))
            ).alias("first_purchase"),
        )
    )
    if prior is not None:
        # users with no events in this batch carry state through
        untouched = prior.join(
            out.select("user_id"), "user_id", "left_anti"
        )
        out = out.unionByName(untouched)
    write_version(out, state_dir, version=batch_id)


def run_funnel_stream(
    stream_df: DataFrame, sources: str | Sequence[str], state_dir: str
) -> None:
    run_query(
        stream_df, lambda b, i: merge_funnel_batch(b, state_dir, i), sources, state_dir
    )


def read_funnel(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current per-user funnel in the batch query's output shape."""
    st = read_state(spark, state_dir)
    depth = (
        F.when(F.col("first_view").isNotNull(), 1).otherwise(0)
        + F.when(F.col("first_click").isNotNull(), 1).otherwise(0)
        + F.when(F.col("first_purchase").isNotNull(), 1).otherwise(0)
    )
    return st.select(
        "user_id",
        "first_view",
        "first_click",
        "first_purchase",
        depth.alias("funnel_depth"),
    )


__all__ = ["merge_funnel_batch", "run_funnel_stream", "read_funnel"]
