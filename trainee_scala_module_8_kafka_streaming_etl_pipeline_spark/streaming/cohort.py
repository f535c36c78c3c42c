"""Continuously-maintained cohort-retention matrix.

The A3 pattern (materialized-table maintenance) applied to a composed
analytic: the cohort matrix needs each user's FIRST-seen week (which a
late-arriving earlier event can retroactively change) and the distinct
(user, week) activity set.  Maintaining the matrix cells directly would
need retraction logic; maintaining the two UPSTREAM states makes every
merge idempotent:

  - first-seen: per-user min(week) — min is associative, commutative,
    idempotent; a late earlier event simply lowers the min, silently
    re-cohorting the user;
  - activity:   distinct (user, week) — set union, likewise idempotent.

The matrix (cohort_week, week_offset, n_active, retention) is DERIVED
at read time from the tiny state (O(users) + O(users x active-weeks)
rows), so retroactive cohort moves need no retraction — the next read
just sees the new assignment.  Idempotence means re-delivered batches
are harmless, so the state commits at pointer + 1
(streaming/upsert.write_version), not at the batch id the additive
sinks need.

Batch-split invariance holds under ANY arrival order — stronger than
the id-ordered contract the dedup streams require — because both
merges are order-insensitive.  The DuckDB oracle is therefore the
batch cohort_matrix SQL over the same rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources import run_query
from .upsert import read_state, write_version

_COLS = ["user_id", "wk", "kind"]


def _batch_state(batch_df: DataFrame) -> DataFrame:
    ev = batch_df.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    )
    first = (
        ev.groupBy("user_id")
        .agg(F.min("wk").alias("wk"))
        .select("user_id", "wk", F.lit("first").alias("kind"))
    )
    act = ev.distinct().select("user_id", "wk", F.lit("act").alias("kind"))
    return first.unionByName(act)


def merge_cohort_batch(batch_df: DataFrame, state_dir: str) -> None:
    """state' = idempotent merge(state, batch): per-user min for the
    'first' rows, distinct union for the 'act' rows."""
    bs = _batch_state(batch_df)
    prior = read_state(batch_df.sparkSession, state_dir)
    both = bs if prior is None else prior.select(*_COLS).unionByName(bs)
    first = (
        both.filter(F.col("kind") == "first")
        .groupBy("user_id")
        .agg(F.min("wk").alias("wk"))
        .select("user_id", "wk", F.lit("first").alias("kind"))
    )
    act = (
        both.filter(F.col("kind") == "act")
        .select("user_id", "wk")
        .distinct()
        .select("user_id", "wk", F.lit("act").alias("kind"))
    )
    write_version(first.unionByName(act), state_dir)


def run_cohort_stream(
    stream_df: DataFrame, sources: str | Sequence[str], state_dir: str
) -> None:
    run_query(
        stream_df, lambda b, _i: merge_cohort_batch(b, state_dir), sources, state_dir
    )


# --- LTV curve: min-merge cohorts + ADDITIVE revenue cells ------------------
#
# The harder variant: revenue per (user, week) is an additive sum (NOT
# idempotent), while the user's cohort can still move retroactively.
# Keying revenue by user/week (not by cohort) keeps the additive state
# immune to cohort moves — the cohort join happens at read time — and
# the additive half makes the state commit at its batch id instead of
# the pointer + 1 the matrix state uses.

_LTV_COLS = ["user_id", "wk", "kind", "rev_micro"]


def _ltv_batch_state(batch_df: DataFrame) -> DataFrame:
    ev = batch_df.select(
        "user_id",
        F.date_trunc("week", "ts").alias("wk"),
        "event_type",
        "value",
    )
    first = (
        ev.groupBy("user_id")
        .agg(F.min("wk").alias("wk"))
        .select(
            "user_id", "wk", F.lit("first").alias("kind"),
            F.lit(None).cast("long").alias("rev_micro"),
        )
    )
    rev = (
        ev.filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .groupBy("user_id", "wk")
        .agg(
            F.sum(F.round(F.col("value") * 1e6).cast("bigint"))
            .cast("bigint")
            .alias("rev_micro")
        )
        .select("user_id", "wk", F.lit("rev").alias("kind"), "rev_micro")
    )
    return first.unionByName(rev)


def _ltv_merge(prior: DataFrame, bs: DataFrame) -> DataFrame:
    both = prior.select(*_LTV_COLS).unionByName(bs)
    first = (
        both.filter(F.col("kind") == "first")
        .groupBy("user_id")
        .agg(F.min("wk").alias("wk"))
        .select(
            "user_id", "wk", F.lit("first").alias("kind"),
            F.lit(None).cast("long").alias("rev_micro"),
        )
    )
    rev = (
        both.filter(F.col("kind") == "rev")
        .groupBy("user_id", "wk")
        .agg(F.sum("rev_micro").cast("bigint").alias("rev_micro"))
        .select("user_id", "wk", F.lit("rev").alias("kind"), "rev_micro")
    )
    return first.unionByName(rev)


def merge_ltv_batch(batch_df: DataFrame, state_dir: str, batch_id: int) -> None:
    prior = read_state(batch_df.sparkSession, state_dir, below=batch_id)
    bs = _ltv_batch_state(batch_df)
    if prior is not None:
        bs = _ltv_merge(prior, bs)
    write_version(bs.select(*_LTV_COLS), state_dir, version=batch_id)


def run_ltv_stream(
    stream_df: DataFrame, sources: str | Sequence[str], state_dir: str
) -> None:
    run_query(
        stream_df, lambda b, i: merge_ltv_batch(b, state_dir, i), sources, state_dir
    )


def read_ltv_curve(spark: SparkSession, state_dir: str) -> DataFrame:
    """Derive the cumulative LTV curve from state — identical shape to
    the batch ltv_cohort_curve operator."""
    from pyspark.sql import Window

    state = read_state(spark, state_dir)
    first = state.filter(F.col("kind") == "first").select(
        "user_id", F.col("wk").alias("cohort_week")
    )
    size_ = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    rev = (
        state.filter(F.col("kind") == "rev")
        .join(first, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(F.datediff("wk", "cohort_week") / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.sum("rev_micro").alias("rev_micro"))
    )
    w = Window.partitionBy("cohort_week").orderBy("week_offset")
    cum = rev.select(
        "cohort_week", "week_offset", F.sum("rev_micro").over(w).alias("cum_micro")
    )
    return cum.join(F.broadcast(size_), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "cohort_size",
        F.round(
            F.col("cum_micro") / F.lit(1e6) / F.col("cohort_size"), 6
        ).alias("avg_ltv"),
    )


def read_cohort_matrix(spark: SparkSession, state_dir: str) -> DataFrame:
    """Derive the retention matrix from the maintained state — the
    identical shape as the batch cohort_matrix operator."""
    state = read_state(spark, state_dir)
    first = state.filter(F.col("kind") == "first").select(
        "user_id", F.col("wk").alias("cohort_week")
    )
    act = state.filter(F.col("kind") == "act").select("user_id", "wk")
    size_ = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    cells = (
        act.join(first, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(F.datediff("wk", "cohort_week") / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return cells.join(F.broadcast(size_), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        F.round(
            F.col("n_active").cast("double") / F.col("cohort_size"), 6
        ).alias("retention"),
    )

