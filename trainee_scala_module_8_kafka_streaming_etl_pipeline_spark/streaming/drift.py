"""Streaming drift monitor: continuously-maintained PSI histogram state.

The batch operator (operators/profiling.py:psi_drift) compares two
halves of a static table.  In production the comparison runs the other
way around: a *snapshot boundary* is fixed when the reference model is
trained, and every ingested micro-batch updates per-(group, period,
bin) counts; PSI against the reference side is readable at any moment.

The state is a plain additive histogram — sum-merge is associative and
commutative, so the maintained counts are batch-split invariant and
the batch PSI SQL over the same rows is the exact oracle.  Sum-merge is
not idempotent, so, like the CMS/histogram sketches in
streaming/sketches.py, the state commits at its micro-batch id.  State
size is O(groups x bins x 2) forever, regardless of stream volume.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.profiling import assign_drift_bins, psi_from_counts
from .sources import run_query
from .upsert import read_state, write_version


def merge_drift_batch(
    batch_df: DataFrame,
    state_dir: str,
    mid_us: int,
    batch_id: int,
    group_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    n_bins: int = 20,
    bin_width: float = 25.0,
) -> None:
    """One histogram merge: state' = sum-merge(state, bins(batch))."""
    binned = assign_drift_bins(
        batch_df, F.lit(mid_us), group_col, value_col, ts_col, n_bins, bin_width
    )
    counts = binned.groupBy("grp", "period", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    prior = read_state(batch_df.sparkSession, state_dir, below=batch_id)
    merged = counts if prior is None else prior.unionByName(counts)
    folded = merged.groupBy("grp", "period", "bin").agg(F.sum("c").alias("c"))
    write_version(folded, state_dir, version=batch_id)


def run_drift_stream(
    stream_df: DataFrame,
    sources: str | Sequence[str],
    state_dir: str,
    mid_us: int,
    group_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    n_bins: int = 20,
    bin_width: float = 25.0,
) -> None:
    """Maintain the drift histogram as a real StreamingQuery
    (availableNow) with checkpointed source offsets next to the state."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_drift_batch(
            batch_df, state_dir, mid_us, batch_id, group_col, value_col,
            ts_col, n_bins, bin_width,
        )

    run_query(stream_df, _sink, sources, state_dir)


def read_psi(
    spark: SparkSession,
    state_dir: str,
    group_col: str = "event_type",
    n_bins: int = 20,
    threshold: float = 0.1,
) -> DataFrame:
    """Current PSI per group from the maintained counts."""
    counts = read_state(spark, state_dir)
    return psi_from_counts(counts, group_col, n_bins, threshold)
