"""Incremental sketch maintenance over a stream.

The point of a mergeable sketch at 100 TB: the register state is O(m)
per group *forever*, so a continuously-running query (reference E1
semantics) can maintain distinct-count estimates over unbounded input
with bounded state — the streaming analogue of A3 materialized-table
maintenance, but with sub-linear state instead of per-key rows.

Each micro-batch folds its HLL registers (operators/sketches.py) into
the versioned state table with a max() merge.  max is associative,
commutative, and idempotent, so the result is batch-split invariant
AND re-delivery tolerant: replaying a batch after a failed commit
cannot move any register backwards, so the HLL state commits at
pointer + 1.  The CMS and histogram states sum-merge, which is not
idempotent, so they commit at their micro-batch id (the batch-id
policy of streaming/upsert.py).  The DuckDB oracle is therefore simply
the batch sketch query over the same rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import sketches as SK
from .sources import run_query
from .upsert import read_state, write_version


def merge_hll_batch(
    batch_df: DataFrame,
    state_dir: str,
    key_col: str,
    group_cols: Sequence[str] = (),
    m: int = SK.HLL_M,
) -> None:
    """One register merge: state' = max-merge(state, registers(batch))."""
    regs = SK.hll_registers(batch_df, key_col, group_cols, m)
    prior = read_state(batch_df.sparkSession, state_dir)
    merged = regs if prior is None else prior.unionByName(regs)
    folded = merged.groupBy(*group_cols, "bucket").agg(
        F.max("v_max").alias("v_max")
    )
    write_version(folded, state_dir)


def run_hll_stream(
    stream_df: DataFrame,
    sources: str | Sequence[str],
    state_dir: str,
    key_col: str,
    group_cols: Sequence[str] = (),
    m: int = SK.HLL_M,
) -> None:
    """Maintain streaming HLL registers as a real StreamingQuery
    (availableNow) with checkpointed source offsets next to the state."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_hll_batch(batch_df, state_dir, key_col, group_cols, m)

    run_query(stream_df, _sink, sources, state_dir)


def read_hll_estimate(
    spark: SparkSession,
    state_dir: str,
    group_cols: Sequence[str] = (),
    m: int = SK.HLL_M,
) -> DataFrame:
    """Current cardinality estimate from the maintained registers."""
    regs = read_state(spark, state_dir)
    return SK.hll_estimate_from_registers(regs, group_cols, m)


def merge_cms_batch(
    batch_df: DataFrame,
    state_dir: str,
    key_col: str,
    batch_id: int,
    d: int = SK.CMS_D,
    w: int = SK.CMS_W,
) -> None:
    """One count-min merge: state' = cellwise-sum(state, cells(batch)).

    Unlike the HLL max, the CMS merge is additive — still associative
    and commutative (batch-split invariant), but NOT idempotent:
    folding a re-delivered batch into its own commit would double-count
    it.  So the prior is the greatest version below ``batch_id`` and
    the commit overwrites ``v=<batch_id>``."""
    cells = SK.cms_cells(batch_df, key_col, d, w)
    prior = read_state(batch_df.sparkSession, state_dir, below=batch_id)
    merged = cells if prior is None else prior.unionByName(cells)
    folded = merged.groupBy("i", "col").agg(F.sum("cnt").alias("cnt"))
    write_version(folded, state_dir, version=batch_id)


def run_cms_stream(
    stream_df: DataFrame,
    sources: str | Sequence[str],
    state_dir: str,
    key_col: str,
    d: int = SK.CMS_D,
    w: int = SK.CMS_W,
) -> None:
    """Maintain streaming CMS cells as a StreamingQuery (availableNow)."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_cms_batch(batch_df, state_dir, key_col, batch_id, d, w)

    run_query(stream_df, _sink, sources, state_dir)


def read_cms_topk(
    spark: SparkSession,
    state_dir: str,
    candidates: DataFrame,
    key_col: str,
    d: int = SK.CMS_D,
    w: int = SK.CMS_W,
    k: int = 10,
) -> DataFrame:
    """Heavy-hitter probe against the maintained cell state."""
    cells = read_state(spark, state_dir)
    return SK.cms_estimate_topk(cells, candidates, key_col, d, w, k)


def merge_hist_batch(
    batch_df: DataFrame,
    state_dir: str,
    value_col: str,
    batch_id: int,
    group_cols: Sequence[str] = (),
    width: float = SK.HIST_BIN_WIDTH,
) -> None:
    """One histogram merge: state' = sum-merge(state, bins(batch)).
    Sum is associative/commutative, so the maintained state is
    batch-split invariant; like CMS it is not idempotent, so it commits
    at ``batch_id``."""
    bins = SK.hist_bins(batch_df, value_col, group_cols, width)
    prior = read_state(batch_df.sparkSession, state_dir, below=batch_id)
    merged = bins if prior is None else prior.unionByName(bins)
    folded = merged.groupBy(*group_cols, "bin").agg(F.sum("c").alias("c"))
    write_version(folded, state_dir, version=batch_id)


def run_hist_stream(
    stream_df: DataFrame,
    sources: str | Sequence[str],
    state_dir: str,
    value_col: str,
    group_cols: Sequence[str] = (),
    width: float = SK.HIST_BIN_WIDTH,
) -> None:
    """Maintain the streaming histogram sketch as a StreamingQuery
    (availableNow) with checkpointed offsets next to the state."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_hist_batch(batch_df, state_dir, value_col, batch_id, group_cols, width)

    run_query(stream_df, _sink, sources, state_dir)


def read_hist_quantiles(
    spark: SparkSession,
    state_dir: str,
    group_cols: Sequence[str] = (),
    width: float = SK.HIST_BIN_WIDTH,
) -> DataFrame:
    """Current quantile estimates from the maintained bin counts."""
    bins = read_state(spark, state_dir)
    return SK.hist_quantiles(bins, group_cols, width)
