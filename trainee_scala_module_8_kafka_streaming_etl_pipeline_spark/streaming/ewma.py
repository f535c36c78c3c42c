"""Continuously-maintained truncated EWMA (streaming form of
operators/timeseries.py:ewma, reporting the CURRENT smoothed value per
key).

The truncated L-lag EWMA at a key's latest event depends on exactly its
last L events — so that ring of rows IS the state: O(keys x L) forever.
Each micro-batch unions into the state and keeps the top-L rows per key
by (ts, offset); like the weighted-reservoir's min-k merge, top-L
selection is associative, commutative, AND idempotent, so the fold is
batch-split invariant and re-delivery tolerant without any commit
protocol — a replayed batch cannot change the kept set.

Read path: run the SAME batch ewma operator over the tiny state frame
and keep each key's latest row — definitionally equal to the batch
EWMA's value at that row, which is what the shared oracle (batch SQL
qualified to the latest row per key) checks.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.timeseries import ewma
from .sources import run_query
from .upsert import read_state, write_version

EWMA_LAGS = 8


def _top_l(
    df: DataFrame, key_cols: Sequence[str], ts_col: str, offset_col: str
) -> DataFrame:
    # The (key, offset) dedup is what makes the fold IDEMPOTENT: a
    # re-delivered row would otherwise appear twice in the union and
    # evict a real history row from the top-L ring.  It shares the
    # window's hash partitioning, so no extra exchange.
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(ts_col), F.desc(offset_col)
    )
    return (
        df.dropDuplicates([*key_cols, offset_col])
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= EWMA_LAGS)
        .drop("_rn")
    )


def merge_ewma_batch(
    batch_df: DataFrame,
    state_dir: str,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    offset_col: str,
) -> None:
    cols = [*key_cols, ts_col, value_col, offset_col]
    part = _top_l(batch_df.select(*cols), key_cols, ts_col, offset_col)
    prior = read_state(batch_df.sparkSession, state_dir)
    merged = part if prior is None else prior.unionByName(part)
    write_version(_top_l(merged, key_cols, ts_col, offset_col), state_dir)


def run_ewma_stream(
    stream_df: DataFrame,
    sources: str | Sequence[str],
    state_dir: str,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
    offset_col: str = "event_id",
) -> None:
    run_query(
        stream_df,
        lambda b, i: merge_ewma_batch(
            b, state_dir, key_cols, ts_col, value_col, offset_col
        ),
        sources,
        state_dir,
    )


def read_ewma(
    spark: SparkSession,
    state_dir: str,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
    offset_col: str = "event_id",
    alpha: float = 0.3,
) -> DataFrame:
    state = read_state(spark, state_dir)
    smoothed = ewma(
        state, key_cols, ts_col, value_col, offset_col,
        alpha=alpha, lags=EWMA_LAGS,
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(ts_col), F.desc(offset_col)
    )
    return (
        smoothed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


__all__ = ["merge_ewma_batch", "run_ewma_stream", "read_ewma"]
