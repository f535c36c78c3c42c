"""Continuously-maintained OHLC bars (streaming rollup of
operators/timeseries.py:ohlc_bars).

Bar state is mergeable because open/close carry their defining offsets:
per (key, bucket) the state row is (open, open_off, high, low, close,
close_off, n_ticks) and two partial bars combine as

    open  = the open  with the SMALLER open_off   (min_by)
    close = the close with the LARGER  close_off  (max_by)
    high/low = max/min,  n_ticks = sum

min_by/max_by/min/max are associative+commutative and n_ticks' sum is
batch-split invariant, so ANY micro-batch partitioning of the stream
folds to the same bars the batch aggregate computes — which is exactly
what the shared DuckDB oracle checks.  The n_ticks sum is not
idempotent, so the state commits at its micro-batch id
(streaming/upsert.py).  State is O(keys × buckets), independent of
tick volume: the A3 materialized-table pattern applied to a
time-series rollup.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.timeseries import ohlc_bars
from .sources import run_query
from .upsert import read_state, write_version


def _bar_state(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    offset_col: str,
    bucket: str,
) -> DataFrame:
    """Per-batch partial bars, with the offsets that define open/close."""
    bucket_expr = F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts")
    return df.groupBy(*key_cols, bucket_expr).agg(
        F.min_by(value_col, offset_col).alias("open"),
        F.min(offset_col).alias("open_off"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        F.max_by(value_col, offset_col).alias("close"),
        F.max(offset_col).alias("close_off"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


def _merge(state: DataFrame, keys: Sequence[str]) -> DataFrame:
    return state.groupBy(*keys, "bucket_ts").agg(
        F.min_by("open", "open_off").alias("open"),
        F.min("open_off").alias("open_off"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", "close_off").alias("close"),
        F.max("close_off").alias("close_off"),
        F.sum("n_ticks").alias("n_ticks"),
    )


def merge_bars_batch(
    batch_df: DataFrame,
    state_dir: str,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    offset_col: str,
    bucket: str,
    batch_id: int,
) -> None:
    part = _bar_state(batch_df, key_cols, ts_col, value_col, offset_col, bucket)
    prior = read_state(batch_df.sparkSession, state_dir, below=batch_id)
    merged = part if prior is None else prior.unionByName(part)
    write_version(_merge(merged, key_cols), state_dir, version=batch_id)


def run_bars_stream(
    stream_df: DataFrame,
    sources: str | Sequence[str],
    state_dir: str,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
    offset_col: str = "event_id",
    bucket: str = "day",
) -> None:
    """Maintain the bar state as a StreamingQuery (availableNow)."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_bars_batch(
            batch_df, state_dir, key_cols, ts_col, value_col, offset_col,
            bucket, batch_id,
        )

    run_query(stream_df, _sink, sources, state_dir)


def read_bars(spark: SparkSession, state_dir: str, key_cols: Sequence[str]) -> DataFrame:
    """Current bars, in the batch ohlc_bars output shape."""
    return read_state(spark, state_dir).select(
        *key_cols, "bucket_ts", "open", "high", "low", "close", "n_ticks"
    )


__all__ = ["merge_bars_batch", "run_bars_stream", "read_bars", "ohlc_bars"]
