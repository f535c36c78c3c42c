"""Custom stateful streaming operator via ``applyInPandasWithState`` —
the Structured Streaming API for per-key state the built-in aggregates
can't express (reference A3 materialized-table maintenance, in its most
general form).

The operator here maintains per-key running state (event count, sum,
and the latest value by arrival offset) across micro-batches with the
engine-managed state store — unlike the foreachBatch MERGE sinks in
``upsert.py``/``sketches.py``, the state lives INSIDE the streaming
engine (RocksDB/HDFS-backed per shuffle partition at scale), keyed by
the groupBy key, checkpointed with the source offsets, and restored on
restart. That makes it the right home for state too intertwined with
per-row logic for a SQL MERGE: session machines, fraud scores,
per-entity model residuals.

Scale notes: state instances = shuffle partitions at query start; rows
arrive Arrow-batched per key-group (pandas, vectorized); emitted rows
are only the keys touched in the batch (update semantics), so output
volume tracks batch size, not total key count.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .sources import run_query
from .upsert import read_state as read_versioned
from .upsert import upsert_batch

OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_cents bigint, "
    "latest_event_type string, latest_value double, last_offset bigint"
)
STATE_SCHEMA = (
    "n_events bigint, total_cents bigint, "
    "latest_event_type string, latest_value double, last_offset bigint"
)


def _update_counter(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this batch's rows for one key into the managed state."""
    if state.exists:
        n, total, ltype, lval, loff = state.get
    else:
        n, total, ltype, lval, loff = 0, None, None, None, -1
    for pdf in pdfs:
        n += len(pdf)
        # exact integer cents: float partial sums would make the result
        # depend on batch split; per-row round-to-cent then int-sum is
        # associative, so any micro-batching folds to the batch answer.
        # NULL values contribute nothing, and a key that has never seen
        # a non-NULL value reports NULL, not 0 (SQL sum semantics — the
        # same all-NULL-state trap incremental_agg_merge had).
        cents = (pdf["value"] * 100).round().dropna()
        if len(cents):
            total = (0 if total is None else total) + int(
                cents.astype("int64").sum()
            )
        i = int(pdf["event_id"].idxmax())
        if int(pdf["event_id"].loc[i]) > loff:
            loff = int(pdf["event_id"].loc[i])
            ltype = str(pdf["event_type"].loc[i])
            v = pdf["value"].loc[i]
            lval = None if pd.isna(v) else float(v)
    state.update((n, total, ltype, lval, loff))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_cents": [total],
            "latest_event_type": [ltype],
            "latest_value": [lval],
            "last_offset": [loff],
        }
    )


def stateful_counter(stream_df: DataFrame) -> DataFrame:
    """Per-user running aggregate as an arbitrary-stateful operator.

    Input columns: user_id, event_id, event_type, value.
    """
    return stream_df.groupBy("user_id").applyInPandasWithState(
        _update_counter,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_counter(
    stream_df: DataFrame, sources: str | Sequence[str], out_dir: str
) -> None:
    """Drive the stateful operator and materialize its update stream
    into a queryable table (latest emitted row per key, by offset) —
    update-mode emissions are a changelog, so the sink is the keyed
    upsert MERGE."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        upsert_batch(
            batch_df,
            os.path.join(out_dir, "state"),
            keys=["user_id"],
            offset_col="last_offset",
            deleted_col=None,
        )

    run_query(stateful_counter(stream_df), _sink, sources, out_dir)


def read_counter(spark: SparkSession, out_dir: str) -> DataFrame:
    return read_versioned(spark, os.path.join(out_dir, "state"))
