"""Continuously-maintained SCD type-2 history (streaming form of the
batch ``scd2_history`` rewrite — the keyed-upsert sink's history
dimension, maintained incrementally).

State IS the history table: one row per change with
(valid_from, valid_to, is_current) — O(changes) by definition, since a
type-2 dimension's product is every version ever seen.  The streaming
invariant is that CLOSED rows are immutable: a micro-batch can only
(a) close each affected key's single open row and (b) append its own
lead-chained rows.  So each batch recomputes the lead window ONLY over
{open rows of affected keys} ∪ {batch rows} — a frame of size
O(affected keys + batch), never the accumulated history — and unions
the untouched closed rows through unchanged.

Correct under the ordered-log arrival contract (a key's changes arrive
in event-time order — /root/reference/README.md:436); commit protocol
is version = batch id (streaming/upsert.py) so crash replay
deterministically overwrites.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .sources import run_query
from .upsert import read_state, write_version

_COLS = ["user_id", "event_id", "value", "valid_from", "valid_to", "is_current"]


def _chain(rows: DataFrame) -> DataFrame:
    """Lead-chain (user_id, event_id, value, valid_from) rows into SCD2
    shape — the same single-window rewrite the batch operator uses."""
    w = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return rows.select(
        "user_id",
        "event_id",
        "value",
        "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
        F.lead("valid_from").over(w).isNull().alias("is_current"),
    )


def merge_scd2_batch(
    batch_df: DataFrame, state_dir: str, batch_id: int
) -> None:
    changes = batch_df.select(
        "user_id", "event_id", "value", F.col("ts").alias("valid_from")
    )
    prior = read_state(batch_df.sparkSession, state_dir, below=batch_id)
    if prior is None:
        write_version(_chain(changes), state_dir, version=batch_id)
        return
    affected = changes.select("user_id").distinct()
    # closed rows and unaffected keys pass through untouched; only the
    # affected keys' open rows re-enter the window with the batch
    touched_open = prior.join(affected, "user_id", "left_semi").filter(
        F.col("is_current")
    )
    untouched = prior.join(
        touched_open.select("user_id", "event_id"),
        ["user_id", "event_id"],
        "left_anti",
    )
    rechained = _chain(
        touched_open.select("user_id", "event_id", "value", "valid_from")
        .unionByName(changes)
    )
    write_version(
        untouched.unionByName(rechained).select(*_COLS), state_dir, version=batch_id
    )


def run_scd2_stream(
    stream_df: DataFrame, sources: str | Sequence[str], state_dir: str
) -> None:
    run_query(
        stream_df, lambda b, i: merge_scd2_batch(b, state_dir, i), sources, state_dir
    )


def read_scd2(spark: SparkSession, state_dir: str) -> DataFrame:
    return read_state(spark, state_dir).select(*_COLS)


__all__ = ["merge_scd2_batch", "run_scd2_stream", "read_scd2"]
