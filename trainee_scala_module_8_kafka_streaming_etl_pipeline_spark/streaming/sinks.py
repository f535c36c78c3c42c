"""Streaming sinks (reference S8: materialize-to-topic).

``CREATE STREAM shipped_orders WITH (kafka_topic='shipped_orders') AS
SELECT ...`` (/root/reference/README.md:464-466) persists a derived
stream under a topic name.  The broker-free equivalent materializes the
stream as an append-only parquet "topic" directory named like the topic;
a Kafka deployment swaps ``format("kafka").option("topic", name)``.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .sources import start_query


def topn_sink(
    state_dir: str,
    order_col: str,
    n: int,
    tiebreak_cols: Sequence[str] = (),
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` function maintaining a global top-n leaderboard
    across micro-batches.

    Each batch first reduces to ITS top-n (a TakeOrderedAndProject —
    map-side partial top-n per partition, only n rows per task cross the
    exchange), then merges with the prior leaderboard and keeps the
    combined top-n.  Because top-n is an associative, batch-split-
    invariant fold (top_n(A ∪ B) = top_n(top_n(A) ∪ top_n(B))), the
    maintained state equals the batch query over all data seen so far —
    which makes the plain batch top-n SQL an exact oracle, and state
    size O(n) regardless of stream length.  Ties are broken by
    ``tiebreak_cols`` ascending so the result is deterministic.  The
    fold is not idempotent (a re-delivered row would take a second
    slot), so the leaderboard commits at its micro-batch id.
    """
    from .upsert import read_state, write_version

    order = [F.desc(order_col), *[F.asc(c) for c in tiebreak_cols]]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        local = batch_df.orderBy(*order).limit(n)
        prior = read_state(batch_df.sparkSession, state_dir, below=batch_id)
        merged = local if prior is None else prior.unionByName(local)
        write_version(merged.orderBy(*order).limit(n), state_dir, version=batch_id)

    return _sink


def materialize_to_topic(
    df: DataFrame,
    name: str,
    base_dir: str,
    sources: str | Sequence[str],
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Persist a streaming DataFrame, read from ``sources``, as the named
    append-only output stream (CSAS).  Returns the started query;
    callers own awaiting."""
    path = os.path.join(base_dir, name)
    ckpt = checkpoint_dir or os.path.join(base_dir, f"_ckpt_{name}")
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .queryName(name)
    )
    return start_query(df.sparkSession, writer, sources)
