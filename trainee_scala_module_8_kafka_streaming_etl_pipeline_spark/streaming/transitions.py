"""Continuously-maintained Markov transition counts (streaming form of
the batch ``event_transitions`` query — the A3 materialized-table
pattern applied to a sequence statistic).

A transition count is NOT a per-row decomposable aggregate: the pair
(from, to) spans two adjacent rows of a per-user sequence, so a naive
per-batch count misses every transition that straddles a micro-batch
boundary.  State therefore has two parts:

* ``trans``  — (from_type, to_type, n): sum-merged counts.
* ``seg``    — per user, the endpoints of the contiguous segment of its
  sequence seen so far: (first_type, first_key, last_type, last_key),
  where key = (ts, offset) encoded as one orderable BIGINT pair column
  via a struct — the same (event-time, arrival-order) total order the
  batch query's window uses.

Each micro-batch folds in as segment algebra: the batch's per-user
slice is itself a segment (its internal transitions counted with one
``lead()`` window); merging two segments of the same user bridges
``earlier.last -> later.first`` (one more transition) and keeps the
outer endpoints.  Segment merge is associative, and because endpoints
carry their defining keys, it tolerates micro-batches arriving out of
order as long as each batch holds a contiguous time-slice per user
(true for an ordered log replayed by files; the same arrival-order
contract latest_by_offset relies on, /root/reference/README.md:436).

Exactly-once: the counts sum-merge, so the state commits at its
micro-batch id (the batch-id policy of streaming/upsert.py): a batch
re-delivered after a crash — even after the pointer swap but before the
checkpoint commit — recomputes from the greatest version STRICTLY BELOW
its own id, so the re-run is a deterministic overwrite, never a
double-count.

Scale: state is O(users) segments + O(types²) counts; each batch
shuffles once on user_id for the window and once for the segment
merge — both keyed, both AQE-coalescible, no row data to the driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .sources import run_query
from .upsert import read_state, write_version

_SEG_COLS = [
    "user_id", "first_type", "first_ts", "first_off",
    "last_type", "last_ts", "last_off",
]


def _batch_state(batch_df: DataFrame) -> DataFrame:
    """One frame holding both state parts for a single batch:
    transition rows (user_id NULL) + one segment row per user."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = batch_df.select(
        "user_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    trans = (
        seq.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    key = F.struct("ts", "event_id")
    seg = batch_df.groupBy("user_id").agg(
        F.min_by("event_type", key).alias("first_type"),
        F.min("ts").alias("first_ts"),
        F.min_by("event_id", key).alias("first_off"),
        F.max_by("event_type", key).alias("last_type"),
        F.max("ts").alias("last_ts"),
        F.max_by("event_id", key).alias("last_off"),
    )
    return _pack(trans, seg)


def _pack(trans: DataFrame, seg: DataFrame) -> DataFrame:
    t = trans.select(
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("string").alias("first_type"),
        F.lit(None).cast("timestamp").alias("first_ts"),
        F.lit(None).cast("long").alias("first_off"),
        F.lit(None).cast("string").alias("last_type"),
        F.lit(None).cast("timestamp").alias("last_ts"),
        F.lit(None).cast("long").alias("last_off"),
        "from_type", "to_type", "n",
    )
    s = seg.select(
        *_SEG_COLS,
        F.lit(None).cast("string").alias("from_type"),
        F.lit(None).cast("string").alias("to_type"),
        F.lit(None).cast("long").alias("n"),
    )
    return t.unionByName(s)


def _merge(prior: DataFrame, batch_state: DataFrame) -> DataFrame:
    """Fold a batch's packed state into the prior packed state."""
    both = prior.unionByName(batch_state)
    segs = both.filter(F.col("user_id").isNotNull())
    trans = both.filter(F.col("user_id").isNull()).select("from_type", "to_type", "n")

    # Bridge consecutive segments of the same user (ordered by their
    # first key): earlier.last -> later.first becomes one transition.
    sw = Window.partitionBy("user_id").orderBy("first_ts", "first_off")
    nxt_first = F.lead("first_type").over(sw)
    bridges = (
        segs.select("user_id", "first_ts", "first_off", "last_type",
                    nxt_first.alias("nxt_first"))
        .filter(F.col("nxt_first").isNotNull())
        .groupBy(F.col("last_type").alias("from_type"),
                 F.col("nxt_first").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    first_key = F.struct("first_ts", "first_off")
    last_key = F.struct("last_ts", "last_off")
    merged_segs = segs.groupBy("user_id").agg(
        F.min_by("first_type", first_key).alias("first_type"),
        F.min("first_ts").alias("first_ts"),
        F.min_by("first_off", first_key).alias("first_off"),
        F.max_by("last_type", last_key).alias("last_type"),
        F.max("last_ts").alias("last_ts"),
        F.max_by("last_off", last_key).alias("last_off"),
    )
    merged_trans = (
        trans.unionByName(bridges)
        .groupBy("from_type", "to_type")
        .agg(F.sum("n").alias("n"))
    )
    return _pack(merged_trans, merged_segs)


def merge_transitions_batch(
    batch_df: DataFrame, state_dir: str, batch_id: int
) -> None:
    """Apply one micro-batch.  Prior = greatest committed version with
    id < ``batch_id`` — NOT the pointer — so a crashed batch's re-run
    deterministically overwrites its own partial commit."""
    prior = read_state(batch_df.sparkSession, state_dir, below=batch_id)
    bs = _batch_state(batch_df)
    if prior is not None:
        bs = _merge(prior, bs)
    write_version(bs, state_dir, version=batch_id)


def run_transitions_stream(
    stream_df: DataFrame, sources: str | Sequence[str], state_dir: str
) -> None:
    run_query(
        stream_df,
        lambda b, i: merge_transitions_batch(b, state_dir, i),
        sources,
        state_dir,
    )


def read_transitions(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current transition matrix in the batch query's output shape
    (from_type, to_type, n, p) — row-normalized at read time from the
    count state (the tiny types x types frame, no event-data pass)."""
    counts = read_state(spark, state_dir).filter(F.col("user_id").isNull()).select(
        "from_type", "to_type", "n"
    )
    wrow = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wrow), 6).alias("p"),
    )


__all__ = [
    "merge_transitions_batch",
    "run_transitions_stream",
    "read_transitions",
]
