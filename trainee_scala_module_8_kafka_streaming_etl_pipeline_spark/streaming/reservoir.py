"""Streaming weighted reservoir: a fixed-size weighted sample WITHOUT
replacement maintained continuously over an unbounded stream.

Efraimidis–Spirakis gives each row a key -ln(u)/w (operators/
sampling.py:es_key); the k rows with the SMALLEST keys are a correct
weighted sample.  "Smallest k" is a mergeable statistic: min-k of a
union = min-k of (min-k(A) ∪ min-k(B)), so the maintained state is just
the current k rows and their keys — O(k) forever, regardless of stream
volume — and merging a micro-batch is one union + TakeOrdered.

Because u is a deterministic hash of the row id, the streamed sample
over any batch split equals the batch sample over the union — the same
batch-split invariance contract as the sketch states
(streaming/sketches.py), so the batch ES SQL is the exact oracle.
Re-delivery of a batch is additionally harmless here: the replayed
rows carry byte-identical deterministic keys, and the merge dedups on
the row id before the k-limit, so a replay cannot crowd a distinct row
out of the sample — stronger than the CMS/histogram sum merges, whose
exactly-once depends entirely on the checkpoint.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sampling import es_key
from .sources import run_query
from .upsert import read_state, write_version


def merge_reservoir_batch(
    batch_df: DataFrame,
    state_dir: str,
    weight_col: str,
    k: int = 100,
    id_col: str = "doc_id",
) -> None:
    """One reservoir merge: state' = min-k(state ∪ keyed(batch))."""
    keyed = (
        batch_df.filter(F.col(weight_col) > 0)
        .select(id_col, weight_col)
        .withColumn("samp_key", es_key(weight_col, id_col))
    )
    prior = read_state(batch_df.sparkSession, state_dir)
    merged = keyed if prior is None else prior.unionByName(keyed)
    # dropDuplicates on the id makes re-delivery idempotent: a replayed
    # row is byte-identical (deterministic key), so the dedup collapses
    # it instead of letting the duplicate crowd a distinct row out of
    # the k-limit.
    write_version(
        merged.dropDuplicates([id_col]).orderBy("samp_key", id_col).limit(k),
        state_dir,
    )


def run_reservoir_stream(
    stream_df: DataFrame,
    sources: str | Sequence[str],
    state_dir: str,
    weight_col: str,
    k: int = 100,
    id_col: str = "doc_id",
) -> None:
    """Maintain the weighted reservoir as a real StreamingQuery
    (availableNow) with checkpointed source offsets next to the state."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_reservoir_batch(batch_df, state_dir, weight_col, k, id_col)

    run_query(stream_df, _sink, sources, state_dir)


def read_reservoir(spark: SparkSession, state_dir: str) -> DataFrame:
    """The current sample (rows + their ES keys)."""
    return read_state(spark, state_dir)
