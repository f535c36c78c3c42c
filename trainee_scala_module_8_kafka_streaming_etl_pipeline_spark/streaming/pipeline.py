"""Continuous queries (reference E1 ``EMIT CHANGES``) over streaming
sources: streaming changelog compaction (A2/A3), the watermarked
stream-stream interval join (J2), and the composed flagship pipeline
with temporal stream-table enrichment (J1) feeding the keyed-upsert
sink (S9/E2).

Reference statements rebuilt here (/root/reference/README.md):
  CREATE TABLE customers_by_key … latest_by_offset … EMIT CHANGES  (:434-441)
  CREATE STREAM enriched_orders … LEFT JOIN customers_by_key …     (:448-458)
  CREATE STREAM shipped_orders  … INNER JOIN shipments
      WITHIN 7 DAYS ON s.order_id = o.order_id EMIT CHANGES        (:464-479)
  CREATE SINK CONNECTOR enriched_writer … (keyed ES upsert)        (:487-493)

J1 exactness (SURVEY.md §7.3): ksqlDB enriches each order against the
customer state *as of processing time* — late customer changes do not
retro-update already-emitted orders.  Spark's stream-stream outer join
cannot express that, so enrichment runs inside ``foreachBatch`` against
the state table maintained by the compaction query — the two-cooperating-
queries design (SURVEY §7 phase 3 option (a)).

The two queries run concurrently, each with its own checkpoint, WAL and
trigger loop.  Their one ordering constraint is a single barrier: a
round's enrichment reads the customers table only after that round's
compaction query has finished, so q2's start, offset listing, planning
and join overlap q1.  If q1 fails, the enrichment raises instead of
reading a stale table, so no ``shipped_orders`` version is committed and
the next round replays the batch.

Each query is a real ``StreamingQuery`` with a checkpoint: offsets are
tracked per source file (S7 ``earliest`` on first start, resume-exactly-
after on restart), and re-running with ``availableNow`` picks up only
newly arrived files — the incremental-revision semantics the reference
demonstrates by inserting customer 9 / order 31 / shipment 97 live
(README.md:654-679).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Sequence

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.joins import enrich
from .sources import file_stream, start_query
from .upsert import keyed_upsert_sink, read_state

TS_FMT = "yyyy-MM-dd'T'HH:mm:ss"  # reference timestamp_format (README.md:413-414)


def streaming_latest_by_offset(
    stream: DataFrame,
    keys: Sequence[str],
    offset_col: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """A2 as a *streaming aggregation*: one stateful groupBy whose state
    store holds the per-key argmax; in update output mode each
    micro-batch emits only the keys it revised (A3/E1 semantics)."""
    aggs = [F.max_by(c, offset_col).alias(c) for c in value_cols]
    aggs.append(F.max(offset_col).alias(offset_col))
    return stream.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def watermarked_interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[tuple[str, str]],
    left_ts: str,
    right_ts: str,
    lower: str = "-INTERVAL 7 DAYS",
    upper: str = "INTERVAL 7 DAYS",
    watermark: str = "7 days",
    how: str = "inner",
) -> DataFrame:
    """J2 streaming form: both sides watermarked on event time, joined
    on the keys plus the time-range condition.  The watermark bounds
    join state — buffered rows older than (max event time - watermark -
    window) are evicted, reproducing ksqlDB's WITHIN-window state
    retention (SURVEY.md §4).

    ``how='leftOuter'`` gives the ksqlDB ``LEFT JOIN ... WITHIN``
    analogue: an unmatched left row is emitted null-extended once the
    watermark passes the end of its match window (left_ts + upper) —
    i.e. when no future right row can still match it.  Left rows whose
    window is still open when the stream ends are never emitted (the
    engine cannot prove them unmatched); the exact emission rule is
    oracle-checked by the `streaming_interval_join_left` entry."""
    l_df = left.withWatermark(left_ts, watermark).alias("l")
    r_df = right.withWatermark(right_ts, watermark).alias("r")
    cond = F.lit(True)
    for lk, rk in keys:
        cond = cond & (F.col(f"l.{lk}") == F.col(f"r.{rk}"))
    cond = (
        cond
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") + F.expr(lower))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(upper))
    )
    return l_df.join(r_df, cond, how)


def sessionize_stream(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState`` —
    the escape hatch for stateful logic ``session_window`` can't express
    (per-key custom gap rules, richer session payloads).

    Per key, the state struct carries the open session (start, count,
    last event time).  Each micro-batch emits every session it touched —
    closed sessions finally, the still-open session *provisionally* —
    so a downstream keyed upsert on (key, session_start) with
    ``n_events`` as the revision ordinal converges to the exact result;
    a later batch that extends the open session re-emits the same
    (key, session_start) with a larger count.  Assumes per-key event-
    time-ordered arrival across batches (file/topic order), the same
    assumption ksqlDB's session windows make for in-order topics.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        import pandas as pd

        ts_list = []
        for pdf in pdfs:
            ts_list.extend(pdf[ts_col].tolist())
        ts_list.sort()
        if state.exists:
            start_us, cnt, last_us = state.get
        else:
            start_us, cnt, last_us = None, 0, None
        gap_us = gap_seconds * 1_000_000
        out_start, out_n = [], []
        for t in ts_list:
            t_us = t.value // 1000  # pandas ns -> us
            if start_us is None:
                start_us, cnt = t_us, 1
            elif t_us - last_us < gap_us:
                cnt += 1
            else:
                out_start.append(start_us)
                out_n.append(cnt)
                start_us, cnt = t_us, 1
            # clamp: an out-of-order straggler (violating the documented
            # in-order assumption) may extend the open session but must
            # not move its clock backward
            last_us = t_us if last_us is None else max(last_us, t_us)
        if start_us is not None:
            out_start.append(start_us)  # provisional open session
            out_n.append(cnt)
            state.update((start_us, cnt, last_us))
        yield pd.DataFrame(
            {
                key_col: key[0],
                "session_start": pd.to_datetime(pd.Series(out_start), unit="us"),
                "n_events": pd.Series(out_n, dtype="int64"),
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=f"{key_col} long, session_start timestamp, n_events long",
        stateStructType="start_us long, cnt long, last_us long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Composed flagship stream over CDC-shaped fixture directories
# --------------------------------------------------------------------------

CUSTOMERS_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("name", StringType()),
        StructField("age", LongType()),
        StructField("__deleted", BooleanType()),
        StructField("_offset", LongType()),
    ]
)
ORDERS_SCHEMA = StructType(
    [
        StructField("customer_id", StringType()),
        StructField("order_id", StringType()),
        StructField("price", DoubleType()),
        StructField("currency", StringType()),
        StructField("ts", StringType()),
        StructField("_offset", LongType()),
    ]
)
SHIPMENTS_SCHEMA = StructType(
    [
        StructField("order_id", StringType()),
        StructField("shipment_id", StringType()),
        StructField("origin", StringType()),
        StructField("ts", StringType()),
        StructField("_offset", LongType()),
    ]
)


def _shipped_stream(spark: SparkSession, orders_dir: str, shipments_dir: str) -> DataFrame:
    """Orders x shipments watermarked interval join (J2), the input of
    the flagship's ``shipped_orders`` query."""
    orders = (
        file_stream(spark, orders_dir, ORDERS_SCHEMA, fmt="json")
        .withColumn("ts", F.to_timestamp("ts", TS_FMT))  # S6 event-time parse
        .select(
            F.col("customer_id"),
            F.col("order_id"),
            F.col("price"),
            F.col("currency"),
            F.col("ts").alias("order_ts"),
        )
    )
    shipments = (
        file_stream(spark, shipments_dir, SHIPMENTS_SCHEMA, fmt="json")
        .withColumn("ts", F.to_timestamp("ts", TS_FMT))
        .select(
            F.col("order_id").alias("s_order_id"),
            F.col("shipment_id"),
            F.col("origin"),
            F.col("ts").alias("ship_ts"),
            F.col("_offset"),
        )
    )
    return watermarked_interval_join(
        orders,
        shipments,
        keys=[("order_id", "s_order_id")],
        left_ts="order_ts",
        right_ts="ship_ts",
    ).select(
        "order_id", "shipment_id", "customer_id", "origin", "price", "currency",
        "_offset",
    )


class _Outcome:
    """How one query's round ended, handed from the thread that awaits
    the query to the ``foreachBatch`` threads that must not run ahead of
    it.  Settled by one thread; only the first ``settle`` counts."""

    def __init__(self, what: str):
        self._what = what
        self._done = threading.Event()
        self.error: BaseException | None = None

    def settle(self, error: BaseException | None = None) -> None:
        if not self._done.is_set():
            self.error = error
            self._done.set()

    def wait(self) -> None:
        """Block until settled; raise if the query did not complete."""
        self._done.wait()
        if self.error is not None:
            raise RuntimeError(f"{self._what} did not complete: {self.error}") from self.error


def _finish(query: StreamingQuery) -> StreamingQueryException | None:
    """Wait for ``query`` to end and return the error it ended with."""
    try:
        query.awaitTermination()
    except StreamingQueryException as exc:
        return exc
    return None


def run_flagship_stream(spark: SparkSession, src_dir: str, work_dir: str) -> DataFrame:
    """Run one incremental round of the full streaming pipeline over the
    fixture directories ``src_dir/{customers,orders,shipments}`` and
    return the resulting ``shipped_orders`` state table.

    Each call processes exactly the files that arrived since the last
    call (checkpointed offsets, S7) and revises the two state tables —
    calling once on the seed data and again after dropping in the D6
    increment files reproduces the reference's live-update demo
    (README.md:654-679: 5 docs, then 6).

    Overlap: q1 (``customers_by_key``) and q2 (``shipped_orders``) are
    both started before either is awaited.  The only barrier is inside
    q2's enrichment, just before it reads the customers table: it waits
    until this call has seen q1 end, so q2's start, offset listing, WAL,
    planning and interval join run while q1 is still running, and the
    enrichment still sees this round's customer changes.  Failure rule:
    if q1 fails (or the round is aborted before q1 ends), the enrichment
    raises instead of reading a stale table, so q2 commits no
    ``shipped_orders`` version for that batch and the next call replays
    it.  The call then waits for q2, raises q1's error, and leaves no
    query of its own active.

    State width: each query starts through ``sources.start_query``, so it
    runs at ``session.input_width`` of the bytes under its source
    directories, not at the caller's
    ``spark.sql.shuffle.partitions``.  The width a query's checkpoint is
    created with is its state-store partition count for good: later
    rounds keep it whatever their input, so a pipeline that begins small
    stays narrow (start from a fresh ``work_dir`` to re-size it).  The
    ``foreachBatch`` merges are re-sized at every round.  The caller's
    session confs are left as they were found.
    """
    ckpt = os.path.join(work_dir, "checkpoints")
    state = os.path.join(work_dir, "state")
    customers_state = os.path.join(state, "customers_by_key")
    shipped_state = os.path.join(state, "shipped_orders")
    customers_dir = os.path.join(src_dir, "customers")
    orders_dir = os.path.join(src_dir, "orders")
    shipments_dir = os.path.join(src_dir, "shipments")

    customers_done = _Outcome("customers_by_key query")

    def _enrich_with_customer_state(batch_df: DataFrame) -> DataFrame:
        # the barrier: this round's customer changes are in the table
        customers_done.wait()
        cust = read_state(batch_df.sparkSession, customers_state)
        if cust is None:
            return batch_df.withColumn("customer_name", F.lit(None).cast("string")) \
                           .withColumn("customer_age", F.lit(None).cast("long"))
        dim = cust.select(
            F.col("id"),
            F.col("name").alias("customer_name"),
            F.col("age").alias("customer_age"),
        )
        return enrich(
            batch_df, dim, on=F.col("customer_id") == F.col("id"), how="left"
        ).drop("id")

    # --- query 1: customers CDC -> customers_by_key (A2/A3).  A stateless
    # append query: the keyed upsert sink keeps the latest row per key by
    # offset, so the table is materialized once, in the sink.
    q1 = start_query(
        spark,
        file_stream(spark, customers_dir, CUSTOMERS_SCHEMA, fmt="json")
        .writeStream.outputMode("append")
        .foreachBatch(
            keyed_upsert_sink(customers_state, keys=["id"], offset_col="_offset")
        )
        .option("checkpointLocation", os.path.join(ckpt, "customers")),
        [customers_dir],
    )
    queries = [q1]
    try:
        # --- query 2, started without waiting for q1: orders x shipments
        # watermarked interval join (J2) with foreachBatch temporal
        # enrichment (J1) + keyed upsert (S9/E2).  It keeps its trailing
        # no-data batch: that batch commits the final watermark
        # advancement the next round starts from.
        q2 = start_query(
            spark,
            _shipped_stream(spark, orders_dir, shipments_dir).writeStream
            .outputMode("append")
            .foreachBatch(
                keyed_upsert_sink(
                    shipped_state,
                    keys=["order_id"],
                    offset_col="_offset",
                    transform=_enrich_with_customer_state,
                )
            )
            .option("checkpointLocation", os.path.join(ckpt, "shipped")),
            [orders_dir, shipments_dir],
        )
        queries.append(q2)
        customers_done.settle(_finish(q1))
        q2_error = _finish(q2)
    finally:
        # aborted before q1's outcome was known (q2's start raised, or the
        # caller was interrupted): no enrichment may read the table
        customers_done.settle(RuntimeError("the round was aborted before it ended"))
        for q in queries:
            if q.isActive:
                q.stop()
    if customers_done.error is not None:
        raise customers_done.error
    if q2_error is not None:
        raise q2_error

    out = read_state(spark, shipped_state)
    assert out is not None
    return out
