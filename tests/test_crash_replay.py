"""Crash-replay / exactly-once properties for every state sink that
commits at its batch id (the batch-id version policy of
streaming/upsert.py: ``write_version(df, dir, version=batch_id)`` with
the prior from ``read_state(spark, dir, below=batch_id)``).

The policy's claim: each micro-batch commits as state version
``v=<batch_id>`` and a re-run reads the greatest version STRICTLY BELOW
its own id — so a batch re-delivered after a crash (whether the crash
hit before the pointer swap, leaving an orphan version directory, or
after the swap but before the checkpoint commit, causing a full
re-delivery) is a deterministic overwrite, never a double-count.

These properties pin that claim for all thirteen additive-merge sinks:
under hypothesis-generated batch splits and an injected failure at a
hypothesis-chosen batch, the final state must equal the clean run's
state exactly.  Two failure modes per example:

- ``redeliver``: the batch commits fully, then is delivered again
  (crash between pointer swap and checkpoint write — exactly what
  availableNow foreachBatch does on restart).
- ``orphan``: a garbage ``v=<batch_id>`` directory exists before the
  batch runs (crash mid-write, pointer never swapped); the merge must
  ignore and overwrite it.

Model: the existing upsert crash test (tests/test_operators.py) plus
the batch-split equivalence properties in test_hypothesis.py; this file
adds the failure injection those don't cover.
"""

import os
import shutil
import tempfile

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# rows: (user, minute, type_idx, value) — duplicates and ties likely
_rows = st.lists(
    st.tuples(
        st.integers(0, 2),
        st.integers(0, 59),
        st.integers(0, 2),
        st.integers(-50, 50),
    ),
    min_size=2,
    max_size=24,
)
_cuts = st.sets(st.integers(1, 59), min_size=1, max_size=2)
_mode = st.sampled_from(["redeliver", "orphan"])
_STAGES = ["view", "click", "purchase"]


def _events_df(spark, rs):
    return (
        spark.createDataFrame(
            [
                (u, f"2024-01-{1 + m // 30:02d} 10:{m % 30:02d}:00", t, i, v)
                for i, (u, m, t, v) in enumerate(rs)
            ],
            ["user_id", "ts_s", "t", "event_id", "vi"],
        )
        .select(
            "user_id",
            F.to_timestamp("ts_s").alias("ts"),
            "event_id",
            F.element_at(
                F.array(*[F.lit(s) for s in _STAGES]),
                (F.col("t") + 1).cast("int"),
            ).alias("event_type"),
            (F.col("vi") * 0.25).alias("value"),
        )
    )


def _docs_df(spark, rs):
    return spark.createDataFrame(
        [
            (i, f"s{t}", f"w{t} w{v % 3} w{u}")
            for i, (u, m, t, v) in enumerate(rs)
        ],
        ["doc_id", "source", "text"],
    )


# 2024-01-02 00:00:00 UTC: splits _events_df's two days for the drift monitor
_DRIFT_MID_US = 1_704_153_600_000_000


def _sinks():
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming import (
        bars,
        cohort,
        disorder,
        drift,
        funnel,
        index,
        interarrival,
        mixture,
        scd2,
        sinks,
        sketches,
        transitions,
    )
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.upsert import (
        read_state,
    )

    terms = ["w0", "w1", "w2"]
    return {
        "transitions": (
            _events_df,
            transitions.merge_transitions_batch,
            transitions.read_transitions,
        ),
        "scd2": (_events_df, scd2.merge_scd2_batch, scd2.read_scd2),
        "funnel": (_events_df, funnel.merge_funnel_batch, funnel.read_funnel),
        "disorder": (
            _events_df,
            disorder.merge_disorder_batch,
            disorder.read_disorder,
        ),
        "interarrival": (
            _events_df,
            interarrival.merge_interarrival_batch,
            interarrival.read_interarrival,
        ),
        "ltv": (_events_df, cohort.merge_ltv_batch, cohort.read_ltv_curve),
        "mixture": (
            _docs_df,
            mixture.merge_mixture_batch,
            mixture.read_mixture,
        ),
        "bm25_index": (
            _docs_df,
            lambda b, d, i: index.merge_index_batch(b, d, terms, i),
            index.read_bm25_topk,
        ),
        "cms": (
            _events_df,
            lambda b, d, i: sketches.merge_cms_batch(b, d, "user_id", i),
            read_state,
        ),
        "hist": (
            _events_df,
            lambda b, d, i: sketches.merge_hist_batch(b, d, "value", i, ["user_id"]),
            read_state,
        ),
        "drift": (
            _events_df,
            lambda b, d, i: drift.merge_drift_batch(b, d, _DRIFT_MID_US, i),
            drift.read_psi,
        ),
        "bars": (
            _events_df,
            lambda b, d, i: bars.merge_bars_batch(
                b, d, ["user_id"], "ts", "value", "event_id", "hour", i
            ),
            lambda s, d: bars.read_bars(s, d, ["user_id"]),
        ),
        "topn": (
            _events_df,
            lambda b, d, i: sinks.topn_sink(d, "value", 5, ["event_id"])(b, i),
            read_state,
        ),
    }


def _split(rs, cuts):
    """Contiguous minute-slices (the segment-merge contract) — empty
    slices dropped, like an idle trigger interval."""
    bounds = sorted(cuts) + [60]
    batches, lo = [], 0
    for hi in bounds:
        b = [r for r in rs if lo <= r[1] < hi]
        lo = hi
        if b:
            batches.append(b)
    return batches


def _run(spark, mkdf, merge, read, batches, crash_at=None, mode=None):
    state = tempfile.mkdtemp(prefix="crash_prop_")
    try:
        for bid, batch in enumerate(batches):
            df = mkdf(spark, batch)
            if bid == crash_at and mode == "orphan":
                # crash mid-write: an orphan v=<bid> exists with garbage
                # content and the pointer still names the previous version
                df.write.mode("overwrite").parquet(
                    os.path.join(state, f"v={bid}")
                )
            merge(df, state, bid)
            if bid == crash_at and mode == "redeliver":
                # crash after pointer swap, before checkpoint: the engine
                # re-delivers the same batch with the same id
                merge(mkdf(spark, batch), state, bid)
        rows = [
            tuple(r[c] for c in sorted(r.asDict()))
            for r in read(spark, state).collect()
        ]
        # sort on a None-safe key; equality still compares raw values
        return sorted(rows, key=lambda t: tuple((v is None, repr(v)) for v in t))
    finally:
        shutil.rmtree(state, ignore_errors=True)


import pytest


@pytest.mark.parametrize(
    "sink",
    [
        "transitions",
        "scd2",
        "funnel",
        "disorder",
        "interarrival",
        "ltv",
        "mixture",
        "bm25_index",
        "cms",
        "hist",
        "drift",
        "bars",
        "topn",
    ],
)
@given(rs=_rows, cuts=_cuts, crash_frac=st.floats(0, 1), mode=_mode)
@_SETTINGS
def test_commit_protocol_is_exactly_once_under_crash(
    spark, sink, rs, cuts, crash_frac, mode
):
    mkdf, merge, read = _sinks()[sink]
    batches = _split(rs, cuts)
    crash_at = min(int(crash_frac * len(batches)), len(batches) - 1)
    clean = _run(spark, mkdf, merge, read, batches)
    crashed = _run(
        spark, mkdf, merge, read, batches, crash_at=crash_at, mode=mode
    )
    assert crashed == clean, (sink, mode, crash_at, len(batches))
