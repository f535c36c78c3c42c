"""Sketch-quality tests (operators/sketches.py).  The DuckDB oracle
proves Spark and SQL compute the same numbers; these tests prove the
numbers are *good* — an estimator whose oracle mirrors a broken formula
still hashes green, so accuracy bounds need their own assertions."""

import pyspark.sql.functions as F
import pytest

from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators import (
    sketches,
)


@pytest.fixture(scope="module")
def keyed(spark):
    # 3000 distinct keys, zipf-ish repetition for the CMS side
    rows = [(f"k{i}",) for i in range(3000)] + [
        (f"k{i % 7}",) for i in range(2000)
    ]
    return spark.createDataFrame(rows, ["k"])


def test_hll_estimate_within_rse_bounds(spark, keyed):
    [row] = sketches.hll_estimate(keyed, "k").collect()
    # m=64 -> relative standard error ~13%; assert a 4-sigma corridor
    assert 3000 * 0.48 < row.hll_estimate < 3000 * 1.52
    assert row.buckets_used == 64  # n >> m saturates every register


def test_hll_registers_merge_by_max(spark):
    a = spark.createDataFrame([(f"a{i}",) for i in range(500)], ["k"])
    b = spark.createDataFrame([(f"b{i}",) for i in range(500)], ["k"])
    both = sketches.hll_registers(a.union(b), "k")
    merged = (
        sketches.hll_registers(a, "k")
        .union(sketches.hll_registers(b, "k"))
        .groupBy("bucket")
        .agg(F.max("v_max").alias("v_max"))
    )
    assert sorted(map(tuple, both.collect())) == sorted(
        map(tuple, merged.collect())
    )


def test_streaming_hll_two_rounds_match_batch(spark, tmp_path):
    """Chopping the ingest into two availableNow rounds (with keys
    overlapping across rounds) leaves exactly the registers — and so
    the estimate — of a single batch pass over the union."""
    import json

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.sketches import (
        read_hll_estimate,
        run_hll_stream,
    )

    rows1 = [{"g": "a", "k": f"x{i}"} for i in range(400)]
    rows2 = [{"g": "a", "k": f"x{i}"} for i in range(200, 600)]  # overlap
    src = tmp_path / "src"
    src.mkdir()
    schema = "g string, k string"

    def _ingest(rows, fname):
        with open(src / fname, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        sdf = spark.readStream.schema(schema).json(str(src))
        run_hll_stream(sdf, str(src), str(tmp_path / "state"), "k", ["g"])

    _ingest(rows1, "r1.jsonl")
    _ingest(rows2, "r2.jsonl")

    [streamed] = read_hll_estimate(spark, str(tmp_path / "state"), ["g"]).collect()
    union = spark.createDataFrame(
        [(r["g"], r["k"]) for r in rows1 + rows2], ["g", "k"]
    )
    [batch] = sketches.hll_estimate(union, "k", ["g"]).collect()
    assert streamed.hll_estimate == batch.hll_estimate
    assert streamed.buckets_used == batch.buckets_used
    # 600 true distinct; sanity-check the estimate is in the corridor
    assert 600 * 0.5 < streamed.hll_estimate < 600 * 1.5


def test_cms_never_underestimates_and_ranks_hot_keys(spark, keyed):
    top = sketches.cms_topk(keyed, "k", k=7).collect()
    exact = {
        r.k: r.cnt
        for r in keyed.groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    # the 7 hot keys (286+ occurrences each vs 1 for the tail) must win
    assert {r.k for r in top} == {f"k{i}" for i in range(7)}
    for r in top:
        assert r.cms_count >= exact[r.k]  # CMS error is one-sided


def test_streaming_bars_two_rounds_match_batch(spark, tmp_path):
    """Any micro-batch split of the ticks folds to the bars a single
    batch aggregate computes: open/close ride their offsets through the
    min_by/max_by merge, high/low/n_ticks merge by max/min/sum."""
    import json

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.timeseries import (
        ohlc_bars,
    )
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.bars import (
        read_bars,
        run_bars_stream,
    )

    # round 2 delivers the EARLIEST offset of day 1 (id 0, value 99):
    # the merged open must come from round 2, not arrival order
    rows1 = [
        {"k": "a", "ts": "2024-01-01 10:00:00", "v": 5.0, "id": 2},
        {"k": "a", "ts": "2024-01-01 11:00:00", "v": 1.0, "id": 3},
    ]
    rows2 = [
        {"k": "a", "ts": "2024-01-01 09:00:00", "v": 99.0, "id": 0},
        {"k": "a", "ts": "2024-01-02 09:00:00", "v": 7.0, "id": 4},
    ]
    src = tmp_path / "src"
    src.mkdir()
    schema = "k string, ts string, v double, id bigint"

    def _ingest(rows, fname):
        with open(src / fname, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        sdf = (
            spark.readStream.schema(schema)
            .json(str(src))
            .withColumn("ts", F.to_timestamp("ts"))
        )
        run_bars_stream(
            sdf, str(src), str(tmp_path / "state"), ["k"], "ts", "v", "id", "day"
        )

    _ingest(rows1, "r1.jsonl")
    _ingest(rows2, "r2.jsonl")

    streamed = {
        str(r.bucket_ts): r
        for r in read_bars(spark, str(tmp_path / "state"), ["k"]).collect()
    }
    union = spark.createDataFrame(
        [(r["k"], r["ts"], r["v"], r["id"]) for r in rows1 + rows2],
        ["k", "ts", "v", "id"],
    ).withColumn("ts", F.to_timestamp("ts"))
    batch = {
        str(r.bucket_ts): r
        for r in ohlc_bars(union, ["k"], "ts", "v", "id", "day").collect()
    }
    assert streamed.keys() == batch.keys()
    for day in batch:
        s, b = streamed[day], batch[day]
        assert (s.open, s.high, s.low, s.close, s.n_ticks) == (
            b.open, b.high, b.low, b.close, b.n_ticks,
        )
    d1 = streamed["2024-01-01 00:00:00"]
    assert (d1.open, d1.close) == (99.0, 1.0)  # open from the LATE round


def test_streaming_hist_two_rounds_match_batch(spark, tmp_path):
    """Sum-merged histogram state after two availableNow rounds equals
    one batch pass over the union; quantile estimates follow."""
    import json

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.sketches import (
        read_hist_quantiles,
        run_hist_stream,
    )

    rows1 = [{"g": "a", "v": float(i % 40)} for i in range(300)]
    rows2 = [{"g": "a", "v": float((i * 7) % 40)} for i in range(300)]
    src = tmp_path / "src"
    src.mkdir()
    schema = "g string, v double"

    def _ingest(rows, fname):
        with open(src / fname, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        sdf = spark.readStream.schema(schema).json(str(src))
        run_hist_stream(sdf, str(src), str(tmp_path / "state"), "v", ["g"])

    _ingest(rows1, "r1.jsonl")
    _ingest(rows2, "r2.jsonl")

    [streamed] = read_hist_quantiles(
        spark, str(tmp_path / "state"), ["g"]
    ).collect()
    union = spark.createDataFrame(
        [(r["g"], r["v"]) for r in rows1 + rows2], ["g", "v"]
    )
    [batch] = sketches.hist_quantiles(
        sketches.hist_bins(union, "v", ["g"]), ["g"]
    ).collect()
    assert (streamed.n, streamed.p50_est, streamed.p90_est, streamed.p99_est) == (
        batch.n, batch.p50_est, batch.p90_est, batch.p99_est
    )
    assert streamed.n == 600


def test_drift_state_batch_split_invariant(spark, tmp_path):
    """Merging the drift histogram in two batches equals the batch
    operator over the union: sum-merge is batch-split invariant, and
    the maintained PSI flags the group whose second half shifted."""
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators import (
        profiling,
    )
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.drift import (
        merge_drift_batch,
        read_psi,
    )

    def ev(day, grp, val, n):
        return [(grp, f"2024-01-{day:02d} 10:00:{i:02d}", float(val)) for i in range(n)]

    # 'shift' moves bins between halves; 'flat' does not
    rows = (ev(1, "shift", 1.0, 30) + ev(9, "shift", 480.0, 30)
            + ev(1, "flat", 100.0, 30) + ev(9, "flat", 100.0, 30))
    df = spark.createDataFrame(rows, ["event_type", "ts", "value"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    [mid] = df.agg(
        ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2)
        .cast("bigint").alias("m")
    ).collect()
    # split on an arbitrary interleaved predicate — NOT the time split —
    # so invariance is tested across a nontrivial batch boundary
    b1 = df.filter(F.second("ts") % 2 == 0)
    b2 = df.filter(F.second("ts") % 2 == 1)
    state = str(tmp_path / "state")
    merge_drift_batch(b1, state, mid.m, 0)
    merge_drift_batch(b2, state, mid.m, 1)
    streamed = {r.event_type: r for r in read_psi(spark, state).collect()}
    batch = {r.event_type: r for r in profiling.psi_drift(df).collect()}
    for g in ("shift", "flat"):
        assert streamed[g].psi == batch[g].psi, g
        assert streamed[g].drifted == batch[g].drifted
    assert streamed["shift"].drifted == 1 and streamed["flat"].drifted == 0


def test_reservoir_state_batch_split_invariant_and_idempotent(spark, tmp_path):
    """min-k merge: two-batch ingest == one-shot batch ES sample, and
    re-merging an already-committed batch changes nothing (idempotent
    under re-delivery)."""
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.sampling import (
        es_topk_sample,
    )
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.reservoir import (
        merge_reservoir_batch,
        read_reservoir,
    )

    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).cast("double").alias("w")
    )
    b1 = df.filter(F.col("doc_id") % 3 != 0)
    b2 = df.filter(F.col("doc_id") % 3 == 0)
    state = str(tmp_path / "state")
    merge_reservoir_batch(b1, state, "w", k=40)
    merge_reservoir_batch(b2, state, "w", k=40)
    got = sorted(r.doc_id for r in read_reservoir(spark, state).collect())
    want = sorted(r.doc_id for r in es_topk_sample(df, "w", k=40).collect())
    assert got == want and len(got) == 40
    # re-deliver b2: state must not change
    merge_reservoir_batch(b2, state, "w", k=40)
    again = sorted(r.doc_id for r in read_reservoir(spark, state).collect())
    assert again == want


def test_hll_week_merge_equals_direct_week_sketch(spark):
    """max-merging daily register frames IS the weekly sketch: the
    derived weekly estimate equals the estimate computed directly on
    the week's raw data."""
    import pyspark.sql.functions as F

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators import (
        sketches,
    )

    rows = [
        (f"2024-01-{d:02d} 10:00:00", uid)
        for d in range(1, 8)
        for uid in range(d * 7)  # overlapping user sets across days
    ]
    df = spark.createDataFrame(rows, ["ts_s", "user_id"]).select(
        F.to_timestamp("ts_s").alias("ts"), "user_id"
    )
    daily = sketches.hll_registers(
        df.select(F.date_trunc("day", "ts").alias("period"), "user_id"),
        "user_id",
        ["period"],
    )
    merged = (
        daily.select(F.date_trunc("week", "period").alias("period"),
                     "bucket", "v_max")
        .groupBy("period", "bucket")
        .agg(F.max("v_max").alias("v_max"))
    )
    direct = sketches.hll_registers(
        df.select(F.date_trunc("week", "ts").alias("period"), "user_id"),
        "user_id",
        ["period"],
    )
    m = {(r.period, r.bucket): r.v_max for r in merged.collect()}
    d = {(r.period, r.bucket): r.v_max for r in direct.collect()}
    assert m == d


def test_sliding_dau_window_merge_tracks_exact(spark, monkeypatch):
    """Day 8's trailing-7 window excludes day 1's users; estimates use
    only in-window registers (the estimate equals the direct sketch of
    the window's union, asserted via the exact count on disjoint sets)."""
    import pyspark.sql.functions as F

    import __spark_entry__ as entrymod

    def patch_load(tables):
        monkeypatch.setattr(
            entrymod, "load", lambda spark, sf, name: tables[name]
        )

    rows = []
    eid = 0
    # day 1: users 0..9; day 8: users 100..104 (disjoint)
    for uid in range(10):
        eid += 1
        rows.append((eid, "2024-01-01 10:00:00", uid, "view", 1.0, "{}"))
    for uid in range(100, 105):
        eid += 1
        rows.append((eid, "2024-01-08 10:00:00", uid, "view", 1.0, "{}"))
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).withColumn("ts", F.to_timestamp("ts"))
    patch_load({"events": ev})
    out = {str(r.day): r.n_exact for r in
           entrymod.queries()["hll_sliding_dau"](spark, "x").collect()}
    # day 1 window = day 1 only; day 8 window = days 2..8 -> only day 8
    assert out["2024-01-01 00:00:00"] == 10
    assert out["2024-01-08 00:00:00"] == 5


def test_state_commit_vacuums_but_replay_still_works(spark, tmp_path):
    """The version-per-batch sinks prune to the newest two versions per
    commit (disk stays O(state), not O(batches)), and a replay of the
    LAST batch — the only one structured streaming can re-run — still
    finds its prior version and produces identical state."""
    import datetime as dt
    import os

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.transitions import (
        merge_transitions_batch,
        read_transitions,
    )

    state = str(tmp_path / "s")
    base = dt.datetime(2024, 1, 1, 10, 0, 0)

    def mkdf(rows):
        return spark.createDataFrame(
            [
                (u, t, base + dt.timedelta(minutes=m), i)
                for i, (u, t, m) in enumerate(rows)
            ],
            ["user_id", "event_type", "ts", "event_id"],
        )

    batches = [
        [(1, "A", 0), (1, "B", 1), (2, "A", 2)],
        [(1, "C", 3), (2, "B", 4)],
        [(2, "C", 5), (1, "A", 6)],
        [(1, "B", 7)],
    ]
    for i, b in enumerate(batches):
        merge_transitions_batch(mkdf(b), state, i)

    versions = sorted(
        d for d in os.listdir(state) if d.startswith("v=")
    )
    assert versions == ["v=2", "v=3"], versions  # pruned to newest two

    before = {
        (r.from_type, r.to_type): (r.n, r.p)
        for r in read_transitions(spark, state).collect()
    }
    # crash-replay the final batch against the vacuumed directory
    merge_transitions_batch(mkdf(batches[-1]), state, len(batches) - 1)
    after = {
        (r.from_type, r.to_type): (r.n, r.p)
        for r in read_transitions(spark, state).collect()
    }
    assert after == before
