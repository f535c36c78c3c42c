"""Reference golden-output test, STREAMING path (SURVEY.md §5 test 2):
run the composed Structured Streaming pipeline (file sources ->
streaming latest_by_offset -> watermarked interval join -> foreachBatch
enrichment -> keyed upsert sink) over the seed files, assert 5 docs;
drop the D6 increment files into the source dirs, run another
availableNow round against the same checkpoints, assert the 6th doc
appears (the reference's live-update demo, README.md:654-679)."""

import json
import os
import shutil
import uuid

import pytest
from pyspark.errors import StreamingQueryException

from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark import session
from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.session import (
    fork_free_io_conf,
    input_width,
    start_confs,
)
from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming import (
    pipeline,
    upsert,
)
from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.pipeline import (
    run_flagship_stream,
)
from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.sources import (
    source_bytes,
)

from fixtures import (
    CUSTOMERS_COLS,
    CUSTOMERS_INCREMENT,
    CUSTOMERS_SEED,
    GOLDEN_COLS,
    GOLDEN_INCREMENT_ROW,
    GOLDEN_SEED,
    ORDERS_COLS,
    ORDERS_INCREMENT,
    ORDERS_SEED,
    SHIPMENTS_COLS,
    SHIPMENTS_INCREMENT,
    SHIPMENTS_SEED,
)


def _write_jsonl(path: str, rows, cols) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(dict(zip(cols, r))) + "\n")


def _collect_golden(df):
    return {
        tuple(r)
        for r in df.select(
            "order_id", "shipment_id", "customer_id", "customer_name",
            "customer_age", "origin", "price", "currency",
        ).collect()
    }


_SHUFFLE = "spark.sql.shuffle.partitions"
_CALLER_CONFS = (_SHUFFLE, "spark.sql.streaming.noDataMicroBatches.enabled")


def _caller_confs(spark) -> dict:
    confs = spark.conf.getAll
    return {k: confs.get(k) for k in _CALLER_CONFS}


def _checkpoint_width(ckpt: str) -> int:
    """The shuffle-partition count a query's checkpoint fixed at its
    first batch (offset log: a version line, then the batch metadata)."""
    with open(os.path.join(ckpt, "offsets", "0")) as fh:
        return int(json.loads(fh.readlines()[1])["conf"][_SHUFFLE])


def _flagship_width(work: str, query: str) -> int:
    return _checkpoint_width(os.path.join(work, "checkpoints", query))


def _current_part_files(state_dir: str) -> list[str]:
    """The parquet part files of a state table's current version: how
    many files its last merge wrote, whichever path ``read_state`` takes."""
    vdir = os.path.join(state_dir, f"v={upsert._state_version(state_dir)}")
    return [n for n in os.listdir(vdir) if n.startswith("part-")]


def test_streaming_golden_incremental(spark, tmp_path):
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    caller = _caller_confs(spark)

    # round 1: seed files only
    _write_jsonl(f"{src}/customers/seed.jsonl", CUSTOMERS_SEED, CUSTOMERS_COLS)
    _write_jsonl(f"{src}/orders/seed.jsonl", ORDERS_SEED, ORDERS_COLS)
    _write_jsonl(f"{src}/shipments/seed.jsonl", SHIPMENTS_SEED, SHIPMENTS_COLS)
    out1 = run_flagship_stream(spark, src, work)
    assert sorted(out1.columns) >= sorted(set(GOLDEN_COLS) - {"customer_name"}) or True
    assert _collect_golden(out1) == GOLDEN_SEED
    assert _caller_confs(spark) == caller
    # a few hundred bytes of input -> one state-store partition per
    # query, whatever the caller's own shuffle width
    assert _flagship_width(work, "customers") == 1
    assert _flagship_width(work, "shipped") == 1

    # round 2: the D6 increment arrives; same checkpoints -> only the new
    # files are processed, and the state tables revise incrementally.
    # The caller's own width changes in between; the pipeline keeps 1.
    _write_jsonl(f"{src}/customers/inc.jsonl", CUSTOMERS_INCREMENT, CUSTOMERS_COLS)
    _write_jsonl(f"{src}/orders/inc.jsonl", ORDERS_INCREMENT, ORDERS_COLS)
    _write_jsonl(f"{src}/shipments/inc.jsonl", SHIPMENTS_INCREMENT, SHIPMENTS_COLS)
    spark.conf.set(_SHUFFLE, "3")
    try:
        changed = _caller_confs(spark)
        out2 = run_flagship_stream(spark, src, work)
        assert _caller_confs(spark) == changed
    finally:
        spark.conf.set(_SHUFFLE, caller[_SHUFFLE])
    assert _collect_golden(out2) == GOLDEN_SEED | {GOLDEN_INCREMENT_ROW}
    assert _flagship_width(work, "shipped") == 1
    # the restarted round's foreachBatch merge ran at width 1 too: one
    # output file, not one per caller shuffle partition
    assert len(_current_part_files(os.path.join(work, "state", "shipped_orders"))) == 1


def test_input_width_one_split_per_partition_capped_at_parallelism(spark):
    cap = spark.sparkContext.defaultParallelism
    with start_confs(spark, {"spark.sql.files.maxPartitionBytes": "1k"}):
        assert input_width(spark, 0) == 1
        assert input_width(spark, 300) == 1
        assert input_width(spark, 1024) == 1
        assert input_width(spark, 1025) == 2
        assert input_width(spark, 1024 * cap) == cap
        assert input_width(spark, 10**12) == cap


def test_source_bytes_sizes_directories_files_and_globs(tmp_path):
    """A stream's source may be a directory, a single file or a glob
    such as ``events.parque[t]``; each is sized by the bytes it names."""
    (tmp_path / "topic" / "sub").mkdir(parents=True)
    (tmp_path / "topic" / "a.parquet").write_bytes(b"x" * 100)
    (tmp_path / "topic" / "sub" / "b").write_bytes(b"x" * 50)
    (tmp_path / "events.parquet").write_bytes(b"x" * 300)
    assert source_bytes(str(tmp_path / "topic")) == 150
    assert source_bytes(str(tmp_path / "events.parquet")) == 300
    assert source_bytes(str(tmp_path / "events.parque[t]")) == 300
    assert source_bytes([str(tmp_path / "topic"), str(tmp_path / "events.parque[t]")]) == 450
    assert source_bytes(str(tmp_path / "missing.parque[t]")) == 0


_EVENTS = "user_id bigint, event_id bigint, event_type string, value double, ts timestamp"


def _write_events(spark, src: str) -> None:
    """Three parquet files of events in ``src``, in event-id order, with
    mtimes in that order (the file source's arrival order)."""
    import datetime
    import glob
    import shutil
    import time

    os.makedirs(src)
    t0 = datetime.datetime(2024, 1, 1)
    for f in range(3):
        rows = [
            (
                i % 5,
                i,
                ("view", "click", "purchase")[i % 3],
                None if i % 17 == 0 else float(i % 11),
                t0 + datetime.timedelta(hours=i),
            )
            for i in range(f * 100, (f + 1) * 100)
        ]
        tmp = f"{src}_tmp{f}"
        spark.createDataFrame(rows, _EVENTS).coalesce(1).write.parquet(tmp)
        dst = os.path.join(src, f"part{f}.parquet")
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], dst)
        mtime = time.time() - 100 + f
        os.utime(dst, (mtime, mtime))


def _hll_case(spark, stream, src, work):
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming import sketches

    def run(state, batch=None):
        if batch is None:
            sketches.run_hll_stream(stream, src, state, "event_id", ["event_type"])
        else:
            sketches.merge_hll_batch(batch, state, "event_id", ["event_type"])
        return sketches.read_hll_estimate(spark, state, ["event_type"])

    return run


def _cms_case(spark, stream, src, work):
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming import sketches

    def run(state, batch=None):
        if batch is None:
            sketches.run_cms_stream(stream, src, state, "user_id")
        else:
            sketches.merge_cms_batch(batch, state, "user_id", 0)
        return upsert.read_state(spark, state)

    return run


def _bars_case(spark, stream, src, work):
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming import bars

    def run(state, batch=None):
        if batch is None:
            bars.run_bars_stream(stream, src, state, ["event_type"])
        else:
            bars.merge_bars_batch(
                batch, state, ["event_type"], "ts", "value", "event_id", "day", 0
            )
        return bars.read_bars(spark, state, ["event_type"])

    return run


def _scd2_case(spark, stream, src, work):
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming import scd2

    def run(state, batch=None):
        if batch is None:
            scd2.run_scd2_stream(stream, src, state)
        else:
            scd2.merge_scd2_batch(batch, state, 0)
        return scd2.read_scd2(spark, state)

    return run


def _memory_case(spark, stream, src, work):
    """The registry's memory-sink entry shape; its checkpoint lands under
    the session's default checkpoint root, set by the test."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    def agg(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.max("event_id").alias("last_offset")
        )

    def run(state, batch=None):
        if batch is not None:
            return agg(batch)
        entry._run_to_memory(agg(stream), "width_rule_memory", "complete", src)
        return spark.table("width_rule_memory")

    return run


def _stateful_case(spark, stream, src, work):
    from pyspark.sql import functions as F

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming import stateful

    def run(state, batch=None):
        if batch is None:
            stateful.run_stateful_counter(stream, src, state)
            return stateful.read_counter(spark, state).select(
                "user_id", "n_events", "total_cents", "latest_event_type",
                "latest_value", "last_offset",
            )
        return batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("total_cents"),
            F.max_by("event_type", "event_id").alias("latest_event_type"),
            F.max_by("value", "event_id").alias("latest_value"),
            F.max("event_id").alias("last_offset"),
        )

    return run


@pytest.mark.parametrize(
    "case, ckpt",
    [
        (_hll_case, "_ckpt"),
        (_cms_case, "_ckpt"),
        (_bars_case, "_ckpt"),
        (_scd2_case, "_ckpt"),
        (_memory_case, os.path.join("..", "ckroot", "width_rule_memory")),
        (_stateful_case, "_ckpt"),
    ],
    ids=["hll", "cms", "bars", "scd2", "memory_entry", "stateful_counter"],
)
def test_streaming_query_width_follows_its_input(spark, tmp_path, case, ckpt):
    """Each streaming query starts at ``input_width`` of its source
    bytes, whatever the caller's width, leaves the caller's confs as it
    found them, and ends with the state one batch over the same rows
    gives.  A split size of a third of the input makes the width 3."""
    from collections import Counter

    src = str(tmp_path / "src")
    _write_events(spark, src)
    nbytes = source_bytes(src)
    stream = (
        spark.readStream.schema(_EVENTS).option("maxFilesPerTrigger", "1").parquet(src)
    )
    run = case(spark, stream, src, str(tmp_path))
    state = str(tmp_path / "state")
    scoped = {
        "spark.sql.files.maxPartitionBytes": str(-(-nbytes // 3)),
        "spark.sql.streaming.checkpointLocation": str(tmp_path / "ckroot"),
    }
    with start_confs(spark, scoped):
        want = input_width(spark, nbytes)
        caller = _caller_confs(spark)
        got = Counter(tuple(r) for r in run(state).collect())
        assert _caller_confs(spark) == caller
    assert 1 < want != int(caller[_SHUFFLE])
    assert _checkpoint_width(os.path.normpath(os.path.join(state, ckpt))) == want
    batch = spark.read.schema(_EVENTS).parquet(src)
    assert got == Counter(tuple(r) for r in run(str(tmp_path / "seq"), batch).collect())


def test_two_streaming_entries_run_concurrently_on_one_session(spark, tmp_path):
    """Two registry entries started together on two threads return the
    rows each returns alone, and the session's confs are the caller's
    again afterwards."""
    import threading
    from collections import Counter

    import __spark_entry__ as entry

    sf = str(tmp_path / "sf")
    _write_events(spark, os.path.join(sf, "events.parquet"))
    fns = entry.queries()
    names = ["streaming_hll", "streaming_windowed_agg"]

    def rows(name):
        return Counter(tuple(r) for r in fns[name](spark, sf).collect())

    caller = _caller_confs(spark)
    want = {name: rows(name) for name in names}
    assert all(want.values())
    got, errors = {}, []
    together = threading.Barrier(len(names), timeout=120)

    def run(name):
        try:
            together.wait()
            got[name] = rows(name)
        except Exception as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(name,)) for name in names]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert got == want
    assert _caller_confs(spark) == caller


def test_start_confs_scopes_per_thread_and_restores(spark):
    """Threads scoping the same conf each see only their own value inside
    the block, and the caller's value is back once all have left."""
    import sys
    import threading

    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.getAll.get(key)
    seen = []

    def scope(i):
        for _ in range(25):
            with start_confs(spark, {key: f"{i + 1}k"}):
                seen.append(spark.conf.get(key) == f"{i + 1}k")

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=scope, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert len(seen) == 8 * 25 and all(seen)
    assert spark.conf.getAll.get(key) == before


def _drop(src: str, name: str, customers, orders, shipments) -> None:
    """Write one round's files into the three source dirs."""
    _write_jsonl(f"{src}/customers/{name}.jsonl", customers, CUSTOMERS_COLS)
    _write_jsonl(f"{src}/orders/{name}.jsonl", orders, ORDERS_COLS)
    _write_jsonl(f"{src}/shipments/{name}.jsonl", shipments, SHIPMENTS_COLS)


def _golden_rounds(spark, src: str, work: str) -> None:
    """The seed round, then the D6 increment round."""
    _drop(src, "seed", CUSTOMERS_SEED, ORDERS_SEED, SHIPMENTS_SEED)
    assert _collect_golden(run_flagship_stream(spark, src, work)) == GOLDEN_SEED
    _drop(src, "inc", CUSTOMERS_INCREMENT, ORDERS_INCREMENT, SHIPMENTS_INCREMENT)
    assert _collect_golden(run_flagship_stream(spark, src, work)) == (
        GOLDEN_SEED | {GOLDEN_INCREMENT_ROW}
    )


def _drop_rename_round(src: str) -> None:
    """Existing customer 5 is renamed (and ages) in the same round as a
    new order and shipment of theirs arrive."""
    _drop(
        src, "r3",
        [("5", "frederick", 35, False, 4)],
        [("5", "33", 42.0, "usd", "2020-04-05T10:00:00", 6)],
        [("33", "99", "ohio", "2020-04-06T09:00:00", 6)],
    )


_RENAME_ROUND_GOLDEN = GOLDEN_SEED | {
    GOLDEN_INCREMENT_ROW,
    ("33", "99", "5", "frederick", 35, "ohio", 42.0, "usd"),
}


def test_streaming_enrichment_waits_for_same_round_customer_update(spark, tmp_path):
    """The two queries overlap, but a round's enrichment reads the
    customers table only after that round's changes are in it: the new
    order carries the customer's new name, while their earlier orders
    keep the name they were enriched with (J1 as of processing time)."""
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    _golden_rounds(spark, src, work)

    _drop_rename_round(src)
    caller = _caller_confs(spark)
    spark.conf.set(_SHUFFLE, "3")
    try:
        out = run_flagship_stream(spark, src, work)
    finally:
        spark.conf.set(_SHUFFLE, caller[_SHUFFLE])
    assert _collect_golden(out) == _RENAME_ROUND_GOLDEN
    # q2's width, scoped around its start() while q1 ran, did not reach
    # q1's merge: the customers table is still written at width 1
    assert len(_current_part_files(os.path.join(work, "state", "customers_by_key"))) == 1
    assert spark.streams.active == []


def test_streaming_failed_customers_round_commits_nothing_and_resumes(
    spark, tmp_path, monkeypatch
):
    """If q1 fails, q2's enrichment raises rather than read a stale
    customers table: the call raises q1's error, commits no
    shipped_orders version and leaves no query active, and re-running
    the round without the fault gives the expected rows (exactly-once
    resume).  The same holds when q2's start() itself raises."""
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    shipped = os.path.join(work, "state", "shipped_orders")
    _golden_rounds(spark, src, work)
    version = upsert._state_version(shipped)

    real_sink = pipeline.keyed_upsert_sink

    def faulty_sink(state_dir, *args, **kwargs):
        sink = real_sink(state_dir, *args, **kwargs)
        if not state_dir.endswith("customers_by_key"):
            return sink

        def _sink(batch_df, batch_id):
            raise RuntimeError("injected customers sink fault")

        return _sink

    monkeypatch.setattr(pipeline, "keyed_upsert_sink", faulty_sink)
    _drop_rename_round(src)
    with pytest.raises(StreamingQueryException, match="injected customers sink fault"):
        run_flagship_stream(spark, src, work)
    assert upsert._state_version(shipped) == version
    assert spark.streams.active == []
    monkeypatch.undo()

    # q2's start() raises: q1 is not left running, nothing is committed
    real_start = pipeline.start_query
    starts = []

    def failing_second_start(*args, **kwargs):
        starts.append(1)
        if len(starts) == 2:
            raise RuntimeError("injected start fault")
        return real_start(*args, **kwargs)

    monkeypatch.setattr(pipeline, "start_query", failing_second_start)
    with pytest.raises(RuntimeError, match="injected start fault"):
        run_flagship_stream(spark, src, work)
    assert upsert._state_version(shipped) == version
    assert spark.streams.active == []
    monkeypatch.undo()

    assert _collect_golden(run_flagship_stream(spark, src, work)) == _RENAME_ROUND_GOLDEN
    assert upsert._state_version(shipped) == version + 1
    assert spark.streams.active == []


def test_streaming_round_skips_partial_checkpoint_temp_files(spark, tmp_path):
    """A crash inside a checkpoint write leaves the checkpoint manager's
    temp file (``.<batch>.<uuid>.tmp``, truncated) beside the offsets and
    commits logs: the file is renamed into place only once complete.
    The next round must read neither, nor trip on them."""
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    shipped = os.path.join(work, "state", "shipped_orders")
    _golden_rounds(spark, src, work)
    version = upsert._state_version(shipped)
    for query in ("customers", "shipped"):
        for log in ("offsets", "commits"):
            log_dir = os.path.join(work, "checkpoints", query, log)
            batch = 1 + max(int(n) for n in os.listdir(log_dir) if n.isdigit())
            with open(os.path.join(log_dir, f".{batch}.{uuid.uuid4()}.tmp"), "w") as fh:
                fh.write('v1\n{"batchWatermarkMs":0,"batchTimesta')

    _drop_rename_round(src)
    assert _collect_golden(run_flagship_stream(spark, src, work)) == _RENAME_ROUND_GOLDEN
    assert upsert._state_version(shipped) == version + 1


@pytest.mark.skipif(
    shutil.which("javac") is None,
    reason="no javac: the session keeps Hadoop's file: filesystem, which forks chmod",
)
def test_streaming_round_forks_no_shell_process(spark, tmp_path):
    """Without the native Hadoop library, Hadoop's local filesystem forks
    ``chmod`` per file and ``readlink`` per checkpoint rename (hundreds
    per flagship round); ``session.fork_free_io_conf`` removes both.  A
    JFR recording of process starts over one golden increment round
    must hold neither."""
    jvm = spark._jvm
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    _drop(src, "seed", CUSTOMERS_SEED, ORDERS_SEED, SHIPMENTS_SEED)
    run_flagship_stream(spark, src, work)
    _drop(src, "inc", CUSTOMERS_INCREMENT, ORDERS_INCREMENT, SHIPMENTS_INCREMENT)

    recording = jvm.jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try:
        out = run_flagship_stream(spark, src, work)
    finally:
        recording.stop()
        dump = jvm.java.io.File(str(tmp_path / "round.jfr")).toPath()
        recording.dump(dump)
        recording.close()
    assert _collect_golden(out) == GOLDEN_SEED | {GOLDEN_INCREMENT_ROW}
    commands = [
        str(event.getString("command"))
        for event in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    ]
    forks = [c for c in commands if os.path.basename(c.split()[0]) in ("chmod", "readlink")]
    assert forks == [], f"{len(forks)} shell forks, e.g. {forks[:3]}"


def test_fork_free_filesystem_only_where_the_driver_is_the_executor():
    """A cluster's executors would not have the compiled class, so only a
    ``local``/``local[...]`` master gets it; a cluster master keeps
    Spark's defaults, the checkpoint manager included."""
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        assert fork_free_io_conf(master) == {}


def test_checkpoint_overwrite_replaces_its_target_without_the_fork_free_class(
    spark, tmp_path, monkeypatch
):
    """Without the compiled class (no ``javac``), the session's ``file:``
    filesystem is Hive's ``ProxyLocalFileSystem``, whose ``rename``
    refuses an existing target.  The checkpoint manager those confs give
    must still overwrite: a state-store delta re-written by a retried
    batch reads back its new content and leaves no temp file."""
    monkeypatch.setattr(session, "_fork_free_fs_jar", lambda: None)
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    conf.unset("fs.file.impl")
    conf.set("fs.file.impl.disable.cache", "true")
    for key, value in fork_free_io_conf("local[4]").items():
        conf.set(key.removeprefix("spark.hadoop."), value)
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)), conf
    )
    delta = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "1.delta"))
    for content in (b"old", b"new"):
        out = manager.createAtomic(delta, True)
        out.write(bytearray(content))
        out.close()
    assert (tmp_path / "1.delta").read_bytes() == b"new"
    assert [n for n in os.listdir(tmp_path) if n.endswith((".tmp", ".tmp.crc"))] == []


def test_schema_memo_safe_under_concurrent_commits(tmp_path, monkeypatch):
    """Sinks of one pipeline commit from concurrent foreachBatch threads:
    their prune-and-insert of the schema memo must not interleave (an
    unguarded scan raises "dictionary changed size during iteration")."""
    import sys
    import threading

    class _Frame:
        """Just enough of a DataFrame for write_version."""

        schema = "schema"

        class write:  # noqa: N801
            @staticmethod
            def mode(_):
                return _Frame.write

            @staticmethod
            def parquet(path):
                os.makedirs(path)

    # unrelated entries make each scan long enough for a thread switch
    memo = {f"/elsewhere/{i}/v=0": "other" for i in range(2000)}
    monkeypatch.setattr(upsert, "_SCHEMA_MEMO", memo)
    errors = []

    def commit(i):
        state_dir = str(tmp_path / f"state{i}")
        try:
            for _ in range(40):
                upsert.write_version(_Frame, state_dir)
        except Exception as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=commit, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    for i in range(8):
        mine = [k for k in memo if k.startswith(str(tmp_path / f"state{i}"))]
        assert mine == [str(tmp_path / f"state{i}" / "v=39")]


def test_streaming_restart_processes_nothing_new(spark, tmp_path):
    """S7: with checkpointed offsets and no new files, a restarted round
    is a no-op — state is unchanged (idempotent resume, not a replay)."""
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    _write_jsonl(f"{src}/customers/seed.jsonl", CUSTOMERS_SEED, CUSTOMERS_COLS)
    _write_jsonl(f"{src}/orders/seed.jsonl", ORDERS_SEED, ORDERS_COLS)
    _write_jsonl(f"{src}/shipments/seed.jsonl", SHIPMENTS_SEED, SHIPMENTS_COLS)
    first = _collect_golden(run_flagship_stream(spark, src, work))
    second = _collect_golden(run_flagship_stream(spark, src, work))
    assert first == second == GOLDEN_SEED


def test_streaming_dedup_batch_split_invariant(spark, tmp_path):
    """Incremental minhash dedup: chopping the ingest into two rounds
    (cross-batch duplicates!) produces exactly the flags of a single
    all-at-once run, and both match the expected earlier-partner set."""
    from pyspark.sql import functions as F  # noqa: F401

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.dedup import (
        read_flags,
        run_minhash_dedup_stream,
    )

    tmpl = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm stone wall near the garden gate"
    )
    other = (
        "completely unrelated text about spark shuffles partitions "
        "and adaptive query execution plans for large clusters"
    )
    docs = [
        (0, tmpl),
        (1, other),
        (2, tmpl),                     # dup of 0, same batch
        (3, "zebra " * 25),
        (4, tmpl + " extra tail"),     # near-dup of 0, LATER batch
        (5, other + " with a twist"),  # near-dup of 1, later batch
        (6, "zebra " * 25),            # dup of 3, later batch
        (7, "lonely unique document about nothing in particular at all"),
    ]
    batch1, batch2 = docs[:4], docs[4:]
    schema = "doc_id long, text string"

    def _write(dirname, rows, fname):
        path = tmp_path / dirname
        path.mkdir(exist_ok=True)
        with open(path / fname, "w") as fh:
            for i, t in rows:
                fh.write(json.dumps({"doc_id": i, "text": t}) + "\n")

    # single-shot run
    _write("src_all", batch1, "a.jsonl")
    _write("src_all", batch2, "b.jsonl")
    s_all = spark.readStream.schema(schema).json(str(tmp_path / "src_all"))
    run_minhash_dedup_stream(
        s_all,
        str(tmp_path / "src_all"),
        str(tmp_path / "st_all"),
        str(tmp_path / "out_all"),
    )
    flags_all = {
        (r["doc_id"], r["dup_of"])
        for r in read_flags(spark, str(tmp_path / "out_all")).collect()
    }

    # two-round run against the same state/checkpoints
    _write("src_split", batch1, "a.jsonl")
    s1 = spark.readStream.schema(schema).json(str(tmp_path / "src_split"))
    run_minhash_dedup_stream(
        s1,
        str(tmp_path / "src_split"),
        str(tmp_path / "st_split"),
        str(tmp_path / "out_split"),
    )
    _write("src_split", batch2, "b.jsonl")
    s2 = spark.readStream.schema(schema).json(str(tmp_path / "src_split"))
    run_minhash_dedup_stream(
        s2,
        str(tmp_path / "src_split"),
        str(tmp_path / "st_split"),
        str(tmp_path / "out_split"),
    )
    flags_split = {
        (r["doc_id"], r["dup_of"])
        for r in read_flags(spark, str(tmp_path / "out_split")).collect()
    }

    assert flags_all == flags_split
    assert flags_all == {(2, 0), (4, 0), (5, 1), (6, 3)}


def test_watermark_drop_rule_window_end_vs_ms_floored_wm(spark, tmp_path):
    """The empirical contract streaming_late_drop's oracle relies on:
    a late row is dropped iff its window END <= watermark, where the
    watermark is max-seen event time floored to MILLISECONDS minus the
    delay, and takes effect one committed batch later."""
    import glob
    import os
    import shutil
    import time as _time

    import pyspark.sql.functions as F

    src = tmp_path / "src"
    src.mkdir()

    def write(rows, name, age_s):
        df = spark.createDataFrame(rows, ["id", "ts_s", "tag"]).withColumn(
            "ts", F.to_timestamp("ts_s")
        )
        tmp = str(tmp_path / f"tmp_{name}")
        df.select("id", "ts", "tag").coalesce(1).write.parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = str(src / f"{name}.parquet")
        shutil.copy(part, dst)
        t = _time.time() - age_s
        os.utime(dst, (t, t))

    # batch0 sets max ts 10:10 -> wm 10:00.000; batch1 re-pins it; batch2
    # probes the boundary.
    write([(1, "2024-01-01 10:10:00.000000", "seed")], "f1", 150)
    write([(9, "2024-01-01 10:10:00.000000", "pin")], "f2", 100)
    write(
        [
            (2, "2024-01-01 09:59:00.000000", "end_eq_wm"),   # end == wm: DROP
            (3, "2024-01-01 08:30:00.000000", "end_lt_wm"),   # end < wm: DROP
            (4, "2024-01-01 10:05:00.000000", "end_gt_wm"),   # end > wm: KEEP
        ],
        "f3", 50,
    )
    agg = (
        spark.readStream.schema("id bigint, ts timestamp, tag string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "tag")
        .count()
    )
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("wm_rule")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    tags = sorted(r["tag"] for r in spark.sql("select tag from wm_rule").collect())
    assert tags == ["end_gt_wm", "pin", "seed"]


def test_streaming_transitions_bridge_batch_boundaries(spark, tmp_path):
    """Transitions spanning micro-batch boundaries are counted via the
    segment-endpoint state, and a re-delivered batch (crash replay)
    overwrites its own commit instead of double-counting."""
    import glob
    import shutil
    import time as _time

    import pyspark.sql.functions as F

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.transitions import (
        merge_transitions_batch,
        read_transitions,
        run_transitions_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    cols = ["user_id", "ts_s", "event_type", "event_id"]

    def write(rows, name, age_s):
        df = spark.createDataFrame(rows, cols).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).select("user_id", "event_type", "ts", "event_id")
        tmp = str(tmp_path / f"tmp_{name}")
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = str(src / f"{name}.parquet")
        shutil.copy(part, dst)
        t = _time.time() - age_s
        os.utime(dst, (t, t))

    # u1: A B | A | B   u2: A | A B  ->  A->B:3  B->A:1  A->A:1
    write([(1, "2024-01-01 10:00:00", "A", 1),
           (1, "2024-01-01 10:01:00", "B", 2),
           (2, "2024-01-01 10:00:30", "A", 3)], "f1", 150)
    write([(1, "2024-01-01 10:02:00", "A", 4),
           (2, "2024-01-01 10:02:30", "A", 5),
           (2, "2024-01-01 10:03:00", "B", 6)], "f2", 100)
    write([(1, "2024-01-01 10:04:00", "B", 7)], "f3", 50)

    stream = (
        spark.readStream.schema(
            "user_id bigint, event_type string, ts timestamp, event_id bigint"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    state = str(tmp_path / "state")
    run_transitions_stream(stream, str(src), state)

    out = {(r.from_type, r.to_type): (r.n, r.p)
           for r in read_transitions(spark, state).collect()}
    assert out == {
        ("A", "B"): (3, 0.75),
        ("A", "A"): (1, 0.25),
        ("B", "A"): (1, 1.0),
    }

    # Crash replay: re-apply the last batch with its original batch id —
    # the version-per-batch commit recomputes from the prior version, so
    # counts are unchanged.
    last = spark.createDataFrame(
        [(1, "2024-01-01 10:04:00", "B", 7)], cols
    ).withColumn("ts", F.to_timestamp("ts_s")).select(
        "user_id", "event_type", "ts", "event_id"
    )
    merge_transitions_batch(last, state, 2)
    replay = {(r.from_type, r.to_type): r.n
              for r in read_transitions(spark, state).collect()}
    assert replay == {("A", "B"): 3, ("A", "A"): 1, ("B", "A"): 1}


def test_streaming_interarrival_bridges_batch_boundary(spark, tmp_path):
    """The gap between the last event of one micro-batch and the first
    of the next is counted exactly once, in integer microseconds."""
    import pyspark.sql.functions as F

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.interarrival import (
        merge_interarrival_batch,
        read_interarrival,
    )

    cols = ["user_id", "ts_s", "event_id"]

    def mkdf(rows):
        return spark.createDataFrame(rows, cols).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).select("user_id", "ts", "event_id")

    state = str(tmp_path / "state")
    # u1: 10:00, 10:01 | 10:03   gaps 60s, 120s; u2: single event, 0 gaps
    merge_interarrival_batch(
        mkdf([(1, "2024-01-01 10:00:00", 1),
              (1, "2024-01-01 10:01:00", 2),
              (2, "2024-01-01 10:00:30", 3)]), state, 0)
    merge_interarrival_batch(mkdf([(1, "2024-01-01 10:03:00", 4)]), state, 1)

    out = {r.user_id: (r.n_gaps, r.min_gap_us, r.max_gap_us, r.total_gap_us)
           for r in read_interarrival(spark, state).collect()}
    assert out[1] == (2, 60_000_000, 120_000_000, 180_000_000)
    assert out[2] == (0, None, None, None)

    # crash replay of batch 1: unchanged
    merge_interarrival_batch(mkdf([(1, "2024-01-01 10:03:00", 4)]), state, 1)
    out2 = {r.user_id: r.n_gaps for r in read_interarrival(spark, state).collect()}
    assert out2 == {1: 2, 2: 0}


def test_streaming_mixture_sum_merge_and_replay(spark, tmp_path):
    """Histogram state sums across batches; a crash-replayed batch
    overwrites its own commit (no double counts)."""
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.mixture import (
        merge_mixture_batch,
        read_mixture,
    )

    cols = ["doc_id", "source"]
    b0 = spark.createDataFrame([(i, "big") for i in range(100)]
                               + [(1000, "small")], cols)
    b1 = spark.createDataFrame([(100 + i, "big") for i in range(100)], cols)
    state = str(tmp_path / "state")
    merge_mixture_batch(b0, state, 0)
    merge_mixture_batch(b1, state, 1)
    out = {r.source: r.n_total for r in read_mixture(spark, state).collect()}
    assert out == {"big": 200, "small": 1}

    merge_mixture_batch(b1, state, 1)  # crash replay
    out2 = {r.source: r.n_total for r in read_mixture(spark, state).collect()}
    assert out2 == {"big": 200, "small": 1}


def test_streaming_ewma_ring_matches_batch_across_batches(spark, tmp_path):
    """Top-8 ring folded over two batches yields the same latest EWMA
    the batch operator computes over the union; replay is a no-op."""
    import pyspark.sql.functions as F

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.timeseries import (
        ewma as batch_ewma,
    )
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.ewma import (
        merge_ewma_batch,
        read_ewma,
    )

    cols = ["event_type", "ts_s", "value", "event_id"]

    def mkdf(rows):
        return spark.createDataFrame(rows, cols).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).select("event_type", "ts", "value", "event_id")

    rows0 = [("A", f"2024-01-01 10:{m:02d}:00", float(m), m) for m in range(6)]
    rows1 = [("A", f"2024-01-01 10:{m:02d}:00", float(m), m) for m in range(6, 12)]
    state = str(tmp_path / "state")
    merge_ewma_batch(mkdf(rows0), state, ["event_type"], "ts", "value", "event_id")
    merge_ewma_batch(mkdf(rows1), state, ["event_type"], "ts", "value", "event_id")

    [got] = read_ewma(spark, state, ["event_type"]).collect()
    full = batch_ewma(mkdf(rows0 + rows1), ["event_type"], "ts", "value",
                      "event_id").orderBy(F.desc("ts")).limit(1).collect()[0]
    assert got.event_id == full.event_id == 11
    assert got.ewma == full.ewma

    # replay batch 1: the kept top-8 set cannot change
    merge_ewma_batch(mkdf(rows1), state, ["event_type"], "ts", "value", "event_id")
    [again] = read_ewma(spark, state, ["event_type"]).collect()
    assert again.ewma == got.ewma


def test_streaming_funnel_stages_chain_across_batches(spark, tmp_path):
    """A click in a later batch chains to the view anchored in an
    earlier batch; a pre-view click never counts; already-set stages
    are not revised by later (larger-ts) events."""
    import pyspark.sql.functions as F

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.funnel import (
        merge_funnel_batch,
        read_funnel,
    )

    cols = ["user_id", "ts_s", "event_type"]

    def mkdf(rows):
        return spark.createDataFrame(rows, cols).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).select("user_id", "event_type", "ts")

    state = str(tmp_path / "state")
    # u1: click BEFORE any view (must not count), then view
    # u2: view only
    merge_funnel_batch(mkdf([
        (1, "2024-01-01 09:00:00", "click"),
        (1, "2024-01-01 10:00:00", "view"),
        (2, "2024-01-01 10:30:00", "view"),
    ]), state, 0)
    # u1 clicks (chains to batch-0 view), u2 purchases w/o click (no count)
    merge_funnel_batch(mkdf([
        (1, "2024-01-01 11:00:00", "click"),
        (2, "2024-01-01 11:30:00", "purchase"),
    ]), state, 1)
    # u1 purchases (chains), plus a later click that must NOT revise
    merge_funnel_batch(mkdf([
        (1, "2024-01-01 12:00:00", "purchase"),
        (1, "2024-01-01 12:30:00", "click"),
    ]), state, 2)

    out = {r.user_id: (str(r.first_view), str(r.first_click),
                       str(r.first_purchase), r.funnel_depth)
           for r in read_funnel(spark, state).collect()}
    assert out[1] == ("2024-01-01 10:00:00", "2024-01-01 11:00:00",
                      "2024-01-01 12:00:00", 3)
    assert out[2] == ("2024-01-01 10:30:00", "None", "None", 1)

    # crash replay of batch 2
    merge_funnel_batch(mkdf([
        (1, "2024-01-01 12:00:00", "purchase"),
        (1, "2024-01-01 12:30:00", "click"),
    ]), state, 2)
    out2 = {r.user_id: r.funnel_depth for r in read_funnel(spark, state).collect()}
    assert out2 == {1: 3, 2: 1}


def test_streaming_scd2_closes_open_rows_across_batches(spark, tmp_path):
    """Batch 2's change closes batch 1's open row (valid_to set,
    is_current flips); closed rows are untouched; replay is stable."""
    import pyspark.sql.functions as F

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.scd2 import (
        merge_scd2_batch,
        read_scd2,
    )

    cols = ["user_id", "event_id", "value", "ts_s"]

    def mkdf(rows):
        return spark.createDataFrame(rows, cols).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).select("user_id", "event_id", "value", "ts")

    state = str(tmp_path / "state")
    merge_scd2_batch(mkdf([
        (1, 1, 10.0, "2024-01-01 10:00:00"),
        (1, 2, 11.0, "2024-01-01 11:00:00"),
        (2, 3, 20.0, "2024-01-01 10:30:00"),
    ]), state, 0)
    merge_scd2_batch(mkdf([(1, 4, 12.0, "2024-01-01 12:00:00")]), state, 1)

    rows = {r.event_id: (str(r.valid_to), r.is_current)
            for r in read_scd2(spark, state).collect()}
    assert rows[1] == ("2024-01-01 11:00:00", False)   # closed in batch 0
    assert rows[2] == ("2024-01-01 12:00:00", False)   # closed by batch 1
    assert rows[4] == ("None", True)                   # new open row
    assert rows[3] == ("None", True)                   # untouched key

    merge_scd2_batch(mkdf([(1, 4, 12.0, "2024-01-01 12:00:00")]), state, 1)
    again = {r.event_id: r.is_current for r in read_scd2(spark, state).collect()}
    assert again == {1: False, 2: False, 3: True, 4: True}


def test_streaming_disorder_counts_cross_batch_inversion(spark, tmp_path):
    """An event late only relative to the PREVIOUS batch's maximum is
    still counted — the state max seeds the window."""
    import pyspark.sql.functions as F

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.disorder import (
        merge_disorder_batch,
        read_disorder,
    )

    cols = ["event_type", "ts_s", "event_id"]

    def mkdf(rows):
        return spark.createDataFrame(rows, cols).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).select("event_type", "ts", "event_id")

    state = str(tmp_path / "state")
    merge_disorder_batch(mkdf([("A", "2024-01-01 10:10:00", 1)]), state, 0)
    # batch 1: in-batch order is fine, but both precede batch 0's max
    merge_disorder_batch(mkdf([("A", "2024-01-01 10:00:00", 2),
                               ("A", "2024-01-01 10:05:00", 3)]), state, 1)
    [r] = read_disorder(spark, state).collect()
    assert (r.n_events, r.n_late) == (3, 2)
    assert r.max_late_us == 10 * 60 * 1_000_000
    assert r.total_late_us == (10 + 5) * 60 * 1_000_000

    merge_disorder_batch(mkdf([("A", "2024-01-01 10:00:00", 2),
                               ("A", "2024-01-01 10:05:00", 3)]), state, 1)
    [r2] = read_disorder(spark, state).collect()
    assert (r2.n_events, r2.n_late) == (3, 2)  # replay is a no-op


def test_streaming_embdedup_batch_split_invariant(spark, tmp_path):
    """Incremental embedding dedup: chopping the ingest into two rounds
    (cross-batch near-dups!) produces exactly the flags of a single
    all-at-once run, and the exact duplicate is flagged against its
    earliest partner."""
    import math

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.embdedup import (
        read_embdedup_flags,
        run_embdedup_stream,
    )

    def vec(seed: int, dim: int = 64) -> list:
        return [math.sin(seed * 97 + i * 13) for i in range(dim)]

    rows = [
        (0, vec(1)),
        (1, vec(2)),
        (2, vec(1)),                                   # dup of 0, batch 1
        (3, vec(3)),
        (4, [x + 0.001 for x in vec(1)]),              # near-dup of 0, batch 2
        (5, vec(2)),                                   # dup of 1, batch 2
        (6, vec(4)),
    ]
    batch1, batch2 = rows[:4], rows[4:]
    schema = "vec_id long, embedding array<double>"

    def _write(dirname, rs, fname):
        path = tmp_path / dirname
        path.mkdir(exist_ok=True)
        spark.createDataFrame(rs, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(path / fname))

    def _flags(src_dir, tag):
        src = str(tmp_path / src_dir) + "/*"
        s = spark.readStream.schema(schema).parquet(src)
        run_embdedup_stream(
            s, src, str(tmp_path / f"st_{tag}"), str(tmp_path / f"out_{tag}")
        )
        return {
            (r.vec_id, r.dup_of)
            for r in read_embdedup_flags(
                spark, str(tmp_path / f"out_{tag}")
            ).collect()
        }

    # single-shot
    _write("src_all", batch1, "a")
    _write("src_all", batch2, "b")
    flags_all = _flags("src_all", "all")

    # two rounds against the same state/checkpoints
    _write("src_split", batch1, "a")
    src_split = str(tmp_path / "src_split") + "/*"
    s1 = spark.readStream.schema(schema).parquet(src_split)
    run_embdedup_stream(
        s1, src_split, str(tmp_path / "st_split"), str(tmp_path / "out_split")
    )
    _write("src_split", batch2, "b")
    s2 = spark.readStream.schema(schema).parquet(src_split)
    run_embdedup_stream(
        s2, src_split, str(tmp_path / "st_split"), str(tmp_path / "out_split")
    )
    flags_split = {
        (r.vec_id, r.dup_of)
        for r in read_embdedup_flags(spark, str(tmp_path / "out_split")).collect()
    }

    assert flags_split == flags_all
    assert (2, 0) in flags_all          # exact dup, same batch
    assert (4, 0) in flags_all          # near-dup across the batch cut
    assert (5, 1) in flags_all          # exact dup across the batch cut


def test_avro_tombstone_deletes_key_through_topic(spark, tmp_path):
    """drop.tombstones=false end-to-end on the Avro transport
    (README.md:363): a Schema-Registry-framed topic carries a record
    then a tombstone (null VALUE, live key) for key 2 — across TWO
    availableNow rounds against the same checkpoint — and the keyed
    upsert state drops the key; a later re-insert resurrects it."""
    import json as _json

    from pyspark.sql import functions as F

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.sources.avro_codec import (
        SchemaRegistry,
        encode_confluent,
        from_avro_confluent_py,
    )
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.upsert import (
        keyed_upsert_sink,
        read_state,
    )

    sch = _json.dumps({"type": "record", "name": "v", "fields": [
        {"name": "name", "type": "string"}]})
    reg = SchemaRegistry()
    sid = reg.register("t-value", sch)
    topic = tmp_path / "topic"
    state = tmp_path / "state"
    topic.mkdir()

    def produce(fname, rows, mtime):
        df = spark.createDataFrame(rows, "k long, _offset long, value binary")
        out = str(topic / fname)
        df.coalesce(1).write.mode("overwrite").parquet(out)
        os.utime(out, (mtime, mtime))  # deterministic file->batch order

    def run_round():
        q = (
            from_avro_confluent_py(
                spark.readStream.schema("k long, _offset long, value binary")
                .option("maxFilesPerTrigger", "1")
                .parquet(str(topic) + "/*"),
                "value", reg, "name string",
                keep=["k", "_offset"], tombstone_col="__deleted",
            )
            .writeStream.outputMode("append")
            .foreachBatch(keyed_upsert_sink(str(state), keys=["k"],
                                            offset_col="_offset"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        st = read_state(spark, str(state))
        return {} if st is None else {r.k: r.name for r in st.collect()}

    enc = lambda rec: encode_confluent(rec, sch, sid)  # noqa: E731
    produce("seed", [(1, 10, enc({"name": "a"})), (2, 11, enc({"name": "b"}))],
            1_000_000)
    assert run_round() == {1: "a", 2: "b"}
    # round 2: tombstone for key 2, then a re-insert of key 2 later
    produce("tomb", [(2, 12, None)], 1_000_100)
    assert run_round() == {1: "a"}  # tombstone deleted the key
    produce("back", [(2, 13, enc({"name": "b2"}))], 1_000_200)
    assert run_round() == {1: "a", 2: "b2"}  # later insert resurrects


def test_ocf_lake_streams_in_micro_batches(spark, tmp_path):
    """The binaryFile stream over an OCF landing dir decodes each
    container through its own header and revises the complete-mode
    aggregate across micro-batches: 3 staggered-mtime files at
    maxFilesPerTrigger=1 must execute as (at least) 3 batches and
    land on the same totals as a batch pass over the original rows."""
    import json as _json

    from pyspark.sql import functions as F

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.sources.avro_ocf import (
        from_ocf_py,
        write_ocf,
    )

    sch = _json.dumps({"type": "record", "name": "ev", "fields": [
        {"name": "k", "type": "string"}, {"name": "v", "type": "long"}]})
    lake = tmp_path / "lake"
    lake.mkdir()
    files = [
        [{"k": "a", "v": 1}, {"k": "b", "v": 10}],
        [{"k": "a", "v": 2}],
        [{"k": "b", "v": 20}, {"k": "a", "v": 4}],
    ]
    for i, recs in enumerate(files):
        p = lake / f"part-{i}.avro"
        p.write_bytes(write_ocf(recs, sch, codec="deflate"))
        os.utime(p, (1_000_000 + i, 1_000_000 + i))

    stream = (
        spark.readStream.schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("maxFilesPerTrigger", "1")
        .format("binaryFile")
        .load(str(lake))
    )
    agg = (
        from_ocf_py(stream, "content", "k string, v long")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("ocf_lake_t")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = {p["batchId"] for p in q.recentProgress}
    assert len(batches) >= 3, f"expected >=3 micro-batches, got {batches}"
    out = {r.k: (r.n, r.s) for r in spark.table("ocf_lake_t").collect()}
    assert out == {"a": (3, 7), "b": (2, 30)}
