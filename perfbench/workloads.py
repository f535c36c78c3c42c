"""The two workloads.  Each drives the engine only through its public
functions and fills in the run's raw samples; ``run.py`` turns them into
metrics.

- ``cdc_bigstate``: ``sources.cdc.cdc_envelope_stream`` ->
  ``operators.cdc.unwrap_rewrite`` -> ``foreachBatch(streaming.upsert.
  keyed_upsert_sink)`` as one continuous query over a 100k-key state,
  fed open loop by the generator process, with point lookups through
  ``streaming.upsert.read_state`` after each commit.
- ``flagship_rounds``: ``streaming.pipeline.run_flagship_stream`` called
  once per round, closed loop, one caller.

Both set up ``SETUP_REPS`` times in a run, each time in a fresh Spark
session and fresh dirs, and measure on the last set-up; ``setup_s`` is
the median of the repetitions.
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import statistics
import subprocess
import sys
import threading
import time

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.cdc import (
    unwrap_rewrite,
)
from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.sources.cdc import (
    cdc_envelope_stream,
)
from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming import upsert
from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.pipeline import (
    run_flagship_stream,
)

from gen import (
    CdcLoad,
    CdcModel,
    CdcShape,
    FlagshipLoad,
    FlagshipShape,
    CUSTOMERS_COLS,
    ORDERS_COLS,
    SHIPMENTS_COLS,
    SHIPPED_COLS,
    cdc_snapshot,
    tail_name,
    write_jsonl_atomic,
    write_parquet_atomic,
)
from statefs import read_pointer
from tracing import CHECK_GROUP, PULL_GROUP

HERE = os.path.dirname(os.path.abspath(__file__))

# Set-ups per run.  The first launches the JVM and runs every path cold;
# the later ones start a new Spark session in the same JVM.  The median
# is the slower of the two warm ones.
SETUP_REPS = 3
# Closed-loop commits at the end of each set-up, and after the last
# set-up before timing: the first commits of a JVM run slow while the JIT
# compiles the commit path, so untimed ones keep that out of the samples.
CDC_WARM_FILES = 1
CDC_WARM_AFTER_SETUP = 2
# Fixed landing interval: about 2x the commit's service time (0.8-1.0 s
# at the seed commit on a 4-core host), so a host slowdown of up to a
# half, lookups included, builds no backlog.
CDC_INTERVAL_S = 2.0
# Lookups start once the micro-batch that made a commit has finished,
# or this long after the commit, so they time reads, not the batch's
# offset commit running beside them.
CDC_PULL_SETTLE_S = 0.5
# Timed rounds per run = seconds / this.  A fixed count keeps the state,
# and so disk_mb, the same in every run of a given length.  One round at
# the seed commit takes about 5 s, lookups included.
FLAGSHIP_ROUND_S = 4.5
CDC_PULLS_PER_COMMIT = 3
FLAGSHIP_PULLS_PER_ROUND = 6
# A commit that never becomes visible, or a round that fails, enters the
# latency samples at this value, so a failing run never reads as fast.
COMMIT_TIMEOUT_S = 45.0

CDC_STATE_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("name", StringType()),
        StructField("score", LongType()),
    ]
)


class Run:
    """What one run collected: samples, operation counts and timings."""

    def __init__(self):
        self.commit_ms: list[float] = []
        self.pull_ms: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.timing: dict[str, float] = {}
        self.window = (0.0, 0.0)
        self.units: list[tuple[float, float]] = []
        self.rounds: list[tuple[float, float]] | None = None
        self.state_dir = ""
        self.disk_dirs: list[str] = []
        self.info: dict = {}

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what and len(self.errors) < 20:
                self.errors.append(what)

    @contextlib.contextmanager
    def guarded(self, what: str):
        """Count an exception in the block as a failed operation."""
        try:
            yield
        except Exception as e:  # noqa: BLE001 - a failure is a counted result
            self.op(False, f"{what}: {type(e).__name__}: {e}")


def _set_up(ctx, run: Run, one):
    """Run the workload's set-up ``SETUP_REPS`` times and return the last
    one's rig; earlier rigs are closed.  The first repetition counts from
    process start; each later one from the end of the one before."""
    times = []
    t = ctx.since_start()
    rig = None
    for i in range(SETUP_REPS):
        if rig is not None:
            rig.close()
        rig = one(os.path.join(ctx.work, f"setup{i}"))
        now = ctx.since_start()
        times.append(now - t)
        t = now
    run.timing["setup_s"] = statistics.median(times)
    run.info["setup_reps_s"] = [round(x, 3) for x in times]
    ctx.stamp("setup")
    ctx.attach_tracer()
    return rig


class PointerWatch(threading.Thread):
    """Records when each state version became visible."""

    def __init__(self, state_dir: str, poll_s: float = 0.01):
        super().__init__(daemon=True)
        self.state_dir = state_dir
        self.poll_s = poll_s
        self.visible: dict[int, float] = {}
        self._cv = threading.Condition()
        self._halt = threading.Event()

    def run(self) -> None:
        last = -1
        while not self._halt.is_set():
            ptr = read_pointer(self.state_dir)
            if ptr is not None and ptr.version > last:
                with self._cv:
                    for v in range(last + 1, ptr.version + 1):
                        self.visible.setdefault(v, ptr.visible_at)
                    last = ptr.version
                    self._cv.notify_all()
            self._halt.wait(self.poll_s)

    def wait_for(self, version: int, deadline: float, query=None) -> float | None:
        with self._cv:
            while version not in self.visible:
                left = deadline - time.time()
                if left <= 0 or (query is not None and not query.isActive):
                    return None
                self._cv.wait(min(left, 0.05))
            return self.visible[version]

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


def _pull(ctx, state_dir: str, key_col: str, key):
    """One point lookup: resolve the state table, filter one key, collect.
    Returns (rows, version before, version after, seconds)."""
    spark = ctx.spark
    vb = read_pointer(state_dir)
    span = ctx.tracer.span("read_state") if ctx.tracer else contextlib.nullcontext()
    t0 = time.perf_counter()
    with span:
        df = upsert.read_state(spark, state_dir)
    rows = df.filter(F.col(key_col) == key).collect()
    dt = time.perf_counter() - t0
    va = read_pointer(state_dir)
    return rows, vb.version if vb else -1, va.version if va else -1, dt


def _read_all(spark, state_dir: str):
    """The whole state table, for the output checks."""
    spark.sparkContext.setJobGroup(CHECK_GROUP, "state check")
    try:
        return upsert.read_state(spark, state_dir).toArrow()
    finally:
        spark.sparkContext.setJobGroup(PULL_GROUP, "point lookups")


def _proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _cpu_now(jvm_pid: int) -> float:
    t = os.times()
    return _proc_cpu_s(jvm_pid) + t.user + t.system


# --------------------------------------------------------------------------
# cdc_bigstate
# --------------------------------------------------------------------------


class _CdcRig:
    """One set-up of cdc_bigstate: its dirs, model, query and watcher."""

    def __init__(self, root: str):
        self.src = os.path.join(root, "src")
        self.stage = os.path.join(root, "stage")
        self.state = os.path.join(root, "state")
        self.ckpt = os.path.join(root, "checkpoint")
        for d in (self.src, self.stage):
            os.makedirs(d)
        self.query = None
        self.watch = None
        self.model = None

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
        if self.watch is not None:
            self.watch.stop()


def cdc_bigstate(ctx, run: Run) -> None:
    shape = CdcShape()
    load = CdcLoad(ctx.seed, shape)
    rng = np.random.default_rng([ctx.seed, 9])
    run.info["shape"] = shape.describe()
    run.info["loop"] = {
        "kind": "open",
        "interval_s": CDC_INTERVAL_S,
        "setup_reps": SETUP_REPS,
        "warm_files_per_setup": CDC_WARM_FILES,
        "warm_files_after_setup": CDC_WARM_AFTER_SETUP,
        "pulls_per_commit": CDC_PULLS_PER_COMMIT,
        "trigger": "default (next batch as soon as the previous ends)",
        "max_files_per_trigger": 1,
    }
    gen_s = []

    def one_setup(root: str) -> _CdcRig:
        spark = ctx.start_session()
        rig = _CdcRig(root)
        t = time.perf_counter()
        snap = cdc_snapshot(ctx.seed, shape)
        rig.model = CdcModel(snap)
        write_parquet_atomic(snap, os.path.join(rig.src, "snapshot.parquet"), rig.stage)
        gen_s.append(time.perf_counter() - t)
        flat = unwrap_rewrite(
            cdc_envelope_stream(
                spark, rig.src, CDC_STATE_SCHEMA, fmt="parquet", max_files_per_trigger=1
            ),
            keep=("_offset",),
        )
        sink = upsert.keyed_upsert_sink(rig.state, keys=["id"], offset_col="_offset")
        rig.query = (
            flat.writeStream.foreachBatch(sink).option("checkpointLocation", rig.ckpt).start()
        )
        rig.watch = PointerWatch(rig.state)
        rig.watch.start()
        ok = rig.watch.wait_for(0, time.time() + 120, rig.query) is not None
        run.op(ok, "snapshot commit")
        spark.sparkContext.setJobGroup(PULL_GROUP, "point lookups")
        for i in range(CDC_WARM_FILES):
            warm_commit(rig, i)
        return rig

    def warm_commit(rig: _CdcRig, i: int) -> None:
        """Land file i closed loop, wait for its commit, look up, untimed."""
        tbl = load.tail_file(i)
        touched = rig.model.apply(tbl)
        write_parquet_atomic(tbl, os.path.join(rig.src, tail_name(i)), rig.stage)
        ok = rig.watch.wait_for(i + 1, time.time() + COMMIT_TIMEOUT_S, rig.query)
        run.op(ok is not None, f"warm commit {i}")
        _cdc_pulls(ctx, rig, touched, rng, run, shape, timed=False)

    rig = _set_up(ctx, run, one_setup)
    run.timing["gen.snapshot_s"] = statistics.median(gen_s)
    run.state_dir = rig.state
    run.disk_dirs = [rig.state, rig.ckpt]
    for i in range(CDC_WARM_FILES, CDC_WARM_FILES + CDC_WARM_AFTER_SETUP):
        warm_commit(rig, i)
    n_meas = max(1, int(ctx.seconds / CDC_INTERVAL_S))
    first = CDC_WARM_FILES + CDC_WARM_AFTER_SETUP  # file i commits version i + 1
    gen_proc = None
    try:
        gen_proc = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "gen.py"), "land",
                "--seed", str(ctx.seed), "--src", rig.src, "--stage", rig.stage,
                "--first", str(first), "--count", str(n_meas),
                "--interval", str(CDC_INTERVAL_S),
            ],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        touched_by_file = [rig.model.apply(load.tail_file(first + k)) for k in range(n_meas)]
        if gen_proc.stdout.readline().strip() != "ready":
            raise RuntimeError("load generator failed to stage its files")

        cpu0 = _cpu_now(ctx.jvm_pid)
        t0 = time.time() + 0.05
        gen_proc.stdin.write(f"{t0!r}\n")
        gen_proc.stdin.flush()
        visible = {}
        for k in range(n_meas):
            due = t0 + k * CDC_INTERVAL_S
            seen = rig.watch.wait_for(first + k + 1, due + COMMIT_TIMEOUT_S, rig.query)
            run.op(seen is not None, f"commit of file {first + k}")
            if seen is None:
                run.commit_ms.append(COMMIT_TIMEOUT_S * 1000.0)
                break
            visible[k] = seen
            run.commit_ms.append((seen - due) * 1000.0)
            run.units.append((due, seen))
            _cdc_pulls(ctx, rig, touched_by_file[k], rng, run, shape, timed=True)
        _await_idle(rig.query)
        out, _ = gen_proc.communicate(timeout=COMMIT_TIMEOUT_S)
        landing = json.loads(out.strip().splitlines()[-1])["landing"]
        run.window = (t0, max([t0] + list(visible.values())))
        ctx.stamp("window")
        run.timing["proc.cpu_ms_per_commit"] = (
            (_cpu_now(ctx.jvm_pid) - cpu0) * 1000.0 / max(1, len(visible))
        )
        sched_end = t0 + n_meas * CDC_INTERVAL_S
        run.timing["gen.lag_ms"] = float(
            np.median([(x["landed"] - x["due"]) * 1000.0 for x in landing])
        )
        run.timing["gen.backlog_end"] = float(
            sum(1 for x in landing if x["landed"] <= sched_end)
            - sum(1 for s in visible.values() if s <= sched_end)
        )
    finally:
        if gen_proc is not None and gen_proc.poll() is None:
            gen_proc.kill()
            gen_proc.wait()
        rig.close()
    if rig.query.exception() is not None:
        run.op(False, f"streaming query failed: {rig.query.exception()}")

    got = _read_all(ctx.spark, rig.state).sort_by("id")
    want = rig.model.final_rows()
    ids = sorted(want)
    ok = (
        got.column("id").to_pylist() == ids
        and got.column("name").to_pylist() == [want[k][0] for k in ids]
        and got.column("score").to_pylist() == [want[k][1] for k in ids]
        and got.column("_offset").to_pylist() == [want[k][2] for k in ids]
    )
    run.op(ok, "final state differs from the model")


def _cdc_pulls(ctx, rig: _CdcRig, touched, rng, run: Run, shape, timed: bool):
    """One lookup hits a key the last commit touched (updated, deleted or
    new), the others uniformly drawn snapshot keys.  Each answer must
    equal the model at one of the versions current during the lookup."""
    _await_idle(rig.query, CDC_PULL_SETTLE_S)
    n_touched = 1
    keys = [int(k) for k in rng.choice(touched, n_touched)]
    keys += [int(k) for k in rng.integers(0, shape.n_keys, CDC_PULLS_PER_COMMIT - n_touched)]
    for key in keys:
        with run.guarded(f"pull {key}"):
            rows, vb, va, dt = _pull(ctx, rig.state, "id", key)
            got = None if not rows else (rows[0]["name"], rows[0]["score"], rows[0]["_offset"])
            ok = len(rows) <= 1 and any(
                rig.model.expected(key, v) == got for v in range(max(vb, 0), va + 1)
            )
            run.op(ok, f"pull {key} at v{vb}..{va}: {got}")
            if timed:
                run.pull_ms.append(dt * 1000.0)


def _await_idle(query, timeout_s: float = 10.0) -> None:
    """Wait until the query has no micro-batch running and no input
    waiting, e.g. so the last one can finish its offset commit before the
    query is stopped."""
    deadline = time.time() + timeout_s
    while time.time() < deadline and query.isActive:
        st = query.status
        if not st["isTriggerActive"] and not st["isDataAvailable"]:
            return
        time.sleep(0.01)


# --------------------------------------------------------------------------
# flagship_rounds
# --------------------------------------------------------------------------


def _golden_fixtures(root: str):
    spec = importlib.util.spec_from_file_location(
        "golden_fixtures", os.path.join(root, "tests", "fixtures.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _shipped_set(table) -> set:
    cols = [table.column(c).to_pylist() for c in SHIPPED_COLS]
    return set(zip(*cols))


class _FlagshipRig:
    """One set-up of flagship_rounds: the pipeline's source and work dirs."""

    def __init__(self, root: str):
        self.src = os.path.join(root, "src")
        self.stage = os.path.join(root, "stage")
        self.work = os.path.join(root, "pipeline")
        # run_flagship_stream keeps its output table here (pipeline.py)
        self.shipped = os.path.join(self.work, "state", "shipped_orders")
        for d in ("customers", "orders", "shipments"):
            os.makedirs(os.path.join(self.src, d))
        os.makedirs(self.stage)

    def drop(self, r: int, rows: dict) -> None:
        for d, cols in (
            ("customers", CUSTOMERS_COLS),
            ("orders", ORDERS_COLS),
            ("shipments", SHIPMENTS_COLS),
        ):
            write_jsonl_atomic(
                os.path.join(self.src, d, f"round-{r:05d}.jsonl"), rows[d], cols, self.stage
            )

    def close(self) -> None:
        pass


def flagship_rounds(ctx, run: Run) -> None:
    fx = _golden_fixtures(ctx.root)
    shape = FlagshipShape()
    run.info["shape"] = shape.describe()
    n_rounds = max(2, int(ctx.seconds / FLAGSHIP_ROUND_S))
    run.info["loop"] = {
        "kind": "closed",
        "callers": 1,
        "rounds": n_rounds,
        "setup_reps": SETUP_REPS,
        "pulls_per_round": FLAGSHIP_PULLS_PER_ROUND,
    }
    expected_golden = set(fx.GOLDEN_SEED) | {fx.GOLDEN_INCREMENT_ROW}
    rng = np.random.default_rng([ctx.seed, 9])
    gen_s = []

    def check(rig, expected: set, what: str):
        got = _shipped_set(_read_all(ctx.spark, rig.shipped))
        run.op(got == expected, f"{what}: {len(got ^ expected)} rows differ")

    def one_setup(root: str) -> _FlagshipRig:
        """Round 0 replays the README golden fixture's seed rows into
        fresh dirs: the pipeline's first run, which creates its
        checkpoints and state tables."""
        spark = ctx.start_session()
        rig = _FlagshipRig(root)
        t = time.perf_counter()
        rig.drop(0, {"customers": fx.CUSTOMERS_SEED, "orders": fx.ORDERS_SEED,
                     "shipments": fx.SHIPMENTS_SEED})
        gen_s.append(time.perf_counter() - t)
        run_flagship_stream(spark, rig.src, rig.work)
        check(rig, set(fx.GOLDEN_SEED), "golden round 0")
        return rig

    rig = _set_up(ctx, run, one_setup)
    # round 1, untimed: the golden fixture's increment
    rig.drop(1, {"customers": fx.CUSTOMERS_INCREMENT, "orders": fx.ORDERS_INCREMENT,
                 "shipments": fx.SHIPMENTS_INCREMENT})
    run_flagship_stream(ctx.spark, rig.src, rig.work)
    check(rig, expected_golden, "golden round 1")
    ctx.spark.sparkContext.setJobGroup(PULL_GROUP, "point lookups")
    run.timing["gen.snapshot_s"] = statistics.median(gen_s)
    run.state_dir = rig.shipped
    run.disk_dirs = [rig.work]
    load = FlagshipLoad(ctx.seed, fx.CUSTOMERS_SEED + fx.CUSTOMERS_INCREMENT, shape)
    run.rounds = []
    lags = []
    cpu0 = _cpu_now(ctx.jvm_pid)
    t0 = time.time()
    for r in range(2, 2 + n_rounds):
        before = read_pointer(rig.shipped)
        rows = load.round_rows(r)
        due = time.time()
        committed = False
        with run.guarded(f"round {r}"):
            rig.drop(r, rows)
            lags.append((time.time() - due) * 1000.0)
            run_flagship_stream(ctx.spark, rig.src, rig.work)
            end = time.time()
            ptr = read_pointer(rig.shipped)
            # each round commits exactly one new shipped_orders version
            ok = ptr is not None and before is not None and ptr.version == before.version + 1
            run.op(ok, f"round {r}: shipped_orders went from {before} to {ptr}")
            if ok:
                committed = True
                run.commit_ms.append((ptr.visible_at - due) * 1000.0)
                run.units.append((due, ptr.visible_at))
                run.rounds.append((due, end))
        if not committed:
            run.commit_ms.append(COMMIT_TIMEOUT_S * 1000.0)
        keys = rng.choice([o[1] for o in rows["orders"]], FLAGSHIP_PULLS_PER_ROUND // 2).tolist()
        keys += rng.choice(list(load.expected), FLAGSHIP_PULLS_PER_ROUND - len(keys)).tolist()
        for key in keys:
            with run.guarded(f"pull {key}"):
                res, _, _, dt = _pull(ctx, rig.shipped, "order_id", key)
                ok = len(res) == 1 and tuple(res[0][c] for c in SHIPPED_COLS) == load.expected[key]
                run.op(ok, f"pull {key}")
                run.pull_ms.append(dt * 1000.0)
    run.window = (t0, time.time())
    ctx.stamp("window")
    run.timing["proc.cpu_ms_per_commit"] = (
        (_cpu_now(ctx.jvm_pid) - cpu0) * 1000.0 / max(1, len(run.units))
    )
    run.timing["gen.lag_ms"] = float(np.median(lags)) if lags else 0.0
    run.timing["gen.backlog_end"] = 0.0  # closed loop: nothing waits

    want = expected_golden | set(load.expected.values())
    check(rig, want, "final shipped_orders")


WORKLOADS = {
    "cdc_bigstate": cdc_bigstate,
    "flagship_rounds": flagship_rounds,
}
