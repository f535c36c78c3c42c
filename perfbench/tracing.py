"""The traced run: per-layer spans and counts, taken from the benchmark's
own side of each layer boundary.

Three sources, all offline:

- a PySpark ``StreamingQueryListener``: per-trigger phase durations
  (``durationMs``) and state-operator progress of every micro-batch;
- the Spark event log, written under the run's work dir and parsed after
  the session stops: jobs, stages, tasks and their executor metrics;
- timing wrappers around the public ``streaming.upsert`` functions
  ``write_version`` and ``vacuum_versions``, and a span around each
  ``read_state`` call the benchmark's own lookups make (``span``).  The
  sink's own prior-state reads are not timed.  DataFrames are lazy, so
  the ``read_state`` span times plan construction only; the scan it
  plans runs inside the lookup's ``collect``.

All timestamps are wall-clock seconds (``time.time()``), the clock the
event log and the progress events use.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming import upsert

from statefs import dir_bytes, read_pointer, state_rows

# SQL metric of the Python UDF operators (PythonSQLMetrics.pythonTotalTime),
# a nanosecond timing
_PYTHON_RUN_METRIC = "time to run Python workers"

PULL_GROUP = "perfbench-pull"
CHECK_GROUP = "perfbench-check"
_UNTIMED_GROUPS = (PULL_GROUP, CHECK_GROUP)

# unit of every per-layer metric; "traced.<name>" metrics take the unit of
# the end-to-end metric they repeat
LAYER_UNITS = {
    "upsert.write_version_ms": "ms",
    "upsert.bytes_written_per_commit": "bytes",
    "upsert.vacuum_ms": "ms",
    "upsert.read_state_ms": "ms",
    "upsert.state_rows": "count",
    "microbatch.wal_commit_ms": "ms",
    "microbatch.commit_offsets_ms": "ms",
    "microbatch.query_planning_ms": "ms",
    "microbatch.add_batch_ms": "ms",
    "microbatch.trigger_ms": "ms",
    "microbatch.query_start_ms": "ms",
    "microbatch.batches_per_round": "count",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "statestore.commit_ms": "ms",
    "statestore.rows_total": "count",
    "statestore.memory_bytes": "bytes",
    "statestore.instances": "count",
    "executor.jobs_per_commit": "count",
    "executor.stages_per_commit": "count",
    "executor.tasks_per_commit": "count",
    "executor.run_ms": "ms",
    "executor.cpu_ms": "ms",
    "executor.gc_ms": "ms",
    "executor.shuffle_read_bytes": "bytes",
    "executor.shuffle_write_bytes": "bytes",
    "executor.spill_bytes": "bytes",
    "executor.python_eval_ms": "ms",
    "driver.sql_overhead_ms": "ms",
    "session.start_s": "s",
    "gen.snapshot_s": "s",
    "gen.lag_ms": "ms",
    "gen.backlog_end": "count",
    "proc.cpu_ms_per_commit": "ms",
}

NOTES = [
    "upsert.read_state_ms times plan construction only, in the benchmark's "
    "lookups: DataFrames are lazy, so the scan runs inside the lookup's collect",
    "upsert.write_version_ms excludes the vacuum that write_version runs "
    "after its pointer swap; upsert.vacuum_ms reports that part",
]


def _iso_s(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()



def _median(xs, default=0.0) -> float:
    return float(statistics.median(xs)) if xs else default


def _union_ms(intervals) -> float:
    """Total length of the union of (start, end) intervals, in ms."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


class _Listener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self._t = tracer

    def onQueryStarted(self, event):
        self._t.starts.append((str(event.id), _iso_s(event.timestamp)))

    def onQueryProgress(self, event):
        p = event.progress
        self._t.progress.append(
            {
                "id": str(p.id),
                "batch": p.batchId,
                "ts": _iso_s(p.timestamp),
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
                "state": [
                    {
                        "commit_ms": s.commitTimeMs,
                        "rows": s.numRowsTotal,
                        "mem": s.memoryUsedBytes,
                        "instances": s.numStateStoreInstances,
                    }
                    for s in p.stateOperators
                ],
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Collects spans while attached; ``layer_metrics`` turns them into the
    per-layer metrics of one run."""

    def __init__(self, spark, eventlog_dir: str):
        self.spark = spark
        self.eventlog_dir = eventlog_dir
        self.spans: list[tuple[str, float, float, dict]] = []
        self.starts: list[tuple[str, float]] = []
        self.progress: list[dict] = []
        self._listener = _Listener(self)
        spark.streams.addListener(self._listener)
        # write_version calls vacuum_versions through the module global,
        # so both wrappers see the sink's calls
        self._orig = {n: getattr(upsert, n) for n in ("write_version", "vacuum_versions")}
        upsert.write_version = self._wrap_write_version(self._orig["write_version"])
        upsert.vacuum_versions = self._wrap_vacuum(self._orig["vacuum_versions"])

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time(), {}))

    def _wrap_vacuum(self, fn):
        def timed(*a, **kw):
            with self.span("vacuum_versions"):
                return fn(*a, **kw)

        return timed

    def _wrap_write_version(self, fn):
        def timed(df, state_dir, *a, **kw):
            first = len(self.spans)
            t0 = time.time()
            out = fn(df, state_dir, *a, **kw)
            t1 = time.time()
            vacuum_s = sum(
                e - b for n, b, e, _ in self.spans[first:] if n == "vacuum_versions"
            )
            ptr = read_pointer(state_dir)
            nbytes = dir_bytes(ptr.vdir) if ptr is not None else 0
            self.spans.append(
                ("write_version", t0, t1, {"bytes": nbytes, "own_s": t1 - t0 - vacuum_s})
            )
            return out

        return timed

    def detach(self) -> None:
        """Restore the wrapped functions and drop the listener; waits
        briefly so progress events still on the listener bus arrive."""
        for n, fn in self._orig.items():
            setattr(upsert, n, fn)
        time.sleep(1.0)
        self.spark.streams.removeListener(self._listener)

    # ----------------------------------------------------------------- event log

    def _read_eventlog(self):
        """Jobs and stages of every Spark app in the event-log dir.  Each
        set-up repetition starts its own app, and job and stage ids start
        again at 0 in each, so both are keyed by (log file, id)."""
        jobs, stage_job, stages = {}, {}, {}
        paths = glob.glob(os.path.join(self.eventlog_dir, "*"))
        for path in paths:
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jid = (path, ev["Job ID"])
                        props = ev.get("Properties") or {}
                        jobs[jid] = {
                            "start": ev["Submission Time"] / 1000.0,
                            "end": None,
                            "group": props.get("spark.jobGroup.id"),
                            "stages": set(),
                        }
                        for sid in ev.get("Stage IDs", []):
                            stage_job[(path, sid)] = jid
                    elif kind == "SparkListenerJobEnd":
                        if (path, ev["Job ID"]) in jobs:
                            jobs[(path, ev["Job ID"])]["end"] = ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        st = stages.setdefault((path, info["Stage ID"]), _new_stage())
                        for acc in info.get("Accumulables", []):
                            if acc.get("Name") == _PYTHON_RUN_METRIC:
                                st["python_ms"] += _num(acc.get("Value")) / 1e6
                    elif kind == "SparkListenerTaskEnd":
                        st = stages.setdefault((path, ev["Stage ID"]), _new_stage())
                        m = ev.get("Task Metrics") or {}
                        st["tasks"] += 1
                        st["run_ms"] += m.get("Executor Run Time", 0)
                        st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                        st["gc_ms"] += m.get("JVM GC Time", 0)
                        st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                            "Disk Bytes Spilled", 0
                        )
                        r = m.get("Shuffle Read Metrics") or {}
                        st["shuffle_read"] += r.get("Remote Bytes Read", 0) + r.get(
                            "Local Bytes Read", 0
                        )
                        w = m.get("Shuffle Write Metrics") or {}
                        st["shuffle_write"] += w.get("Shuffle Bytes Written", 0)
        for sid, jid in stage_job.items():
            if sid in stages and jid in jobs:
                jobs[jid]["stages"].add(sid)
        return jobs, stages

    # ----------------------------------------------------------------- metrics

    def layer_metrics(self, window, units, state_dir, rounds=None) -> dict:
        """Per-layer metrics over the timed ``window`` (t0, t1).

        ``units`` are the (start, end) intervals of the workload's commit
        units: one per measured increment.  ``rounds`` are the
        closed-loop calls that each hold one or more query runs (flagship
        only); without them every unit counts as one round."""
        w0, w1 = window
        n_units = max(1, len(units))
        rounds = rounds or units

        def in_window(t):
            return w0 <= t <= w1

        def spans(name):
            return [(t0, t1, x) for n, t0, t1, x in self.spans if n == name and in_window(t0)]

        m: dict[str, float] = {}
        wv = spans("write_version")
        m["upsert.write_version_ms"] = _median([x["own_s"] * 1000 for _, _, x in wv])
        m["upsert.bytes_written_per_commit"] = _median([x["bytes"] for _, _, x in wv])
        m["upsert.vacuum_ms"] = _median([(t1 - t0) * 1000 for t0, t1, _ in spans("vacuum_versions")])
        m["upsert.read_state_ms"] = _median([(t1 - t0) * 1000 for t0, t1, _ in spans("read_state")])
        m["upsert.state_rows"] = float(state_rows(state_dir))

        prog = [p for p in self.progress if in_window(p["ts"])]
        data = [p for p in prog if p["rows"] > 0]

        def phase(key, ps=data):
            return _median([p["ms"].get(key, 0) for p in ps])

        m["microbatch.wal_commit_ms"] = phase("walCommit")
        m["microbatch.commit_offsets_ms"] = phase("commitOffsets")
        m["microbatch.query_planning_ms"] = phase("queryPlanning")
        m["microbatch.add_batch_ms"] = phase("addBatch")
        m["microbatch.trigger_ms"] = phase("triggerExecution")
        starts = []
        for qid, t_start in self.starts:
            later = [p["ts"] for p in self.progress if p["id"] == qid and p["ts"] >= t_start]
            if later:
                starts.append((min(later) - t_start) * 1000)
        m["microbatch.query_start_ms"] = _median(starts)
        m["microbatch.batches_per_round"] = len(prog) / max(1, len(rounds))
        m["sources.latest_offset_ms"] = phase("latestOffset", prog)
        m["sources.get_batch_ms"] = phase("getBatch", data)

        with_state = [p for p in data if p["state"]]
        m["statestore.commit_ms"] = _median(
            [sum(s["commit_ms"] for s in p["state"]) for p in with_state]
        )
        last_per_query = {p["id"]: p["state"] for p in with_state}
        last = [s for ops in last_per_query.values() for s in ops]
        m["statestore.rows_total"] = float(sum(s["rows"] for s in last))
        m["statestore.memory_bytes"] = float(sum(s["mem"] for s in last))
        m["statestore.instances"] = float(sum(s["instances"] for s in last))

        jobs, stages = self._read_eventlog()
        timed = [
            j
            for j in jobs.values()
            if in_window(j["start"]) and j["group"] not in _UNTIMED_GROUPS
        ]
        tot = _new_stage()
        n_stages = 0
        for j in timed:
            for sid in j["stages"]:
                st = stages.get(sid)
                if st and st["tasks"]:
                    n_stages += 1
                    for k in tot:
                        tot[k] += st[k]
        m["executor.jobs_per_commit"] = len(timed) / n_units
        m["executor.stages_per_commit"] = n_stages / n_units
        m["executor.tasks_per_commit"] = tot["tasks"] / n_units
        m["executor.run_ms"] = tot["run_ms"] / n_units
        m["executor.cpu_ms"] = tot["cpu_ms"] / n_units
        m["executor.gc_ms"] = tot["gc_ms"] / n_units
        m["executor.shuffle_read_bytes"] = tot["shuffle_read"] / n_units
        m["executor.shuffle_write_bytes"] = tot["shuffle_write"] / n_units
        m["executor.spill_bytes"] = tot["spill"] / n_units
        m["executor.python_eval_ms"] = tot["python_ms"] / n_units
        overhead = []
        for r0, r1 in rounds:
            inside = [
                (max(j["start"], r0), min(j["end"], r1))
                for j in timed
                if j["end"] is not None and j["start"] < r1 and j["end"] > r0
            ]
            overhead.append((r1 - r0) * 1000 - _union_ms(inside))
        m["driver.sql_overhead_ms"] = _median(overhead)
        return m


def _new_stage() -> dict:
    return {
        "tasks": 0,
        "run_ms": 0.0,
        "cpu_ms": 0.0,
        "gc_ms": 0.0,
        "spill": 0.0,
        "shuffle_read": 0.0,
        "shuffle_write": 0.0,
        "python_ms": 0.0,
    }


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0

