"""Benchmark of the streaming CDC engine: set-up time, commit latency,
point-lookup latency and state cost on two streaming workloads.

    python3 perfbench/run.py --workload cdc_bigstate --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout.  It builds its inputs from ``--seed``,
pins the Spark session (``local[nproc]``, 2g driver heap, fresh local and
temp dirs under ``.perfbench/``), measures for ``--seconds`` seconds,
checks every output against the generator's model, and prints as its
last stdout line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``.  With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` they are the per-layer ones (see README.md).  The line
before it carries the run's detail: host fingerprint, workload shape,
sample counts and the percentile behind ``commit_tail_ms``.

A run that raises, or that times out waiting for a commit, still prints
its result line: the exception counts as a failed operation, and a
latency with no samples reads as the commit timeout.
"""

import time

_T_START = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

PKG = "trainee_scala_module_8_kafka_streaming_etl_pipeline_spark"
WORKLOAD_NAMES = ("cdc_bigstate", "flagship_rounds")
DRIVER_MEMORY = "2g"
TAIL_BEYOND = 10  # samples a tail percentile must have beyond it
# The 75th percentile stands in for the tail with fewer samples than that
# definition needs (see tail()).
TAIL_FALLBACK_PCT = 75

E2E_UNITS = {
    "setup_s": "s",
    "commit_p50_ms": "ms",
    "commit_tail_ms": "ms",
    "pull_p50_ms": "ms",
    "disk_mb": "MB",
    "heap_live_mb": "MB",
    "ok_frac": "frac",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail(samples):
    """(value, percentile, samples beyond it).  With at least 2 * TAIL_BEYOND
    samples: the highest percentile with TAIL_BEYOND samples above it.  A
    run with fewer samples has no such percentile above the median, so it
    reports the 75th percentile (inclusive interpolation) instead."""
    s = sorted(samples)
    n = len(s)
    if n >= 2 * TAIL_BEYOND:
        k = n - TAIL_BEYOND - 1
        return s[k], 100.0 * (k + 1) / n, TAIL_BEYOND
    if n == 1:
        return s[0], 100.0, 0
    q = statistics.quantiles(s, n=100, method="inclusive")[TAIL_FALLBACK_PCT - 1]
    return q, float(TAIL_FALLBACK_PCT), sum(1 for x in s if x > q)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat.  On a
    VM, steal is the time its vCPUs were ready but the hypervisor ran
    someone else: the share of it over a run says how contended the
    machine was."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def canary_s() -> float:
    """The host-speed canary of bench.py: one sort + sum over a seeded
    60M-float64 array, single core, Spark-independent."""
    import numpy as np

    a = np.random.default_rng(7).random(60_000_000)
    t0 = time.perf_counter()
    np.sort(a)
    float(a.sum())
    return time.perf_counter() - t0


class Context:
    """One run's pinned environment and its Spark session."""

    def __init__(self, args, root: str):
        self.root = root
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(
            root, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}"
        )
        shutil.rmtree(self.work, ignore_errors=True)
        self.tmp = os.path.join(self.work, "tmp")
        self.local = os.path.join(self.work, "spark-local")
        self.eventlog = os.path.join(self.work, "eventlog")
        for d in (self.tmp, self.local, self.eventlog):
            os.makedirs(d)
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        os.environ["TMPDIR"] = self.tmp
        # Python workers import the package by name
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        import tempfile

        tempfile.tempdir = self.tmp
        self.spark = None
        self.tracer = None
        self.jvm_pid = None
        self.session_starts: list[float] = []
        self.stamps: dict[str, float] = {}

    def since_start(self) -> float:
        return time.perf_counter() - _T_START

    def stamp(self, name: str) -> None:
        """Record when a phase of the run ended (seconds since start)."""
        self.stamps[name] = round(self.since_start(), 3)

    def start_session(self):
        """Start a Spark session.  The first call launches the JVM; a later
        one stops the current session and starts a new one in that JVM."""
        from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.session import (
            build_session,
        )

        if self.spark is not None:
            self.spark.stop()
            self.spark = None

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.tmp} -Dderby.system.home={self.tmp}"
            ),
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.eventlog,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = build_session(
            app_name="perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_starts.append(time.perf_counter() - t0)
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def attach_tracer(self) -> None:
        """In a traced run, start tracing the current session."""
        if self.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.spark, self.eventlog)

    def heap_live_mb(self) -> float:
        mx = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = []
        for _ in range(3):
            # the second GC collects what Spark's ContextCleaner released
            # after the first one (checkpoint and shuffle blocks)
            mx.gc()
            time.sleep(0.1)
            mx.gc()
            used.append(mx.getHeapMemoryUsage().getUsed())
        return statistics.median(used) / 1e6

    def fingerprint(self) -> dict:
        return {
            "nproc": self.nproc,
            "master": f"local[{self.nproc}]",
            "driver_memory": DRIVER_MEMORY,
            "java": str(self.spark._jvm.java.lang.System.getProperty("java.version")),
            "spark": self.spark.version,
            "python": platform.python_version(),
        }

    def stop(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        from pyspark import SparkContext

        if self.tracer is not None:
            self.tracer.detach()
            self.tracer = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        SparkContext._gateway = None
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - never leave the JVM behind
                proc.kill()
                proc.wait()


def _metrics(values: dict, units: dict) -> dict:
    return {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}


def _median_or(xs, missing: float) -> float:
    return statistics.median(xs) if xs else missing


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PKG)):
        print(f"perfbench: no {PKG}/ in {root}; run from a checkout root", file=sys.stderr)
        return 2
    sys.path.insert(1, root)  # after perfbench/, so its modules win
    from statefs import dir_bytes
    from tracing import LAYER_UNITS, NOTES
    from workloads import COMMIT_TIMEOUT_S, WORKLOADS, Run

    ctx = Context(args, root)
    run = Run()
    ticks0 = cpu_ticks()
    detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        try:
            WORKLOADS[args.workload](ctx, run)
        except Exception as e:  # noqa: BLE001 - reported as a failed run
            traceback.print_exc(file=sys.stderr)
            run.op(False, f"run aborted: {type(e).__name__}: {e}")
        disk_mb = sum(dir_bytes(d) for d in run.disk_dirs) / 1e6
        heap_mb = 0.0
        if ctx.spark is not None:
            with run.guarded("heap measurement"):
                heap_mb = ctx.heap_live_mb()
            detail["fingerprint"] = ctx.fingerprint()
        tracer = ctx.tracer
        ticks1 = cpu_ticks()
        ctx.stamp("measured")
        ctx.stop()  # flushes the event log the traced run reads below
        ctx.stamp("stopped")

        # a latency with no samples reads as the commit timeout
        missing_ms = COMMIT_TIMEOUT_S * 1000.0
        commit_tail, tail_pct, tail_beyond = (
            tail(run.commit_ms) if run.commit_ms else (missing_ms, None, 0)
        )
        e2e = {
            "setup_s": run.timing.get("setup_s", ctx.since_start()),
            "commit_p50_ms": _median_or(run.commit_ms, missing_ms),
            "commit_tail_ms": commit_tail,
            "pull_p50_ms": _median_or(run.pull_ms, missing_ms),
            "disk_mb": disk_mb,
            "heap_live_mb": heap_mb,
            "ok_frac": 1.0 - run.failed / max(1, run.attempted),
        }
        if args.trace:
            layers = {}
            if tracer is not None:
                layers = tracer.layer_metrics(run.window, run.units, run.state_dir, run.rounds)
            layers["session.start_s"] = ctx.session_starts[0] if ctx.session_starts else 0.0
            for k in ("gen.snapshot_s", "gen.lag_ms", "gen.backlog_end", "proc.cpu_ms_per_commit"):
                layers[k] = run.timing.get(k, 0.0)
            layers.update({f"traced.{k}": v for k, v in e2e.items()})
            units = dict(LAYER_UNITS, **{f"traced.{k}": u for k, u in E2E_UNITS.items()})
            # a layer the run never reached reads 0
            metrics = _metrics({k: layers.get(k, 0.0) for k in units}, units)
            detail["notes"] = NOTES
        else:
            metrics = _metrics(e2e, E2E_UNITS)
    finally:
        ctx.stop()
        shutil.rmtree(ctx.work, ignore_errors=True)
    fp = detail.setdefault("fingerprint", {"nproc": ctx.nproc})
    fp["steal_frac"] = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    fp["canary_s"] = canary_s()
    ctx.stamp("canary")
    detail.update(
        {
            "shape": run.info.get("shape"),
            "loop": run.info.get("loop"),
            "samples": {"commits": len(run.commit_ms), "pulls": len(run.pull_ms)},
            "commit_ms": [round(x, 1) for x in run.commit_ms],
            "pull_ms_quartiles": (
                [round(x, 1) for x in statistics.quantiles(run.pull_ms, n=4)]
                if len(run.pull_ms) >= 2
                else run.pull_ms
            ),
            "commit_tail": {"percentile": tail_pct, "samples_beyond": tail_beyond},
            "setup_reps_s": run.info.get("setup_reps_s"),
            "session_starts_s": [round(x, 3) for x in ctx.session_starts],
            "stamps_s": ctx.stamps,
            "errors": run.errors,
        }
    )
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": max(1, run.attempted),
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
