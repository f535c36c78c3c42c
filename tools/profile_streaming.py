"""Micro-batch duration breakdown for streaming registry entries.

Runs each named streaming entry once (warmup) and once measured, hooking
the session's StreamingQueryListener-equivalent data: after the run, the
listener is unavailable (queries are stopped inside the entry), so the
tool instead patches ``DataStreamWriter.start`` to capture every query
started during the entry and record its final ``recentProgress`` —
giving per-batch durationMs components (addBatch, getBatch, walCommit,
queryPlanning, triggerExecution, stateStore commit times).

Usage: [SPARK_GRAFT_SF_DIR=dir] python tools/profile_streaming.py q1 [q2 ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming import DataStreamWriter  # noqa: E402

import bench  # noqa: E402


def main() -> int:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    spark = bench.session("profile_streaming")
    qs = bench.entrymod.queries()

    captured = []
    orig_start = DataStreamWriter.start

    def patched_start(self, *a, **kw):
        q = orig_start(self, *a, **kw)
        captured.append(q)
        return q

    DataStreamWriter.start = patched_start

    for name in names:
        fn = qs[name]
        bench.run_entry(spark, fn, bench.SF_DIR)  # warmup
        spark.catalog.clearCache()
        captured.clear()

        wall = bench.run_entry(spark, fn, bench.SF_DIR)
        print(f"\n=== {name}: wall={wall:.3f}s  streaming_queries={len(captured)}")
        for i, q in enumerate(captured):
            try:
                progress = q.recentProgress
            except Exception as exc:  # noqa: BLE001
                print(f"  q{i}: progress unavailable: {exc}")
                continue
            for p in progress:
                d = p.get("durationMs", {})
                rows = p.get("numInputRows")
                ops = p.get("stateOperators", [])
                state = [
                    {
                        "commitMs": o.get("commitTimeMs"),
                        "rowsTotal": o.get("numRowsTotal"),
                        "memUsed": o.get("memoryUsedBytes"),
                    }
                    for o in ops
                ]
                print(
                    f"  q{i} batch={p.get('batchId')} rows={rows} "
                    f"dur={json.dumps(d)} state={json.dumps(state)}"
                )
        spark.catalog.clearCache()
    DataStreamWriter.start = orig_start
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
