"""Per-stage empirical profile of registry entries (guide §1.1).

Runs each named entry once (warmup, noop sink) and once measured inside
a fresh job group, with the Spark UI enabled, then scrapes the UI REST
API for the stages of that job group: per-stage wall time, task count,
input/shuffle bytes and records.  This answers "where does the wall
time actually go" — scan vs exchange vs compute — without the (absent)
interactive UI.

Usage: [SPARK_GRAFT_SF_DIR=dir] python tools/profile_query.py q1 [q2 ...]
Prints per query: total sec, job count, and the top stages by time.
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _rest(base: str, path: str):
    with urllib.request.urlopen(base + path) as resp:
        return json.load(resp)


def main() -> int:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    spark = bench.session(
        "profile_query", {"spark.ui.enabled": "true", "spark.ui.port": "4055"}
    )
    qs = bench.entrymod.queries()
    app_id = spark.sparkContext.applicationId
    base = f"http://localhost:4055/api/v1/applications/{app_id}"

    for name in names:
        fn = qs[name]
        # warmup: codegen, JIT, footer caches
        bench.run_entry(spark, fn, bench.SF_DIR)
        spark.catalog.clearCache()

        jobs_before = {j["jobId"] for j in _rest(base, "/jobs")}
        wall = bench.run_entry(spark, fn, bench.SF_DIR)
        spark.catalog.clearCache()

        jobs = [j for j in _rest(base, "/jobs") if j["jobId"] not in jobs_before]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for s in _rest(base, "/stages?status=complete"):
            if s["stageId"] in stage_ids:
                dur = (s.get("executorRunTime") or 0) / 1000.0
                stages.append(
                    {
                        "stage": s["stageId"],
                        "name": s["name"].split("\n")[0][:70],
                        "tasks": s["numCompleteTasks"],
                        "run_sec": round(dur, 2),
                        "cpu_sec": round((s.get("executorCpuTime") or 0) / 1e9, 2),
                        "in_mb": round((s.get("inputBytes") or 0) / 1e6, 1),
                        "sh_r_mb": round((s.get("shuffleReadBytes") or 0) / 1e6, 2),
                        "sh_w_mb": round((s.get("shuffleWriteBytes") or 0) / 1e6, 2),
                        "recs": s.get("outputRecords") or s.get("inputRecords") or 0,
                    }
                )
        stages.sort(key=lambda x: -x["run_sec"])
        print(f"\n=== {name}: wall={wall:.3f}s jobs={len(jobs)} stages={len(stage_ids)}")
        total_run = sum(s["run_sec"] for s in stages)
        print(f"    sum(executorRunTime)={total_run:.1f}s (across all tasks)")
        for s in stages[:12]:
            print(
                f"    st{s['stage']:>4} tasks={s['tasks']:>3} run={s['run_sec']:>7.2f}s "
                f"cpu={s['cpu_sec']:>7.2f}s in={s['in_mb']:>7.1f}MB "
                f"shR={s['sh_r_mb']:>8.2f}MB shW={s['sh_w_mb']:>8.2f}MB  {s['name']}"
            )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
