"""Time named registry entries with bench.py's loop (`bench.bench_sf`).

Usage: [PASSES=n] [SPARK_GRAFT_SF_DIR=dir] python <checkout>/tools/perfex.py q1 q2 ...

Warmup pass, then min of PASSES (default 3) timed noop-sink passes, so a
plan change is measured in ~30 s instead of a full campaign.  Prints one
JSON line per entry and a total.  An A/B is this command run from each
checkout in turn, alternating sides: each run imports only its own
checkout (see `bench.session`).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> int:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    bad = [n for n in names if n not in bench.entrymod.queries()]
    if bad:
        print(f"unknown entries: {bad}", file=sys.stderr)
        return 2
    passes = int(os.environ.get("PASSES", "3"))
    spark = bench.session("perfex")
    timings, failures, _ = bench.bench_sf(spark, bench.SF_DIR, passes, names)
    for n, t in timings.items():
        print(json.dumps({"query": n, "sec": t}))
    for n, err in failures.items():
        print(json.dumps({"query": n, "error": err}))
    print(json.dumps({"total": round(sum(timings.values()), 3), "passes": passes}))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
