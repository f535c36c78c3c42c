"""Physical plans of registry entries, as `explain("formatted")` prints
them, at $SPARK_GRAFT_SF_DIR (default sf0.01, so AQE finalizes fast).

Usage:
  python tools/plans.py            # every headline bench query -> PLANS.md
  python tools/plans.py q1 [q2 ...]  # the named entries -> stdout

With no arguments it writes PLANS.md, the plan-quality audit artifact;
run it after operator changes.  With entry names, a before/after
comparison is one run per checkout, diffed.  Streaming entries have no
single plan (theirs are per-micro-batch): PLANS.md omits them and the
stdout form prints a one-line note.

What to look for in the output (the review checklist):
  - `PushedFilters` / pruned `ReadSchema` on every parquet scan
  - `BroadcastHashJoin` for dimension/query-side joins
  - no `Exchange` directly feeding another `Exchange` with the same keys
  - `WholeStageCodegen` spans covering the row-at-a-time stages
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

_STREAMING_NOTE = "streaming entry: plan is per-micro-batch; see tools/profile_streaming.py"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().rstrip()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names = sys.argv[1:]
    qs = bench.entrymod.queries()
    bad = [n for n in names if n not in qs]
    if bad:
        print(f"unknown entries: {bad}", file=sys.stderr)
        return 2
    sf_dir = os.path.abspath(sf_dir)  # bench.session changes directory
    spark = bench.session("plans")
    for name in names:
        streaming = name.startswith("streaming_")
        plan = _STREAMING_NOTE if streaming else _plan(qs[name](spark, sf_dir))
        print(f"## {name}\n\n{plan}\n")
    if not names:
        _write_plans_md(spark, qs, sf_dir)
    spark.stop()
    return 0


def _write_plans_md(spark, qs, sf_dir: str) -> None:
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `tools/plans.py` at `{sf_dir}`. Streaming queries are",
        "omitted (their plans are per-micro-batch; see the batch forms of the",
        "same operators).  Review checklist in the tool docstring.",
        "",
    ]
    for name in bench.HEADLINE:
        if name.startswith("streaming_") or name not in qs:
            continue
        out.append(f"## {name}\n\n```\n{_plan(qs[name](spark, sf_dir))}\n```\n")
    path = os.path.join(bench.ROOT, "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    sys.exit(main())
