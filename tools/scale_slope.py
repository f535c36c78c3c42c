"""Measure wall-clock slopes across a decade of scale for the most
expensive headline queries (SCALING.md; VERDICT r7 ask #4, r8 ask #2).
Generates nothing — run tools/scale_gen.py first.

Method is bench.py's loop (`bench.bench_sf`) at each sf: one warmup
pass, then min-of-N timed noop-sink passes with clearCache() + forced
GC between queries.  10x data -> slope ~= the query's data exponent
(fixed-cost-dominated queries land well under 10; a slope >> 10 flags
a super-linear plan).

Usage:
  python tools/scale_slope.py [passes] [--stamp LABEL]
      [--small DIR --big DIR --decade NAME] [query ...]

Defaults measure $SPARK_GRAFT_SF_DIR (default sf0.1) -> sf~1 (decade
"sf0.1_to_sf1").  Pass
``--small .scale/sf1 --big .scale/sf10 --decade sf1_to_sf10`` for the
third decade.  Results merge into SCALE_SLOPE.json per (query, decade)
with per-row passes/stamp/dirs — rows measured under different
conditions stay labeled with their own conditions (cross-session rows
are NOT A/B-comparable; see SCALING.md), and rows whose query name has
left the registry are dropped on merge.
"""

from __future__ import annotations

import json
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

import bench  # noqa: E402

SF1 = os.environ.get("SCALE_OUT", os.path.join(_ROOT, ".scale", "sf1"))

# the bench top by r7/r8 cost, per VERDICT r7 ask #4
DEFAULT_QUERIES = [
    "flagship_shipped_orders",
    "interval_join_bucketed",
    "triangle_count",
    "pagerank_3iter",
    "kcore_peel",
    "minhash_near_dups",
    "simhash_near_dups",
    "dup_ngram_coverage",
    "corpus_clean",
    "text_stats",
]


def _flag(args: list[str], name: str, default: str | None) -> str | None:
    if name in args:
        i = args.index(name)
        if i + 1 >= len(args):
            raise SystemExit(f"{name} requires a value (got end of args)")
        val = args[i + 1]
        del args[i : i + 2]
        return val
    return default


def _is_decade_row(rows) -> bool:
    """True for the per-decade row shape this script writes: a dict of
    decade-name -> measurement dicts carrying small_sec/big_sec.  Rows
    from the pre-round-9 flat format (sf0.1_sec keys at top level) are
    dropped during merge rather than mixed in."""
    return isinstance(rows, dict) and all(
        isinstance(v, dict) and "small_sec" in v and "big_sec" in v
        for v in rows.values()
    ) and bool(rows)


def main() -> int:
    args = sys.argv[1:]
    stamp = _flag(args, "--stamp", "unstamped")
    small_dir = os.path.abspath(_flag(args, "--small", bench.SF_DIR))
    big_dir = os.path.abspath(_flag(args, "--big", SF1))
    decade = _flag(args, "--decade", "sf0.1_to_sf1")
    passes = int(args[0]) if args and args[0].isdigit() else 2
    names = [a for a in args if not a.isdigit()] or DEFAULT_QUERIES
    registry = set(bench.entrymod.queries())
    bad = [n for n in names if n not in registry]
    if bad:
        print(f"unknown entries: {bad}", file=sys.stderr)
        return 2
    spark = bench.session("scale_slope")
    small, small_failures, _ = bench.bench_sf(spark, small_dir, passes, names)
    big, big_failures, _ = bench.bench_sf(spark, big_dir, passes, names)
    failures = {**small_failures, **big_failures}
    for n, err in failures.items():
        print(json.dumps({"query": n, "error": err}), file=sys.stderr)
    names = [n for n in names if n in small and n in big]
    path = os.path.join(_ROOT, "SCALE_SLOPE.json")
    # Merge per (query, decade): a subset re-measurement refreshes only
    # its own rows, each row carries the conditions it was measured
    # under, and rows for renamed/removed registry entries are dropped.
    out: dict = {"method": "bench.bench_sf per sf: warmup, then min-of-N "
                 "adjacent noop-sink passes; rows carry their own "
                 "passes/stamp and are only A/B-comparable within one "
                 "stamp (SCALING.md host-drift rule)",
                 "queries": {}}
    if os.path.exists(path):
        with open(path) as fh:
            prior = json.load(fh)
        out["queries"] = {
            q: rows
            for q, rows in prior.get("queries", {}).items()
            if q in registry and _is_decade_row(rows)
        }
    for n in names:
        row = out["queries"].setdefault(n, {})
        row[decade] = {
            "small_sec": round(small[n], 3),
            "big_sec": round(big[n], 3),
            "slope_10x": round(big[n] / small[n], 2),
            "small_dir": small_dir,
            "big_dir": big_dir,
            "passes": passes,
            "stamp": stamp,
        }
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps(
        {n: out["queries"][n][decade] for n in names}, indent=1, sort_keys=True
    ))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
