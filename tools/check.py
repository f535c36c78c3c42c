"""Local correctness harness mirroring the driver's oracle comparison.

Runs every `queries()` entry on Spark and the matching `oracle_sql()` on
DuckDB over the same parquet tables, then compares row count, sorted
column names, a value hash of the sorted rows, AND the normalized result
types (via DuckDB DESCRIBE vs Spark dtypes — catches HUGEINT/DECIMAL
divergences that hash identically here but differently in the driver's
serializer; see tools/typecheck.py).

Usage: python tools/check.py [--out report.json] [--sigdigits N]
                             [sf_dir] [query ...]

--sigdigits N normalizes floats to N significant digits instead of the
driver's 9-decimal-PLACE rule — needed for corpora where double sums
reach ~1e10 magnitude (the synthesized sf~1) and parallel-vs-serial
summation order leaves 1-ULP differences the place-based rounding
cannot absorb.  Default (no flag) stays byte-identical to the driver.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entrymod
from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.session import fork_free_io_conf
from tools.typecheck import norm_type

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


_SIG_DIGITS = None  # None = the driver's exact rule (9 decimal PLACES)


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if _SIG_DIGITS is not None:
            # significant-digit norm (--sigdigits N): 9 decimal places
            # cannot absorb one-ULP summation-order noise once double
            # sums reach ~1e10 magnitude (the synthesized sf~1 corpus);
            # 12 significant digits absorbs ULP order while any real
            # formula error (relative >> 1e-12) still mismatches
            return f"{v:.{_SIG_DIGITS}g}"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    args = sys.argv[1:]
    out_path = None
    if "--out" in args:
        i = args.index("--out")
        if i + 1 >= len(args) or args[i + 1].startswith("--"):
            print(
                "usage: python tools/check.py [--out report.json]"
                " [sf_dir] [query ...]",
                file=sys.stderr,
            )
            return 2
        out_path = os.path.abspath(args[i + 1])
        args = args[:i] + args[i + 2:]
    if "--sigdigits" in args:
        global _SIG_DIGITS
        i = args.index("--sigdigits")
        _SIG_DIGITS = int(args[i + 1])
        args = args[:i] + args[i + 2:]
    sf = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    # Spark starts in this checkout's root: Python workers import the
    # package from their working directory first (see bench.session)
    sf = os.path.abspath(sf)
    os.chdir(_ROOT)
    spark = (
        SparkSession.builder.master("local[8]")
        .config(map=fork_free_io_conf("local[8]"))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .appName("check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    # cap the oracle's memory (brute-force oracles at big sfs would
    # otherwise grab 80% of a shared host) and its parallelism
    mem = os.environ.get("CHECK_DUCKDB_MEM")
    if mem:
        con.execute(f"SET memory_limit='{mem}'")
    thr = os.environ.get("CHECK_DUCKDB_THREADS")
    if thr:
        con.execute(f"SET threads={int(thr)}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        row = {}
        try:
            sdf = fn(spark, sf)
            srows = sdf.collect()
            scols = sdf.columns
            row["spark_rows"] = len(srows)
        except Exception as e:
            row["err"] = f"spark: {type(e).__name__}: {e}"
            results[name] = row
            print(f"{name:28s} ERR {row['err'][:140]}")
            continue
        sql = oracles.get(name)
        if sql is None:
            row["note"] = "no_oracle"
            results[name] = row
            print(f"{name:28s} rows={len(srows)} (no oracle)")
            continue
        try:
            cur = con.execute(sql)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            row["err"] = f"oracle: {type(e).__name__}: {e}"
            results[name] = row
            print(f"{name:28s} ERR {row['err'][:140]}")
            continue
        row["oracle_rows"] = len(orows)
        row["rows_match"] = len(srows) == len(orows)
        row["schema_match"] = sorted(scols) == sorted(ocols)
        sh = value_hash(scols, [tuple(r) for r in srows])
        oh = value_hash(ocols, orows)
        row["hash_match"] = sh == oh
        try:
            otypes = {
                r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()
            }
            stypes = dict(sdf.dtypes)
            row["type_match"] = all(
                c in stypes and norm_type(stypes[c]) == norm_type(t)
                for c, t in otypes.items()
            )
        except Exception:  # DESCRIBE unsupported for this statement shape
            row["type_match"] = None
        ok = (
            row["rows_match"]
            and row["schema_match"]
            and row["hash_match"]
            and row["type_match"] is not False
        )
        results[name] = row
        flag = "OK " if ok else "FAIL"
        print(
            f"{name:28s} {flag} rows={len(srows)}/{len(orows)}"
            f" schema={row['schema_match']} hash={row['hash_match']}"
            f" types={row['type_match']}"
        )
    bad = {
        k: v
        for k, v in results.items()
        if v.get("err")
        or not (v.get("hash_match", True) and v.get("rows_match", True))
        or v.get("type_match") is False
    }
    print(json.dumps({"n": len(results), "bad": list(bad)}, indent=0))
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(
                {
                    "sf": sf,
                    "n": len(results),
                    "bad": sorted(bad),
                    "method": (
                        "per query: Spark result vs DuckDB oracle_sql on the"
                        " same parquet tables; row count + sorted-column"
                        " schema + sha256 value hash of sorted rows"
                        " (floats rounded 9dp) + normalized result types"
                    ),
                    "results": {k: results[k] for k in sorted(results)},
                },
                fh,
                indent=1,
            )
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
