"""Seeded input generators and their in-process reference models.

Everything the engine sees comes from here, as files: the same seed gives
byte-identical files (see test_gen.py).  The models are what the
benchmark checks the engine's outputs against.

Run as a script, this module is the open-loop load generator for
``cdc_bigstate``: a separate process that stages the tail files, then
lands one every ``interval`` seconds on a fixed schedule that does not
slow down when the engine does, and reports when each one landed.

    python3 perfbench/gen.py land --seed N --src DIR --stage DIR \
        --first I --count M --interval S

It prints ``ready`` once the files are staged, reads the schedule origin
(a wall-clock time) from stdin, and prints one JSON line with the
landing log when it is done.
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import sys
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# cdc_bigstate: Debezium-shaped snapshot + change files over one keyed table
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class CdcShape:
    """Input properties the keyed-upsert sink's cost depends on."""

    n_keys: int = 100_000  # snapshot size = state size the sink rewrites
    rows_per_file: int = 2_000  # one change file = one micro-batch
    zipf_s: float = 0.99  # key skew of updates/deletes over the snapshot
    delete_frac: float = 0.05  # share of change rows that are deletes
    new_key_frac: float = 0.02  # share of change rows that insert a new key

    def describe(self) -> dict:
        return {
            "snapshot_keys": self.n_keys,
            "rows_per_file": self.rows_per_file,
            "zipf_s": self.zipf_s,
            "delete_frac": self.delete_frac,
            "new_key_frac": self.new_key_frac,
        }


STATE_FIELDS = (("id", pa.int64()), ("name", pa.string()), ("score", pa.int64()))


def _envelope(ids, names, scores, ops, offsets) -> pa.Table:
    after = pa.StructArray.from_arrays(
        [
            pa.array(ids, pa.int64()),
            pa.array(names, pa.string()),
            pa.array(scores, pa.int64()),
        ],
        fields=[pa.field(n, t) for n, t in STATE_FIELDS],
    )
    return pa.table(
        {
            "after": after,
            "op": pa.array(ops, pa.string()),
            "_offset": pa.array(offsets, pa.int64()),
        }
    )


def _names(rng: np.random.Generator, n: int) -> list[str]:
    return [f"n{v:08x}" for v in rng.integers(0, 1 << 32, n)]


def cdc_snapshot(seed: int, shape: CdcShape) -> pa.Table:
    """The initial snapshot: every key once, op 'r', offsets 0..n-1."""
    rng = np.random.default_rng([seed, 0])
    n = shape.n_keys
    ids = np.arange(n, dtype=np.int64)
    return _envelope(
        ids, _names(rng, n), rng.integers(0, 1_000_000, n), ["r"] * n, ids
    )


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    return cdf / cdf[-1]


class CdcLoad:
    """Tail change files for one seed.  File ``i`` is a pure function of
    (seed, i), so the generator process and the checking process build
    identical files independently."""

    def __init__(self, seed: int, shape: CdcShape = CdcShape()):
        self.seed = seed
        self.shape = shape
        self._cdf = _zipf_cdf(shape.n_keys, shape.zipf_s)
        # rank -> key: the hot keys are spread over the key space
        self._rank_key = np.random.default_rng([seed, 1]).permutation(shape.n_keys)

    def tail_file(self, i: int) -> pa.Table:
        sh = self.shape
        b = sh.rows_per_file
        rng = np.random.default_rng([self.seed, 2, i])
        ranks = np.searchsorted(self._cdf, rng.random(b), side="right")
        ids = self._rank_key[np.minimum(ranks, sh.n_keys - 1)].astype(np.int64)
        kind = rng.random(b)
        is_new = kind < sh.new_key_frac
        is_del = (~is_new) & (kind < sh.new_key_frac + sh.delete_frac)
        # fresh ids, unique per (file, row)
        ids[is_new] = sh.n_keys + i * b + np.flatnonzero(is_new)
        ops = np.where(is_del, "d", np.where(is_new, "c", "u")).tolist()
        offsets = sh.n_keys + i * b + np.arange(b, dtype=np.int64)
        return _envelope(
            ids, _names(rng, b), rng.integers(0, 1_000_000, b), ops, offsets
        )


class CdcModel:
    """Latest-by-offset-with-deletes state, kept per version: version 0 is
    the snapshot and tail file ``i`` commits version ``i + 1``."""

    def __init__(self, snapshot: pa.Table):
        after = snapshot.column("after").combine_chunks()
        self._snap_n = len(snapshot)
        self._snap_name = after.field("name").to_pylist()
        self._snap_score = after.field("score").to_numpy()
        # id -> ([version, ...], [row-or-None, ...]) for ids the tail touched
        self._hist: dict[int, tuple[list[int], list]] = {}
        self.version = 0

    def apply(self, table: pa.Table) -> list[int]:
        """Fold one tail file in as the next version; return its ids."""
        self.version += 1
        v = self.version
        after = table.column("after").combine_chunks()
        ids = after.field("id").to_pylist()
        names = after.field("name").to_pylist()
        scores = after.field("score").to_pylist()
        ops = table.column("op").to_pylist()
        offs = table.column("_offset").to_pylist()
        latest: dict[int, tuple] = {}
        for k, nm, sc, op, off in zip(ids, names, scores, ops, offs):
            prev = latest.get(k)
            if prev is None or off > prev[0]:
                latest[k] = (off, None if op == "d" else (nm, sc, off))
        for k, (_, row) in latest.items():
            vs, rows = self._hist.setdefault(k, ([], []))
            vs.append(v)
            rows.append(row)
        return list(latest)

    def expected(self, key: int, version: int):
        """(name, score, _offset) of ``key`` at ``version``, or None."""
        h = self._hist.get(key)
        if h is not None:
            j = bisect.bisect_right(h[0], version) - 1
            if j >= 0:
                return h[1][j]
        if 0 <= key < self._snap_n:
            return (self._snap_name[key], int(self._snap_score[key]), key)
        return None

    def final_rows(self) -> dict[int, tuple]:
        """The whole state at the current version, id -> row."""
        out = {
            k: (self._snap_name[k], int(self._snap_score[k]), k)
            for k in range(self._snap_n)
        }
        for k, (_, rows) in self._hist.items():
            if rows[-1] is None:
                out.pop(k, None)
            else:
                out[k] = rows[-1]
        return out


def write_parquet_atomic(table: pa.Table, path: str, stage_dir: str) -> None:
    """Write via a staging dir on the same filesystem, then rename, so a
    file source never lists a half-written file."""
    tmp = os.path.join(stage_dir, "." + os.path.basename(path))
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def tail_name(i: int) -> str:
    return f"change-{i:06d}.parquet"


# --------------------------------------------------------------------------
# flagship_rounds: customers / orders / shipments increments per round
# --------------------------------------------------------------------------

CUSTOMERS_COLS = ["id", "name", "age", "__deleted", "_offset"]
ORDERS_COLS = ["customer_id", "order_id", "price", "currency", "ts", "_offset"]
SHIPMENTS_COLS = ["order_id", "shipment_id", "origin", "ts", "_offset"]
SHIPPED_COLS = [
    "order_id",
    "shipment_id",
    "customer_id",
    "customer_name",
    "customer_age",
    "origin",
    "price",
    "currency",
]

_CURRENCIES = ("usd", "eur", "aud", "gbp")
_ORIGINS = ("texas", "iowa", "california", "maine", "florida", "ohio", "utah")
_BASE_TS = np.datetime64("2020-04-10T00:00:00")


@dataclass(frozen=True)
class FlagshipShape:
    customer_changes: int = 50
    orders: int = 200  # each with exactly one matching shipment
    customer_delete_frac: float = 0.05
    customer_new_frac: float = 0.25

    def describe(self) -> dict:
        return {
            "customer_changes_per_round": self.customer_changes,
            "orders_per_round": self.orders,
            "shipments_per_round": self.orders,
            "customer_delete_frac": self.customer_delete_frac,
            "customer_new_frac": self.customer_new_frac,
        }


class FlagshipLoad:
    """Round increments after the two golden rounds, plus the expected
    ``shipped_orders`` they produce.

    Each round's event times sit one hour after the previous round's, so
    no row is late for the 7-day watermark and every order meets its
    shipment inside the join window.  Enrichment is as of processing
    time: a round's orders see the customer table after that round's
    customer changes, and are never revised by later ones."""

    def __init__(self, seed: int, golden_customers, shape: FlagshipShape = FlagshipShape()):
        self.seed = seed
        self.shape = shape
        # customer state: id -> (name, age) for live customers
        self.customers = {c[0]: (c[1], c[2]) for c in golden_customers}
        self.known_ids = [c[0] for c in golden_customers]
        self.cust_offset = 1 + max(c[4] for c in golden_customers)
        self.event_offset = 6  # the golden rounds used offsets 0..5
        self.expected: dict[str, tuple] = {}

    def round_rows(self, r: int) -> dict[str, list[tuple]]:
        """Rows of round ``r`` (r >= 2), and fold them into the model."""
        sh = self.shape
        rng = np.random.default_rng([self.seed, 3, r])
        customers = []
        for j in range(sh.customer_changes):
            u = rng.random()
            if u < sh.customer_new_frac or not self.known_ids:
                cid = f"{r}-{j}"
                self.known_ids.append(cid)
            else:
                cid = self.known_ids[int(rng.integers(len(self.known_ids)))]
            deleted = bool(rng.random() < sh.customer_delete_frac)
            name = f"cust{int(rng.integers(1 << 20)):05x}"
            age = int(rng.integers(18, 90))
            customers.append((cid, name, age, deleted, self.cust_offset))
            self.cust_offset += 1
            if deleted:
                self.customers.pop(cid, None)
            else:
                self.customers[cid] = (name, age)
        orders, shipments = [], []
        base = _BASE_TS + np.timedelta64(r, "h")
        for j in range(sh.orders):
            cid = self.known_ids[int(rng.integers(len(self.known_ids)))]
            oid = f"o{r}-{j}"
            sid = f"s{r}-{j}"
            price = round(float(rng.integers(100, 100_000)) / 100.0, 2)
            cur = _CURRENCIES[int(rng.integers(len(_CURRENCIES)))]
            origin = _ORIGINS[int(rng.integers(len(_ORIGINS)))]
            o_ts = base + np.timedelta64(int(rng.integers(0, 3600)), "s")
            s_ts = o_ts + np.timedelta64(int(rng.integers(60, 72 * 3600)), "s")
            off = self.event_offset
            self.event_offset += 1
            orders.append((cid, oid, price, cur, str(o_ts), off))
            shipments.append((oid, sid, origin, str(s_ts), off))
            name, age = self.customers.get(cid, (None, None))
            self.expected[oid] = (oid, sid, cid, name, age, origin, price, cur)
        return {"customers": customers, "orders": orders, "shipments": shipments}


def write_jsonl_atomic(path: str, rows, cols, stage_dir: str) -> None:
    tmp = os.path.join(stage_dir, "." + os.path.basename(path))
    with open(tmp, "w") as fh:
        for r in rows:
            fh.write(json.dumps(dict(zip(cols, r))) + "\n")
    os.replace(tmp, path)


# --------------------------------------------------------------------------
# the open-loop generator process
# --------------------------------------------------------------------------


def _land(args) -> int:
    load = CdcLoad(args.seed)
    staged = []
    for i in range(args.first, args.first + args.count):
        p = os.path.join(args.stage, tail_name(i))
        pq.write_table(load.tail_file(i), p)
        staged.append((i, p))
    print("ready", flush=True)
    t0 = float(sys.stdin.readline())
    log = []
    for k, (i, p) in enumerate(staged):
        due = t0 + k * args.interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        now = time.time()
        os.utime(p, (now, now))  # the file source orders files by mtime
        os.replace(p, os.path.join(args.src, tail_name(i)))
        log.append({"file": i, "due": due, "landed": time.time()})
    print(json.dumps({"landing": log}), flush=True)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    land = sub.add_parser("land", help="stage and land cdc tail files on a schedule")
    land.add_argument("--seed", type=int, required=True)
    land.add_argument("--src", required=True)
    land.add_argument("--stage", required=True)
    land.add_argument("--first", type=int, required=True)
    land.add_argument("--count", type=int, required=True)
    land.add_argument("--interval", type=float, required=True)
    args = ap.parse_args(argv)
    return _land(args)


if __name__ == "__main__":
    sys.exit(main())
