"""The benchmark's one reader of a state table's files.

``streaming.upsert`` keeps a state table as immutable ``v=N`` version
dirs plus a ``_LATEST`` pointer file that names the current one; the
pointer is written to a temp file and renamed into place, so its mtime
is the moment that version became visible.  Everything in the benchmark
that looks at those files (commit times, bytes per commit, row counts,
disk use) goes through here.
"""

from __future__ import annotations

import glob
import os
from typing import NamedTuple

POINTER = "_LATEST"


class Pointer(NamedTuple):
    version: int
    visible_at: float  # wall-clock seconds, the pointer file's mtime
    vdir: str  # the version dir the pointer names


def read_pointer(state_dir: str) -> Pointer | None:
    """The state table's current version, or None before the first one
    (or while the pointer is being swapped under the reader)."""
    p = os.path.join(state_dir, POINTER)
    try:
        st = os.stat(p)
        with open(p) as fh:
            v = int(fh.read())
        if os.stat(p).st_mtime_ns != st.st_mtime_ns:
            return None
    except (OSError, ValueError):
        return None
    return Pointer(v, st.st_mtime_ns / 1e9, os.path.join(state_dir, f"v={v}"))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:  # vacuumed between listing and stat
                pass
    return total


def state_rows(state_dir: str) -> int:
    """Rows in the current version, from the parquet footers."""
    import pyarrow.parquet as pq

    ptr = read_pointer(state_dir)
    if ptr is None:
        return 0
    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in glob.glob(os.path.join(ptr.vdir, "*.parquet"))
    )
