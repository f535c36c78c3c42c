"""FULL_SUITE planted-truth tier (round 10; r9 VERDICT ask #3).

Folds the sf~1 planted/replay harness (`tools/sf1_planted.py`, 33
check functions over the 57 oracle-excluded-at-sf~1 entries) into the
pytest campaign gate.  The checks run here at sf0.01 — the tool's own
documented validation protocol: at sf0.01 every entry is ALSO
DuckDB-oracle-checked, so a replay/planted invariant that matches
Spark here is itself verified before it is trusted to judge sf~1.
These are exactly the invariants that catch scale-only regressions
(planted-pair recall, sampled-exact recall@k, signature replays), so
they must not live outside the gate.

The three replication-method checks (triangle_count, kcore_peel,
pagerank_3iter) derive sf~1 truth from the corpus being 10 FK-shifted
copies of sf0.1; that structure does not exist at sf0.01, so they stay
campaign-manual (they remain covered by the DuckDB oracle here).
"""

from __future__ import annotations

import pytest

from tools import sf1_planted

SF = "/root/testdata/sf0.01"

_REPLICATION_ONLY = {"triangle_count", "kcore_peel", "pagerank_3iter"}
NAMES = [n for n in sf1_planted.CHECKS if n not in _REPLICATION_ONLY]


def test_tier_covers_enough_invariants():
    # the r9 ask: >= 20 of the 57 sf~1 invariants in the gate
    assert len(NAMES) >= 20


@pytest.fixture(scope="module")
def ctx(spark):
    c = sf1_planted.Ctx(SF)
    c._spark = spark  # share the suite session (same JVM)
    return c


@pytest.mark.parametrize("name", NAMES)
def test_planted_invariant(ctx, name):
    r = sf1_planted.CHECKS[name](ctx)
    assert r.get("pass") is True, r
