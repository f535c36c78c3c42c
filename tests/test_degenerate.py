"""Regression pins for the degenerate-input sweep (tools/degenerate.py).

Each (variant, query) pair below crashed in the round-5 sweep before its
fix — ANSI divide-by-zero on empty/constant groups, NaN poisoning of
integer casts, NULL embeddings shattering the Arrow GEMM batches, and
''::BIGINT on non-matching regexp extraction.  The full 231x5 sweep runs
out-of-band (DEGEN_r5.json); this suite keeps the historical crashers
from regressing inside the normal pytest gate.

Empty-input robustness is reference behavior, not gold-plating: the
reference's own live-update demo starts from near-empty state
(/root/reference/README.md:654-679).
"""

import pytest

from tools.degenerate import build_variants

# (variant, query): every pair crashed before round 5's fixes
CRASHERS = [
    ("empty", "chi_square_independence"),  # int(None) driver-side
    ("single", "embedding_norm_outliers"),  # Bessel n-1 = 0
    ("nullvals", "ann_lsh_topk"),  # NULL vec -> ragged np.stack
    ("nullvals", "ann_recall_eval"),
    ("nullvals", "embedding_neardup"),
    ("nullvals", "pca_top_component"),
    ("nullvals", "ewma_smooth"),  # all-NULL lags -> den 0
    ("nullvals", "streaming_stateful_agg"),  # NaN -> int64 cast
    ("nullvals", "streaming_embedding_dedup"),
    ("constvals", "json_extract"),  # ''::BIGINT under ANSI
    # empty-graph NULL-vs-0 divergence (triangle sum-over-empty)
    ("empty", "triangle_count"),
    # round-6 shape-adversarial variants: digit-less source names hit
    # ANSI CAST_INVALID_INPUT in the mixture rate derivation
    ("allkeysdistinct", "source_mixture"),
]


@pytest.fixture(scope="module")
def variant_dirs():
    return build_variants(sorted({v for v, _ in CRASHERS}))


@pytest.mark.parametrize("variant,query", CRASHERS)
def test_degenerate_crasher_stays_fixed(spark, variant_dirs, variant, query):
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[query]
    rows = fn(spark, variant_dirs[variant]).collect()  # must not raise
    assert rows is not None
    if (variant, query) == ("empty", "triangle_count"):
        [r] = rows
        assert r.n_triangles == 0  # zero, not NULL, on an edgeless graph
