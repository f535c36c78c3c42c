"""Hypothesis property tests: engine operators vs independent naive
Python reimplementations on adversarial generated inputs (duplicate
keys, equal timestamps, negative offsets, empty groups).  These run a
local SparkSession per suite via the shared fixture; examples are kept
small and deadline-free since each check is a Spark job."""

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.compaction import (
    latest_by_offset,
)
from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.joins import (
    interval_join,
)
from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.sampling import (
    pack_shards,
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# rows: (key, value, offset) — duplicate keys and offsets are likely
_changelog = st.lists(
    st.tuples(
        st.integers(0, 5), st.integers(-100, 100), st.integers(0, 30)
    ),
    min_size=1,
    max_size=40,
)


@given(rows=_changelog)
@_SETTINGS
def test_latest_by_offset_matches_naive(spark, rows):
    df = spark.createDataFrame(rows, ["k", "v", "off"])
    got = {
        (r["k"], r["v"])
        for r in latest_by_offset(
            df, keys=["k"], offset_col="off", value_cols=["v"]
        ).collect()
    }
    # naive: per key, value at the max offset; ties on offset resolve to
    # the max value at that offset (max_by tie semantics are unspecified,
    # so only compare keys whose max offset is unique)
    by_key = {}
    for k, v, off in rows:
        by_key.setdefault(k, []).append((off, v))
    for k, pairs in by_key.items():
        mx = max(off for off, _ in pairs)
        winners = [v for off, v in pairs if off == mx]
        got_v = next(v for kk, v in got if kk == k)
        assert got_v in winners


_events = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50)),  # (key, ts seconds)
    min_size=0,
    max_size=25,
)


@given(left=_events, right=_events)
@_SETTINGS
def test_interval_join_matches_naive(spark, left, right):
    if not left or not right:
        return
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], ["l_id", "l_k", "l_s"]
    ).withColumn("l_ts", F.timestamp_seconds("l_s"))
    rdf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(right)], ["r_id", "r_k", "r_s"]
    ).withColumn("r_ts", F.timestamp_seconds("r_s"))
    out = interval_join(
        ldf,
        rdf,
        keys=[("l_k", "r_k")],
        left_ts="l_ts",
        right_ts="r_ts",
        lower="-INTERVAL 10 SECONDS",
        upper="INTERVAL 10 SECONDS",
    ).select("l.l_id", "r.r_id")
    got = {(r["l_id"], r["r_id"]) for r in out.collect()}
    want = {
        (li, ri)
        for li, (lk, lt) in enumerate(left)
        for ri, (rk, rt) in enumerate(right)
        if lk == rk and lt - 10 <= rt <= lt + 10
    }
    assert got == want
    # the bucketed scale plan finds the identical pair set
    bucketed = interval_join(
        ldf,
        rdf,
        keys=[("l_k", "r_k")],
        left_ts="l_ts",
        right_ts="r_ts",
        lower="-INTERVAL 10 SECONDS",
        upper="INTERVAL 10 SECONDS",
        time_bucket_seconds=10,
    ).select("l.l_id", "r.r_id")
    assert {(r["l_id"], r["r_id"]) for r in bucketed.collect()} == want


# timestamps biased toward bucket edges: multiples of the bucket width
# and their +/-1 neighbors are the off-by-one danger zone for the
# floor(ts/b) assignment and the +/-K explode.
@given(
    left=_events,
    right=_events,
    window=st.integers(1, 30),
    bucket=st.integers(1, 30),
)
@_SETTINGS
def test_interval_join_bucketed_matches_plain(spark, left, right, window, bucket):
    """Pair-set equality of the bucketed scale plan against the plain
    range-predicate plan for ANY (window, bucket) combination — the
    window may span multiple buckets (explode span K = ceil(W/b)) and
    timestamps land on bucket boundaries."""
    if not left or not right:
        return
    # snap half the timestamps onto bucket edges to probe boundaries
    left = [(k, t - t % bucket if i % 2 else t) for i, (k, t) in enumerate(left)]
    right = [(k, t - t % bucket if i % 2 else t) for i, (k, t) in enumerate(right)]
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], ["l_id", "l_k", "l_s"]
    ).withColumn("l_ts", F.timestamp_seconds("l_s"))
    rdf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(right)], ["r_id", "r_k", "r_s"]
    ).withColumn("r_ts", F.timestamp_seconds("r_s"))
    kw = dict(
        keys=[("l_k", "r_k")],
        left_ts="l_ts",
        right_ts="r_ts",
        lower=f"-INTERVAL {window} SECONDS",
        upper=f"INTERVAL {window} SECONDS",
    )
    plain = interval_join(ldf, rdf, **kw).select("l.l_id", "r.r_id")
    want = {(r["l_id"], r["r_id"]) for r in plain.collect()}
    assert want == {
        (li, ri)
        for li, (lk, lt) in enumerate(left)
        for ri, (rk, rt) in enumerate(right)
        if lk == rk and lt - window <= rt <= lt + window
    }
    bucketed = interval_join(
        ldf,
        rdf,
        time_bucket_seconds=bucket,
        window_span_seconds=window,
        **kw,
    ).select("l.l_id", "r.r_id")
    assert {(r["l_id"], r["r_id"]) for r in bucketed.collect()} == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1), st.integers(1, 50)),  # (group, tokens)
        min_size=1,
        max_size=30,
    ),
    budget=st.integers(10, 120),
)
@_SETTINGS
def test_pack_shards_matches_naive_greedy(spark, rows, budget):
    df = spark.createDataFrame(
        [(i, f"g{g}", t) for i, (g, t) in enumerate(rows)],
        ["doc_id", "lang", "n_tok"],
    )
    out = {
        r["doc_id"]: r["shard_id"]
        for r in pack_shards(
            df, token_col="n_tok", group_cols=("lang",), budget=budget
        ).collect()
    }
    # naive greedy per group in doc_id order
    cum = {}
    for i, (g, t) in enumerate(rows):
        prev = cum.get(g, 0)
        assert out[i] == prev // budget
        cum[g] = prev + t


def _morton_ref(x: int, y: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=1,
        max_size=30,
    )
)
@_SETTINGS
def test_morton_key_matches_bitwise_reference(spark, pts):
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.layout import (
        morton_key,
    )

    df = spark.createDataFrame(pts, ["x", "y"])
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn("z", morton_key("x", "y", bits=8)).collect()
    }
    for (x, y), z in got.items():
        assert z == _morton_ref(x, y, 8)
    # bijective: distinct points -> distinct keys
    assert len(set(got.values())) == len(set(pts))


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),          # user
            st.integers(0, 50),         # seconds offset
            st.integers(-50, 50),       # value
        ),
        min_size=1,
        max_size=25,
    )
)
@_SETTINGS
def test_time_weighted_avg_matches_naive(spark, rows):
    import datetime as dt

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.timeseries import (
        time_weighted_avg,
    )

    base = dt.datetime(2024, 1, 1)
    data = [
        (i, u, base + dt.timedelta(seconds=s), float(v))
        for i, (u, s, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, ["event_id", "u", "ts", "v"])
    got = {
        r["u"]: (r["twa_value"], r["span_us"], r["n_spans"])
        for r in time_weighted_avg(df, ["u"], "ts", "v", "event_id").collect()
    }
    by_user = {}
    for i, u, ts, v in data:
        by_user.setdefault(u, []).append((ts, i, v))
    for u, samples in by_user.items():
        samples.sort()  # (ts, event_id) — the operator's window order
        spans = [
            (v, (samples[j + 1][0] - ts).total_seconds())
            for j, (ts, _, v) in enumerate(samples[:-1])
        ]
        if not spans:
            assert u not in got  # single-sample users emit nothing
            continue
        total = sum(w for _, w in spans)
        twa, span_us, n = got[u]
        assert n == len(spans)
        assert span_us == int(total * 1_000_000)
        if total > 0:
            expect = sum(v * w for v, w in spans) / total
            assert abs(twa - expect) < 1e-6


_values = st.lists(st.floats(0, 200, allow_nan=False), min_size=1, max_size=60)


@given(vals=_values)
@_SETTINGS
def test_hist_quantile_within_one_bin_of_truth(spark, vals):
    """The histogram estimate can never be off by more than one bin
    width from an exact quantile (counts are exact; only within-bin
    position is interpolated)."""
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators import (
        sketches,
    )

    width = 5.0
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    [row] = sketches.hist_quantiles(
        sketches.hist_bins(df, "v", (), width), (), width
    ).collect()
    s = sorted(vals)

    def exact(q):
        import math
        k = max(1, math.ceil(q * len(s)))
        return s[k - 1]

    assert row.n == len(vals)
    for name, q in (("p50_est", 0.5), ("p90_est", 0.9), ("p99_est", 0.99)):
        assert abs(getattr(row, name) - exact(q)) <= width, (name, vals)


_edges_st = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 8)).filter(lambda t: t[0] != t[1]),
    min_size=1,
    max_size=25,
)


@given(raw=_edges_st)
@_SETTINGS
def test_pagerank_mass_bounds_and_determinism(spark, raw):
    """Every rank stays within [base, base + damping*total/1]: no rank
    can exceed the total injected mass, every node keeps at least the
    teleport floor, and reruns are bit-identical."""
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators import (
        graph,
    )

    edges = spark.createDataFrame(sorted(set(raw)), ["src", "dst"])
    out1 = {r.node: r.rank for r in graph.pagerank_fixed(edges, 2).collect()}
    out2 = {r.node: r.rank for r in graph.pagerank_fixed(edges, 2).collect()}
    assert out1 == out2
    n = len(out1)
    total = 10**9 * n
    for node, rank in out1.items():
        assert rank >= 150_000_000
        assert rank <= 150_000_000 + (85 * total) // 100


_keys = st.lists(st.integers(0, 12), min_size=1, max_size=40)


@given(a_keys=_keys, b_keys=_keys)
@_SETTINGS
def test_cms_join_estimate_upper_bounds_exact(spark, a_keys, b_keys):
    """CMS inner-product join-size estimate is a guaranteed upper bound
    on the exact join cardinality (collisions only ever add mass)."""
    import pyspark.sql.functions as F

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators import (
        sketches,
    )

    a = spark.createDataFrame([(k,) for k in a_keys], ["k"])
    b = spark.createDataFrame([(k,) for k in b_keys], ["k"])
    ip = (
        sketches.cms_cells(a, "k").alias("x")
        .join(sketches.cms_cells(b, "k").alias("y"), ["i", "col"])
        .groupBy("i")
        .agg(F.sum(F.col("x.cnt") * F.col("y.cnt")).alias("dot"))
    )
    [est] = ip.agg(
        F.when(F.count(F.lit(1)) < sketches.CMS_D, F.lit(0))
        .otherwise(F.min("dot"))
        .alias("e")
    ).collect()
    from collections import Counter

    ca, cb = Counter(a_keys), Counter(b_keys)
    exact = sum(ca[k] * cb.get(k, 0) for k in ca)
    assert est.e >= exact


_weights = st.lists(
    st.floats(min_value=0.001, max_value=1e6, allow_nan=False,
              allow_infinity=False),
    min_size=1,
    max_size=60,
)


@given(ws=_weights, k=st.integers(1, 20))
@_SETTINGS
def test_es_topk_sample_matches_naive_smallest_keys(spark, ws, k):
    """The sampled set must be EXACTLY the k smallest ES keys computed
    independently in Python (same md5-uniform, same rounding)."""
    import hashlib
    import math

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.sampling import (
        es_topk_sample,
    )

    rows = [(i, w) for i, w in enumerate(ws)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = [r.doc_id for r in es_topk_sample(df, "w", k=k).collect()]

    def key(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        u = ((h % (1 << 30)) + 0.5) / float(1 << 30)
        return round(-math.log(u) / w, 12)

    want = [i for i, w in sorted(rows, key=lambda t: (key(*t), t[0]))[:k]]
    assert got == want


_texts = st.lists(
    st.text(
        alphabet=st.sampled_from(list("ab1 .#")), min_size=0, max_size=60
    ),
    min_size=1,
    max_size=12,
)


@given(texts=_texts)
@_SETTINGS
def test_alpha_token_frac_matches_naive(spark, texts):
    """Engine alpha-token fraction vs a direct Python split on
    adversarial whitespace/symbol soup."""
    import re

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.functions import (
        text as T,
    )

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r.doc_id: r.af
        for r in df.select(
            "doc_id", T.alpha_token_frac().alias("af")
        ).collect()
    }
    for i, t in docs:
        toks = re.split(r"\s+", t.strip())  # mirrors split(trim(x))
        n_alpha = sum(1 for w in toks if re.search("[a-zA-Z]", w))
        want = round(n_alpha / max(len(toks), 1), 6)
        assert got[i] == want, (i, repr(t))


_edges = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)),
    min_size=0,
    max_size=30,
)


@given(raw=_edges)
@_SETTINGS
def test_neardup_clusters_match_union_find(spark, raw):
    """Distributed min-label propagation vs a direct Python union-find
    on random graphs (self-loops dropped, duplicates/parallel edges
    kept, isolated nodes preserved)."""
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.dedup import (
        neardup_clusters,
    )

    n_nodes = 16
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(n_nodes)], ["doc_id", "text"]
    )
    edges = [(a, b) for a, b in raw if a != b]
    pairs = spark.createDataFrame(
        edges or [(0, 0)], ["doc_a", "doc_b"]
    )
    if not edges:
        pairs = pairs.filter("doc_a <> doc_b")  # typed empty frame
    got = {
        r.doc_id: r.cluster_id
        for r in neardup_clusters(docs, pairs=pairs).collect()
    }

    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: min(j for j in range(n_nodes) if find(j) == find(i))
            for i in range(n_nodes)}
    assert got == want


# events: (user, minute, type_idx); cuts: global time cut points splitting
# the stream into ordered micro-batches (contiguous time-slices per user —
# the segment-merge contract).
_trans_events = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 59), st.integers(0, 2)),
    min_size=1,
    max_size=40,
)


@given(raw=_trans_events, cuts=st.sets(st.integers(1, 59), max_size=3))
@_SETTINGS
def test_streaming_transitions_match_batch_under_any_split(spark, raw, cuts):
    """Folding time-sliced micro-batches through the segment-merge state
    yields exactly the batch transition counts, for any cut points —
    boundary transitions come from the bridge step, never get lost, and
    never double-count."""
    import tempfile

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.transitions import (
        merge_transitions_batch,
        read_transitions,
    )

    rows = [
        (u, f"2024-01-01 10:{m:02d}:00", f"T{t}", i)
        for i, (u, m, t) in enumerate(raw)
    ]

    def mkdf(rs):
        return (
            spark.createDataFrame(
                rs, ["user_id", "ts_s", "event_type", "event_id"]
            )
            .withColumn("ts", F.to_timestamp("ts_s"))
            .select("user_id", "event_type", "ts", "event_id")
        )

    # naive expected counts: per user, order by (minute, event_id)
    seqs: dict[int, list[tuple[int, int, str]]] = {}
    for i, (u, m, t) in enumerate(raw):
        seqs.setdefault(u, []).append((m, i, f"T{t}"))
    expected: dict[tuple[str, str], int] = {}
    for s in seqs.values():
        s.sort()
        for (_, _, a), (_, _, b) in zip(s, s[1:]):
            expected[(a, b)] = expected.get((a, b), 0) + 1

    bounds = sorted(cuts) + [60]
    state = tempfile.mkdtemp(prefix="trans_prop_")
    bid = 0
    lo = 0
    for hi in bounds:
        batch = [r for r, (_, m, _) in zip(rows, raw) if lo <= m < hi]
        lo = hi
        if not batch:
            continue
        merge_transitions_batch(mkdf(batch), f"{state}/s", bid)
        bid += 1
    if bid == 0:
        return
    got = {
        (r.from_type, r.to_type): r.n
        for r in read_transitions(spark, f"{state}/s").collect()
    }
    assert got == expected


_edges_strategy = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=30,
)


@given(raw=_edges_strategy, k=st.integers(1, 4))
@_SETTINGS
def test_kcore_matches_naive_peel(spark, raw, k):
    """Bounded-round peel equals a naive Python peel run for the same
    number of rounds, including the convergence flag."""
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.graph import (
        kcore_peel,
    )

    edges = sorted({(min(u, v), max(u, v)) for u, v in raw})
    rounds = 3

    # naive peel
    alive = {n for e in edges for n in e}
    counts = []
    deg = {}
    for _ in range(rounds):
        deg = {}
        for u, v in edges:
            if u in alive and v in alive:
                deg[u] = deg.get(u, 0) + 1
                deg[v] = deg.get(v, 0) + 1
        alive = {n for n, d in deg.items() if d >= k}
        counts.append(len(alive))
    expected = {n: deg[n] for n in alive}
    conv = len(counts) >= 2 and counts[-1] == counts[-2]

    df = spark.createDataFrame(edges, ["u", "v"])
    got = {r.node: r.core_degree for r in kcore_peel(df, k=k, rounds=rounds).collect()}
    flags = {r.converged for r in kcore_peel(df, k=k, rounds=rounds).collect()}
    assert got == expected
    if expected:
        assert flags == {conv}


_scd_changes = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 59)),  # (user, minute)
    min_size=1,
    max_size=25,
    unique=True,
)


@given(raw=_scd_changes, cuts=st.sets(st.integers(1, 59), max_size=3))
@_SETTINGS
def test_streaming_scd2_matches_batch_under_any_split(spark, raw, cuts):
    """Folding time-sliced micro-batches through the SCD2 state equals
    the batch lead-chain over the union, for any cut points."""
    import tempfile

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.scd2 import (
        merge_scd2_batch,
        read_scd2,
    )

    rows = [
        (u, i, float(i), f"2024-01-01 10:{m:02d}:00")
        for i, (u, m) in enumerate(raw)
    ]

    def mkdf(rs):
        return (
            spark.createDataFrame(rs, ["user_id", "event_id", "value", "ts_s"])
            .withColumn("ts", F.to_timestamp("ts_s"))
            .select("user_id", "event_id", "value", "ts")
        )

    # naive expected: per user ordered by (minute, event_id)
    seqs = {}
    for i, (u, m) in enumerate(raw):
        seqs.setdefault(u, []).append((m, i))
    expected = {}
    for u, s in seqs.items():
        s.sort()
        for j, (m, i) in enumerate(s):
            nxt = s[j + 1][0] if j + 1 < len(s) else None
            expected[i] = (u, nxt is None)

    bounds = sorted(cuts) + [60]
    state = tempfile.mkdtemp(prefix="scd2_prop_") + "/s"
    bid = 0
    lo = 0
    for hi in bounds:
        batch = [r for r, (_, m) in zip(rows, raw) if lo <= m < hi]
        lo = hi
        if not batch:
            continue
        merge_scd2_batch(mkdf(batch), state, bid)
        bid += 1
    if bid == 0:
        return
    got = {r.event_id: (r.user_id, r.is_current)
           for r in read_scd2(spark, state).collect()}
    assert got == expected


# --- round 4: estimator operators vs naive references -----------------------
# The mirrored-oracle blind spot (a DuckDB oracle transliterated from the
# Spark plan cannot catch a shared math error — proven by the r3 quantile
# bug) is closed for estimator-style operators by checking each against an
# independently-written Python reference.

_ewma_rows = st.lists(
    st.tuples(
        st.integers(0, 2),      # key
        st.integers(0, 40),     # ts seconds (duplicates likely)
        st.integers(-50, 50),   # value
    ),
    min_size=1,
    max_size=30,
)


@given(raw=_ewma_rows)
@_SETTINGS
def test_ewma_matches_naive(spark, raw):
    """Truncated 8-lag EWMA vs a sequential Python fold in the same
    (ts, offset) order — catches wrong weights, wrong ramp-up
    normalization, and wrong tie-breaking."""
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.timeseries import (
        ewma,
    )

    alpha, lags = 0.3, 8
    data = [(i, k, t, float(v)) for i, (k, t, v) in enumerate(raw)]
    df = (
        spark.createDataFrame(data, ["off", "k", "s", "v"])
        .withColumn("ts", F.timestamp_seconds("s"))
    )
    got = {
        r["off"]: r["ewma"]
        for r in ewma(df, ["k"], "ts", "v", "off", alpha, lags).collect()
    }
    by_key = {}
    for i, k, t, v in data:
        by_key.setdefault(k, []).append((t, i, v))
    for k, rows in by_key.items():
        rows.sort()  # (ts, offset) — the operator's window order
        for j, (_, off, _) in enumerate(rows):
            num = 0.0
            den = 0.0
            for i in range(lags):
                if j - i < 0:
                    continue
                wt = float((1.0 - alpha) ** i)
                num += rows[j - i][2] * wt
                den += wt
            assert abs(got[off] - num / den) <= 1e-6, (k, off)


_cusum_rows = st.lists(
    st.tuples(
        st.integers(0, 1),      # group
        st.integers(0, 9),      # day index
        st.integers(-20, 20),   # integer value (exact decimal sums)
    ),
    min_size=2,
    max_size=30,
)


@given(raw=_cusum_rows)
@_SETTINGS
def test_changepoint_cusum_matches_naive(spark, raw):
    """CUSUM peak vs a sequential Python fold over the daily rollup:
    the max |cusum| must match, and the located day must match whenever
    the argmax is unique."""
    import datetime as dt

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.timeseries import (
        changepoint_cusum,
    )

    base = dt.datetime(2024, 3, 1)
    data = [
        (g, base + dt.timedelta(days=d, hours=d % 3), float(v))
        for g, d, v in raw
    ]
    df = spark.createDataFrame(data, ["g", "ts", "v"])
    got = {
        r["g"]: (r["change_day"], r["max_cusum"])
        for r in changepoint_cusum(df, "g", "ts", "v").collect()
    }

    daily = {}
    for g, ts, v in data:
        day = ts.replace(hour=0, minute=0, second=0, microsecond=0)
        s, c = daily.setdefault(g, {}).setdefault(day, (0.0, 0))
        daily[g][day] = (s + v, c + 1)
    for g, days in daily.items():
        tot_s = sum(s for s, _ in days.values())
        tot_c = sum(c for _, c in days.values())
        mean = tot_s / tot_c
        cum = 0.0
        series = []
        for day in sorted(days):
            s, c = days[day]
            cum += s - c * mean
            series.append((day, abs(cum)))
        want_max = max(a for _, a in series)
        want_days = [d for d, a in series if abs(a - want_max) < 1e-9]
        day_got, max_got = got[g]
        assert abs(max_got - round(want_max, 4)) <= 1e-4
        if len(want_days) == 1:
            assert day_got == want_days[0]


_psi_counts = st.lists(
    st.tuples(
        st.integers(0, 1),                      # group
        st.sampled_from(["ref", "cur"]),        # period
        st.integers(0, 4),                      # bin (n_bins = 5)
        st.integers(1, 50),                     # count
    ),
    min_size=1,
    max_size=25,
)


@given(raw=_psi_counts)
@_SETTINGS
def test_psi_from_counts_matches_naive(spark, raw):
    """PSI over a mergeable count table vs a direct Python computation
    of sum (p_cur - p_ref) * ln(p_cur / p_ref) with add-one smoothing
    across the FULL bin spine (empty bins included)."""
    import math

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.profiling import (
        psi_from_counts,
    )

    n_bins = 5
    df = spark.createDataFrame(raw, ["grp", "period", "bin", "c"])
    got = {
        r["g"]: (r["n_ref"], r["n_cur"], r["psi"], r["drifted"])
        for r in psi_from_counts(df, "g", n_bins=n_bins).collect()
    }
    agg = {}
    for g, period, b, c in raw:
        key = (g, period, b)
        agg[key] = agg.get(key, 0) + c
    for g in {g for g, _, _, _ in raw}:
        n_ref = sum(v for (gg, p, _), v in agg.items() if gg == g and p == "ref")
        n_cur = sum(v for (gg, p, _), v in agg.items() if gg == g and p == "cur")
        psi = 0.0
        for b in range(n_bins):
            c_ref = agg.get((g, "ref", b), 0)
            c_cur = agg.get((g, "cur", b), 0)
            p_ref = (c_ref + 1) / (n_ref + n_bins)
            p_cur = (c_cur + 1) / (n_cur + n_bins)
            psi += (p_cur - p_ref) * math.log(p_cur / p_ref)
        gn_ref, gn_cur, gpsi, gdrift = got[g]
        assert (gn_ref, gn_cur) == (n_ref, n_cur)
        assert abs(gpsi - psi) <= 2e-6
        assert gdrift == int(round(psi, 6) >= 0.1)


_wins_rows = st.lists(
    st.tuples(
        st.integers(0, 1),
        st.one_of(st.none(), st.integers(-100, 100)),
    ),
    min_size=1,
    max_size=40,
)


@given(raw=_wins_rows)
@_SETTINGS
def test_winsorized_mean_matches_naive(spark, raw):
    """Winsorized mean vs a Python clip-and-average using the same
    linear-interpolation percentile definition.  NULL measurements must
    be dropped entirely (not clipped to p_hi) — a group that is all
    NULL yields no output row."""
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.timeseries import (
        winsorized_mean,
    )
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("g", IntegerType(), False),
            StructField("v", DoubleType(), True),
        ]
    )
    df = spark.createDataFrame(
        [(g, None if v is None else float(v)) for g, v in raw], schema
    )
    got = {
        r["g"]: (r["n"], r["winsorized_mean"])
        for r in winsorized_mean(df, "g", "v").collect()
    }

    def pct(sorted_vals, q):
        # Spark `percentile` / numpy 'linear': rank = q * (n - 1)
        n = len(sorted_vals)
        rank = q * (n - 1)
        lo = int(rank)
        frac = rank - lo
        if lo + 1 < n:
            return sorted_vals[lo] + frac * (sorted_vals[lo + 1] - sorted_vals[lo])
        return sorted_vals[lo]

    groups = {}
    for g, v in raw:
        groups.setdefault(g, [])
        if v is not None:
            groups[g].append(float(v))
    for g, vals in groups.items():
        if not vals:
            assert g not in got, (g, "all-NULL group must emit no row")
            continue
        s = sorted(vals)
        p_lo = round(pct(s, 0.05), 6)
        p_hi = round(pct(s, 0.95), 6)
        clipped = [min(max(v, p_lo), p_hi) for v in vals]
        micro = sum(int(round(v * 1e6)) for v in clipped)
        want = micro / 1e6 / len(vals)
        n_got, mean_got = got[g]
        assert n_got == len(vals)
        assert abs(mean_got - want) <= 2e-6, (g, vals)


_hll_keys = st.lists(st.integers(0, 10_000), min_size=1, max_size=80)


@given(keys=_hll_keys)
@_SETTINGS
def test_hll_estimate_matches_reference_formula(spark, keys):
    """HLL estimate vs an independent Python implementation of the
    Flajolet estimator E = alpha_m * m^2 / sum_j 2^-M_j, where M_j is
    the register rank (index of the lowest set bit of the hash suffix,
    +1; 0 for an empty register; pinned to 54 for a zero suffix).
    Catches register-assignment, rank, and scaling errors."""
    import hashlib

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators import (
        sketches,
    )

    m = sketches.HLL_M
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    [row] = sketches.hll_estimate(df, "k").collect()

    regs = {}
    for k in set(keys):
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
        bucket, w = h % m, h // m
        rho = 54 if w == 0 else (w & -w).bit_length()
        regs[bucket] = max(regs.get(bucket, 0), rho)
    # exact-integer sum of 2^(55-rho): empty registers contribute 2^55
    s = sum(1 << (55 - r) for r in regs.values()) + (m - len(regs)) * (1 << 55)
    alpha = sketches.hll_alpha(m)
    want = round(alpha * m * m * float(1 << 55) / float(s), 2)
    assert row["buckets_used"] == len(regs)
    assert abs(row["hll_estimate"] - want) <= 0.01


_cms_keys = st.lists(st.integers(0, 30), min_size=1, max_size=60)


@given(keys=_cms_keys)
@_SETTINGS
def test_cms_topk_overestimates_never_undercounts(spark, keys):
    """Count-min guarantee: every key's estimate is >= its true count
    (collisions only add mass) and <= the total row count (each row
    lands exactly once per hash row)."""
    from collections import Counter

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators import (
        sketches,
    )

    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    truth = Counter(keys)
    out = sketches.cms_topk(df, "k", k=len(truth)).collect()
    assert len(out) == len(truth)
    for r in out:
        assert truth[r["k"]] <= r["cms_count"] <= len(keys), r


_bm25_docs = st.lists(
    st.lists(
        st.sampled_from(["hash", "join", "vector", "scan", "row", "agg"]),
        min_size=1,
        max_size=12,
    ),
    min_size=1,
    max_size=10,
)


@given(doc_words=_bm25_docs)
@_SETTINGS
def test_bm25_matches_naive(spark, doc_words):
    """BM25 scores and ranking vs a direct Python computation of the
    Lucene idf / tf-saturation formula on tiny adversarial corpora
    (single-word docs, query terms absent, all-identical docs)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.retrieval import (
        bm25_topk,
    )

    terms = ("hash", "join")
    docs = [(i, " ".join(ws)) for i, ws in enumerate(doc_words)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["bm25"], r["rnk"])
        for r in bm25_topk(df, terms, k=len(docs)).collect()
    }

    n = len(docs)
    avgdl = sum(len(ws) for ws in doc_words) / n
    dfreq = {
        t: sum(1 for ws in doc_words if t in ws) for t in terms
    }
    # The operator rounds per-term scores with Spark F.round — HALF_UP on
    # the double's shortest decimal repr (BigDecimal.valueOf semantics).
    # The replay must use the SAME rounding mode (_r6), not Python's
    # banker's round(): on an exact 5e-7 boundary they diverge one
    # micro-unit per term, which is precisely the failure hypothesis
    # found in round 5.  With matched rounding we compare integer
    # micro-units exactly — no float tolerance at all.
    want = {}
    for i, ws in enumerate(doc_words):
        smic = 0
        for t in terms:
            tf = ws.count(t)
            if tf == 0:
                continue
            idf = _r6(
                math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            )
            s = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(ws) / avgdl))
            smic += int(
                Decimal(repr(_r6(s) * 1e6)).quantize(
                    Decimal("1"), rounding=ROUND_HALF_UP
                )
            )
        if smic or any(t in ws for t in terms):
            want[i] = smic
    assert set(got) == set(want)
    for i, smic in want.items():
        got_mic = int(
            Decimal(repr(got[i][0] * 1e6)).quantize(
                Decimal("1"), rounding=ROUND_HALF_UP
            )
        )
        assert got_mic == smic, (i, doc_words)
    # ranking: descending score, ties by doc_id
    order = sorted(want, key=lambda i: (-want[i], i))
    assert [i for i, _ in sorted(got.items(), key=lambda kv: kv[1][1])] == order


_mad_rows = st.lists(
    st.tuples(st.integers(0, 1), st.integers(-100, 100)),
    min_size=1,
    max_size=40,
)


@given(raw=_mad_rows)
@_SETTINGS
def test_mad_outliers_matches_naive(spark, raw):
    """MAD outlier screen vs a direct Python median / median-of-
    deviations / strict 3×MAD count."""
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.profiling import (
        mad_outliers,
    )

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in raw], ["g", "v"]
    )
    got = {
        r["g"]: (r["median_value"], r["mad"], r["n_events"], r["n_outliers"])
        for r in mad_outliers(df, "g", "v").collect()
    }

    def median(vals):
        s = sorted(vals)
        n = len(s)
        rank = 0.5 * (n - 1)
        lo = int(rank)
        frac = rank - lo
        return s[lo] + frac * (s[lo + 1] - s[lo]) if lo + 1 < n else s[lo]

    groups = {}
    for g, v in raw:
        groups.setdefault(g, []).append(float(v))
    for g, vals in groups.items():
        med = round(median(vals), 6)
        mad = round(median([abs(v - med) for v in vals]), 6)
        n_out = sum(1 for v in vals if abs(v - med) > 3 * mad)
        gm, gmad, gn, gout = got[g]
        assert abs(gm - med) <= 1e-6
        assert abs(gmad - mad) <= 1e-6
        assert gn == len(vals)
        assert gout == n_out, (g, vals, med, mad)


_gopher_tokens = st.lists(
    st.sampled_from(
        ["the", "and", "of", "is", "table", "hash", "##", "...", "1234",
         "x", "reallylongtokenvalue", "a"]
    ),
    min_size=0,
    max_size=40,
)


@given(tokens=_gopher_tokens)
@_SETTINGS
def test_gopher_keep_matches_naive(spark, tokens):
    """Gopher rule conjunction vs a direct Python evaluation of each
    rule (word-count bounds, mean word length, alpha fraction, symbol
    ratio, stopword floor) on adversarial token soups."""
    import re

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.functions import (
        text as T,
    )

    text = " ".join(tokens)
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    [row] = df.select(T.gopher_keep().alias("keep")).collect()

    toks = re.split(r"\s+", text.strip())  # mirrors size(split(trim()))
    n = len(toks)
    nonspace = len(re.sub(r"\s+", "", text))
    avg_len = round(nonspace / max(n, 1), 6)
    alpha = round(
        sum(1 for w in toks if re.search("[a-zA-Z]", w)) / max(n, 1), 6
    )
    sym = round(len(re.findall(r"#|\.\.\.", text)) / max(n, 1), 6)
    stops = len(
        re.findall(r"\b(the|a|and|of|in|to|is|it)\b", text.lower())
    )
    want = int(
        20 <= n <= 5000
        and 3.0 <= avg_len <= 10.0
        and alpha >= 0.8
        and sym <= 0.1
        and stops >= 2
    )
    assert row["keep"] == want, (text, n, avg_len, alpha, sym, stops)


@given(
    doc_words=_bm25_docs,
    cuts=st.sets(st.integers(1, 9), max_size=2),
)
@_SETTINGS
def test_streaming_bm25_matches_batch_under_any_split(spark, doc_words, cuts):
    """Folding doc micro-batches through the index state yields exactly
    the batch BM25 ranking over the union, for any batch boundaries —
    every statistic is an associative sum, and the commit protocol
    makes a replay of the last batch a no-op."""
    import tempfile

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.retrieval import (
        bm25_topk,
    )
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.index import (
        merge_index_batch,
        read_bm25_topk,
    )

    terms = ("hash", "join")
    docs = [(i, " ".join(ws)) for i, ws in enumerate(doc_words)]
    full = spark.createDataFrame(docs, ["doc_id", "text"])
    want = {
        (r["doc_id"], r["bm25"], r["rnk"])
        for r in bm25_topk(full, terms, k=len(docs)).collect()
    }

    state = tempfile.mkdtemp(prefix="bm25_prop_") + "/s"
    bounds = sorted(c for c in cuts if c < len(docs)) + [len(docs)]
    bid = 0
    lo = 0
    last = None
    for hi in bounds:
        batch = docs[lo:hi]
        lo = hi
        if not batch:
            continue
        last = (batch, bid)
        merge_index_batch(
            spark.createDataFrame(batch, ["doc_id", "text"]), state, terms, bid
        )
        bid += 1
    if bid == 0:
        return
    got = {
        (r["doc_id"], r["bm25"], r["rnk"])
        for r in read_bm25_topk(spark, state, k=len(docs)).collect()
    }
    assert got == want
    # crash-replay of the final batch must not change the ranking
    batch, i = last
    merge_index_batch(
        spark.createDataFrame(batch, ["doc_id", "text"]), state, terms, i
    )
    got2 = {
        (r["doc_id"], r["bm25"], r["rnk"])
        for r in read_bm25_topk(spark, state, k=len(docs)).collect()
    }
    assert got2 == want


_ts_rows = st.lists(
    st.tuples(
        st.integers(0, 1),       # group
        st.integers(0, 12),      # day index
        st.integers(-30, 30),    # integer revenue
    ),
    min_size=2,
    max_size=30,
)


@given(raw=_ts_rows)
@_SETTINGS
def test_theil_sen_matches_naive(spark, raw):
    """Theil-Sen slope vs a direct Python median of pairwise daily
    slopes (same linear-interpolation median definition)."""
    import datetime as dt

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.timeseries import (  # noqa: F401
        ewma,  # import guard: module must load
    )

    # reuse the registered plan by reconstructing it over a tiny frame
    from pyspark.sql import Window

    base = dt.datetime(2024, 5, 1)
    data = [
        (g, base + dt.timedelta(days=d, hours=d % 2), float(v))
        for g, d, v in raw
    ]
    ev = spark.createDataFrame(data, ["event_type", "ts", "value"])

    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 1e6).cast("bigint"))
        .cast("bigint")
        .alias("rev_micro")
    )
    w = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type", "rev_micro",
        F.datediff("day", F.min("day").over(w)).alias("x"),
    )
    a = idx.select("event_type", F.col("rev_micro").alias("ra"), F.col("x").alias("xa"))
    b = idx.select("event_type", F.col("rev_micro").alias("rb"), F.col("x").alias("xb"))
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("xa") < F.col("xb"))
        .select(
            "event_type",
            ((F.col("rb") - F.col("ra")) / F.lit(1e6) / (F.col("xb") - F.col("xa"))).alias("slope"),
        )
    )
    out = slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.expr("percentile(slope, 0.5D)"), 6).alias("theil_sen_slope"),
    )
    got = {r["event_type"]: (r["n_pairs"], r["theil_sen_slope"]) for r in out.collect()}

    daily_py = {}
    for g, d, v in raw:
        daily_py.setdefault(g, {}).setdefault(d, 0)
        daily_py[g][d] += v
    for g, days in daily_py.items():
        d0 = min(days)
        pts = sorted((d - d0, rev) for d, rev in days.items())
        sl = sorted(
            (rb - ra) / (xb - xa)
            for i, (xa, ra) in enumerate(pts)
            for xb, rb in pts[i + 1:]
        )
        if not sl:
            assert g not in got
            continue
        n = len(sl)
        rank = 0.5 * (n - 1)
        lo = int(rank)
        frac = rank - lo
        med = sl[lo] + frac * (sl[lo + 1] - sl[lo]) if lo + 1 < n else sl[lo]
        n_got, slope_got = got[g]
        assert n_got == n
        assert abs(slope_got - med) <= 1e-6, (g, pts)


_cohort_rows = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 27)),  # (user, day)
    min_size=1,
    max_size=30,
)


@given(raw=_cohort_rows, order_seed=st.integers(0, 5), n_cuts=st.integers(0, 3))
@_SETTINGS
def test_streaming_cohort_matches_batch_under_any_order(
    spark, raw, order_seed, n_cuts
):
    """The cohort state (min first-seen + distinct activity) is
    idempotent and order-insensitive, so ANY shuffling of events into
    ANY micro-batch arrangement — including late-arriving earlier
    events that retroactively re-cohort a user — yields exactly the
    batch matrix."""
    import datetime as dt
    import hashlib
    import tempfile

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.cohort import (
        merge_cohort_batch,
        read_cohort_matrix,
    )

    base = dt.datetime(2024, 1, 1)
    data = [
        (u, base + dt.timedelta(days=d, hours=i % 5))
        for i, (u, d) in enumerate(raw)
    ]

    def mkdf(rows):
        return spark.createDataFrame(rows, ["user_id", "ts"])

    # batch expectation via the same derivation over ALL rows at once
    state = tempfile.mkdtemp(prefix="cohort_prop_all_") + "/s"
    merge_cohort_batch(mkdf(data), state)
    want = {
        (r.cohort_week, r.week_offset): (r.n_active, r.retention)
        for r in read_cohort_matrix(spark, state).collect()
    }
    # naive cross-check of the expectation itself
    weeks = {}
    for u, ts in data:
        monday = (ts - dt.timedelta(days=ts.weekday())).replace(
            hour=0, minute=0, second=0, microsecond=0
        )
        weeks.setdefault(u, set()).add(monday)
    firsts = {u: min(ws) for u, ws in weeks.items()}
    sizes = {}
    for u, f in firsts.items():
        sizes[f] = sizes.get(f, 0) + 1
    cells = {}
    for u, ws in weeks.items():
        for w in ws:
            off = (w - firsts[u]).days // 7
            cells.setdefault((firsts[u], off), set()).add(u)
    naive = {
        k: (len(us), round(len(us) / sizes[k[0]], 6))
        for k, us in cells.items()
    }
    assert want == naive

    # adversarial arrival order: shuffle by md5, chop into batches
    shuffled = sorted(
        data,
        key=lambda r: hashlib.md5(
            f"{order_seed}-{r[0]}-{r[1].isoformat()}".encode()
        ).hexdigest(),
    )
    cuts = sorted({(i * len(shuffled)) // (n_cuts + 1) for i in range(1, n_cuts + 1)})
    bounds = cuts + [len(shuffled)]
    state2 = tempfile.mkdtemp(prefix="cohort_prop_split_") + "/s"
    lo = 0
    for hi in bounds:
        if hi > lo:
            merge_cohort_batch(mkdf(shuffled[lo:hi]), state2)
        lo = hi
    got = {
        (r.cohort_week, r.week_offset): (r.n_active, r.retention)
        for r in read_cohort_matrix(spark, state2).collect()
    }
    assert got == want


def _write_documents(spark, tmpdir, docs):
    """Materialize a synthetic documents table so registry entries (which
    read via catalog.load) can be property-tested on generated corpora."""
    rows = [
        (i, t, "en", f"src{s}", len(t)) for i, (s, t) in enumerate(docs)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/documents.parquet")
    return tmpdir


_WORDS = ["alpha", "beta", "gamma", "delta", "alpha!", "x9", "##", "the"]

_zipf_docs = st.lists(
    st.tuples(
        st.integers(0, 1),  # source
        st.lists(st.sampled_from(_WORDS), min_size=1, max_size=15).map(" ".join),
    ),
    min_size=1,
    max_size=8,
)


@given(docs=_zipf_docs)
@_SETTINGS
def test_zipf_slope_matches_naive(spark, docs):
    """Zipf log-log OLS per source vs a direct Python fit on the same
    normalized term frequencies and tie-broken ranks."""
    import math
    import re
    import tempfile

    import __spark_entry__ as entrymod

    # guarantee >= 2 distinct normalized terms per source (degenerate
    # single-point fits divide by zero by construction)
    sources = {s for s, _ in docs}
    docs = list(docs) + [(s, "anchorone anchortwo") for s in sources]

    sf = _write_documents(
        spark, tempfile.mkdtemp(prefix="zipf_prop_"), docs
    )
    out = entrymod._REGISTRY["zipf_slope"][0](spark, sf)
    got = {
        r["source"]: (r["n_terms"], r["slope"], r["intercept"])
        for r in out.collect()
    }

    tf = {}
    for s, text in docs:
        n = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()
        if not n:
            continue
        for w in n.split(" "):
            tf.setdefault(f"src{s}", {}).setdefault(w, 0)
            tf[f"src{s}"][w] += 1
    for src, counts in tf.items():
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
        pts = [
            (round(math.log(r + 1), 6), round(math.log(c), 6))
            for r, (_, c) in enumerate(ranked)
        ]
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        intercept = (sy - round(slope, 6) * sx) / n
        gn, gslope, gint = got[src]
        assert gn == n
        assert abs(gslope - slope) <= 1e-5, (src, ranked)
        assert abs(gint - intercept) <= 1e-5


_bigram_docs = st.lists(
    st.tuples(
        st.integers(0, 0),
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=10).map(" ".join),
    ),
    min_size=1,
    max_size=6,
)


@given(docs=_bigram_docs)
@_SETTINGS
def test_bigram_lm_score_matches_naive(spark, docs):
    """Add-one-smoothed bigram logprob vs a direct Python LM on the
    same normalized corpus (vocab from non-empty docs, context counts
    over bigram starts)."""
    import math
    import re
    import tempfile

    import __spark_entry__ as entrymod

    sf = _write_documents(
        spark, tempfile.mkdtemp(prefix="bigram_prop_"), docs
    )
    out = entrymod._REGISTRY["bigram_lm_score"][0](spark, sf)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"]) for r in out.collect()
    }

    toks = {}
    for i, (_, text) in enumerate(docs):
        n = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()
        if n:
            toks[i] = n.split(" ")
    cb, ctx, vocab = {}, {}, set()
    for ws in toks.values():
        vocab.update(ws)
        for a, b in zip(ws, ws[1:]):
            cb[(a, b)] = cb.get((a, b), 0) + 1
            ctx[a] = ctx.get(a, 0) + 1
    v = len(vocab)
    want = {}
    for i, ws in toks.items():
        grams = list(zip(ws, ws[1:]))
        if not grams:
            continue
        micro = sum(
            int(round(round(math.log((cb[g] + 1.0) / (ctx[g[0]] + v)), 6) * 1e6))
            for g in grams
        )
        want[i] = (len(grams), round(micro / len(grams)) / 1e6)
    assert set(got) == set(want)
    for i, (n, avg) in want.items():
        assert got[i][0] == n
        assert abs(got[i][1] - avg) <= 1.1e-6, (i, docs)


@given(docs=_bigram_docs)
@_SETTINGS
def test_token_entropy_matches_naive(spark, docs):
    """Unigram Shannon entropy per doc vs a direct Python computation
    (space-split tokens, empty tokens dropped, micro-unit term sums)."""
    import math
    import tempfile

    import __spark_entry__ as entrymod

    sf = _write_documents(
        spark, tempfile.mkdtemp(prefix="entropy_prop_"), docs
    )
    out = entrymod._REGISTRY["token_entropy"][0](spark, sf)
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_types"], r["token_entropy"])
        for r in out.collect()
    }
    want = {}
    for i, (_, text) in enumerate(docs):
        toks = [t for t in text.split(" ") if t != ""]
        if not toks:
            continue
        counts = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        n = len(toks)
        micro = sum(
            int(round(round((c / n) * math.log(c / n), 6) * 1e6))
            for c in counts.values()
        )
        want[i] = (n, len(counts), -micro / 1e6)
    assert set(got) == set(want)
    for i, (n, k, h) in want.items():
        gn, gk, gh = got[i]
        assert (gn, gk) == (n, k)
        assert abs(gh - h) <= 1.1e-6, (i, docs)


def _write_events(spark, tmpdir, rows):
    """Materialize a synthetic events table for registry-entry property
    tests (rows: (event_id, ts, user_id, event_type, value))."""
    spark.createDataFrame(
        [(i, ts, u, t, v, "{}") for i, ts, u, t, v in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/events.parquet")
    return tmpdir


_funnel_events = st.lists(
    st.tuples(
        st.integers(0, 2),                                # user
        st.integers(0, 30),                               # minute
        st.sampled_from(["view", "click", "purchase", "error"]),
    ),
    min_size=1,
    max_size=25,
)


@given(raw=_funnel_events)
@_SETTINGS
def test_event_funnel_matches_naive(spark, raw):
    """Strict-order funnel vs a direct Python walk: first view, first
    click strictly after it, first purchase strictly after that —
    duplicate timestamps and out-of-order stages are the traps."""
    import datetime as dt
    import tempfile

    import __spark_entry__ as entrymod

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=m), u, t, float(i))
        for i, (u, m, t) in enumerate(raw)
    ]
    sf = _write_events(spark, tempfile.mkdtemp(prefix="funnel_prop_"), rows)
    out = entrymod._REGISTRY["event_funnel"][0](spark, sf)
    got = {
        r["user_id"]: (
            r["first_view"], r["first_click"], r["first_purchase"],
            r["funnel_depth"],
        )
        for r in out.collect()
    }

    by_user = {}
    for _i, ts, u, t, _v in rows:
        by_user.setdefault(u, []).append((ts, t))
    want = {}
    for u, evs in by_user.items():
        views = [ts for ts, t in evs if t == "view"]
        fv = min(views) if views else None
        fc = None
        if fv is not None:
            clicks = [ts for ts, t in evs if t == "click" and ts > fv]
            fc = min(clicks) if clicks else None
        fp = None
        if fc is not None:
            purchases = [ts for ts, t in evs if t == "purchase" and ts > fc]
            fp = min(purchases) if purchases else None
        depth = (fv is not None) + (fc is not None) + (fp is not None)
        want[u] = (fv, fc, fp, depth)
    assert got == want


@given(raw=_funnel_events)
@_SETTINGS
def test_attribution_position_matches_naive(spark, raw):
    """U-shaped attribution vs a direct Python credit walk (40/20/40,
    n=1 and n=2 degenerate cases, ties broken by event id)."""
    import datetime as dt
    import tempfile

    import __spark_entry__ as entrymod

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=m), u, t, float(i))
        for i, (u, m, t) in enumerate(raw)
    ]
    sf = _write_events(spark, tempfile.mkdtemp(prefix="attr_prop_"), rows)
    out = entrymod._REGISTRY["attribution_position"][0](spark, sf)
    got = {
        r["event_type"]: (r["n_touches"], r["credited_conversions"])
        for r in out.collect()
    }

    by_user = {}
    for i, ts, u, t, _v in rows:
        by_user.setdefault(u, []).append((ts, i, t))
    credits = {}
    for u, evs in by_user.items():
        purchases = [ts for ts, _i, t in evs if t == "purchase"]
        if not purchases:
            continue
        fp = min(purchases)
        touches = sorted(
            (ts, i, t) for ts, i, t in evs if t != "purchase" and ts < fp
        )
        n = len(touches)
        for pos, (_ts, _i, t) in enumerate(touches, start=1):
            if n == 1:
                c = 1_000_000
            elif n == 2:
                c = 500_000
            elif pos == 1 or pos == n:
                c = 400_000
            else:
                c = int(round(200000.0 / (n - 2)))
            cnt, tot = credits.get(t, (0, 0))
            credits[t] = (cnt + 1, tot + c)
    want = {
        t: (cnt, round(tot / 1e6, 6)) for t, (cnt, tot) in credits.items()
    }
    assert got == want


@given(raw=_funnel_events)
@_SETTINGS
def test_sessionize_matches_naive(spark, raw):
    """Gap sessionization vs a direct Python walk: session boundaries
    at gaps > 30 min, ties broken by event id, per-session stats."""
    import datetime as dt
    import tempfile

    import __spark_entry__ as entrymod

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=m), u, t, float(i))
        for i, (u, m, t) in enumerate(raw)
    ]
    sf = _write_events(spark, tempfile.mkdtemp(prefix="sess_prop_"), rows)
    out = entrymod._REGISTRY["sessionize_stats"][0](spark, sf)
    got = {
        (r["user_id"], r["session_seq"]): (
            r["n_events"], r["session_start_us"], r["session_end_us"],
            r["duration_us"],
        )
        for r in out.collect()
    }

    gap_us = 30 * 60 * 1_000_000
    by_user = {}
    for i, ts, u, _t, _v in rows:
        by_user.setdefault(u, []).append((ts, i))
    want = {}
    for u, evs in by_user.items():
        evs.sort()
        seq = 0
        sess = {}
        prev_us = None
        for ts, _i in evs:
            us = int(ts.timestamp() * 1_000_000)
            if prev_us is None or us - prev_us > gap_us:
                seq += 1
            sess.setdefault(seq, []).append(us)
            prev_us = us
        for s, uss in sess.items():
            want[(u, s)] = (
                len(uss), min(uss), max(uss), max(uss) - min(uss)
            )
    assert got == want


@given(raw=_funnel_events)
@_SETTINGS
def test_user_retention_matches_naive(spark, raw):
    """Next-day retention vs a direct Python (user, day) set walk."""
    import datetime as dt
    import tempfile

    import __spark_entry__ as entrymod

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(days=m % 5, hours=m % 7), u, t, float(i))
        for i, (u, m, t) in enumerate(raw)
    ]
    sf = _write_events(spark, tempfile.mkdtemp(prefix="ret_prop_"), rows)
    out = entrymod._REGISTRY["user_retention"][0](spark, sf)
    got = {
        r["day"]: (r["n_active"], r["n_retained"], r["retention_rate"])
        for r in out.collect()
    }

    days = {(u, ts.date()) for _i, ts, u, _t, _v in rows}
    by_day = {}
    for u, d in days:
        by_day.setdefault(d, set()).add(u)
    want = {}
    for d, users in by_day.items():
        nxt = by_day.get(d + dt.timedelta(days=1), set())
        retained = len(users & nxt)
        key = dt.datetime(d.year, d.month, d.day)
        want[key] = (len(users), retained, round(retained / len(users), 6))
    assert got == want


@given(
    raw=st.lists(
        st.tuples(
            st.integers(0, 3),      # user
            st.integers(0, 27),     # day
            st.integers(0, 1),      # is purchase
            st.integers(1, 40),     # value
        ),
        min_size=1,
        max_size=25,
    ),
    order_seed=st.integers(0, 5),
    n_cuts=st.integers(0, 3),
)
@_SETTINGS
def test_streaming_ltv_matches_batch_under_any_order(
    spark, raw, order_seed, n_cuts
):
    """Additive revenue cells + retro-movable cohorts: any arrival
    order and any batch cuts must reproduce the batch curve, and a
    crash-replay of the final batch must not double revenue."""
    import datetime as dt
    import hashlib
    import tempfile

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.cohort import (
        merge_ltv_batch,
        read_ltv_curve,
    )

    base = dt.datetime(2024, 1, 1)
    data = [
        (u, base + dt.timedelta(days=d, hours=i % 5),
         "purchase" if p else "view", float(v))
        for i, (u, d, p, v) in enumerate(raw)
    ]

    def mkdf(rows):
        return spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string, value double"
        )

    state = tempfile.mkdtemp(prefix="ltv_prop_all_") + "/s"
    merge_ltv_batch(mkdf(data), state, 0)
    want = {
        (r.cohort_week, r.week_offset): (r.cohort_size, r.avg_ltv)
        for r in read_ltv_curve(spark, state).collect()
    }

    shuffled = sorted(
        data,
        key=lambda r: hashlib.md5(
            f"{order_seed}-{r[0]}-{r[1].isoformat()}-{r[3]}".encode()
        ).hexdigest(),
    )
    cuts = sorted({(i * len(shuffled)) // (n_cuts + 1) for i in range(1, n_cuts + 1)})
    bounds = cuts + [len(shuffled)]
    state2 = tempfile.mkdtemp(prefix="ltv_prop_split_") + "/s"
    lo, bid, last = 0, 0, None
    for hi in bounds:
        if hi > lo:
            merge_ltv_batch(mkdf(shuffled[lo:hi]), state2, bid)
            last = (shuffled[lo:hi], bid)
            bid += 1
        lo = hi
    got = {
        (r.cohort_week, r.week_offset): (r.cohort_size, r.avg_ltv)
        for r in read_ltv_curve(spark, state2).collect()
    }
    assert got == want
    # replay of the final batch: additive state must NOT double-count
    batch, i = last
    merge_ltv_batch(mkdf(batch), state2, i)
    got2 = {
        (r.cohort_week, r.week_offset): (r.cohort_size, r.avg_ltv)
        for r in read_ltv_curve(spark, state2).collect()
    }
    assert got2 == want


def _ntile_ref(keys, k=5):
    """SQL ntile: first (n mod k) buckets get ceil(n/k) rows, the rest
    floor(n/k), over the given sort order."""
    n = len(keys)
    big, rem = divmod(n, k)
    out = {}
    i = 0
    for b in range(1, k + 1):
        size = big + (1 if b <= rem else 0)
        for key in keys[i : i + size]:
            out[key] = b
        i += size
    return out


@given(
    orders=st.lists(
        st.tuples(
            st.integers(0, 7),      # customer
            st.integers(0, 20),     # day
            st.integers(1, 500),    # total price (x0.25 -> decimals)
        ),
        min_size=1,
        max_size=30,
    )
)
@_SETTINGS
def test_rfm_quintiles_match_sql_ntile_reference(spark, orders):
    """RFM quintile assignment vs the SQL ntile definition computed in
    Python over the same (metric, customer_id) sort order — bucket
    boundary off-by-ones are the trap when n % 5 != 0."""
    import datetime as dt
    import tempfile

    import __spark_entry__ as entrymod

    base = dt.datetime(2024, 2, 1)
    rows = [
        (cust, base + dt.timedelta(days=d), float(p) * 0.25)
        for cust, d, p in orders
    ]
    tmp = tempfile.mkdtemp(prefix="rfm_prop_")
    spark.createDataFrame(
        [
            (i, c, "O", p, ts, "1-URGENT")
            for i, (c, ts, p) in enumerate(rows)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
    out = entrymod._REGISTRY["rfm_segments"][0](spark, tmp)
    got = {
        (r.r_score, r.f_score, r.m_score): (r.n_customers, r.avg_monetary)
        for r in out.collect()
    }

    per_cust = {}
    for c, ts, p in rows:
        last, freq, mon = per_cust.get(c, (None, 0, 0.0))
        per_cust[c] = (
            ts if last is None or ts > last else last,
            freq + 1,
            mon + p,
        )
    custs = list(per_cust)
    r = _ntile_ref(sorted(custs, key=lambda c: (per_cust[c][0], c)))
    f = _ntile_ref(sorted(custs, key=lambda c: (per_cust[c][1], c)))
    m = _ntile_ref(sorted(custs, key=lambda c: (per_cust[c][2], c)))
    segs = {}
    for c in custs:
        key = (r[c], f[c], m[c])
        cnt, cents = segs.get(key, (0, 0))
        segs[key] = (cnt + 1, cents + int(round(per_cust[c][2] * 100)))
    want = {
        k: (cnt, _r6(cents / 100.0 / cnt)) for k, (cnt, cents) in segs.items()
    }
    assert got == want


@given(raw=_funnel_events)
@_SETTINGS
def test_double_fire_audit_matches_naive(spark, raw):
    """Bucket-decomposed rapid-repeat pairs vs a direct all-pairs scan
    — timestamps are biased onto 30-min bucket edges elsewhere in the
    generator, so boundary pairs (gap exactly == tolerance, pairs
    straddling a bucket edge) are exercised."""
    import datetime as dt
    import tempfile

    import __spark_entry__ as entrymod

    base = dt.datetime(2024, 1, 1)
    # minute*17 % 97 spreads events across ~3 buckets incl. edges
    rows = [
        (i, base + dt.timedelta(minutes=(m * 17) % 97), u, t, float(i))
        for i, (u, m, t) in enumerate(raw)
    ]
    sf = _write_events(spark, tempfile.mkdtemp(prefix="dfire_prop_"), rows)
    out = entrymod._REGISTRY["double_fire_audit"][0](spark, sf)
    got = {
        (r.first_id, r.dup_id): (r.user_id, r.event_type, r.gap_us)
        for r in out.collect()
    }
    tol = 1800 * 1_000_000
    want = {}
    for i, ts_i, u_i, t_i, _ in rows:
        for j, ts_j, u_j, t_j, _ in rows:
            if (
                i < j
                and u_i == u_j
                and t_i == t_j
                and abs(int((ts_j - ts_i).total_seconds() * 1e6)) <= tol
            ):
                want[(i, j)] = (
                    u_i, t_i, int((ts_j - ts_i).total_seconds() * 1e6)
                )
    assert got == want


@given(
    raw=st.lists(
        st.tuples(
            st.integers(0, 1),       # event_type index
            st.integers(0, 27),      # day
            st.integers(-40, 40),    # value
        ),
        min_size=1,
        max_size=25,
    )
)
@_SETTINGS
def test_wow_growth_matches_naive(spark, raw):
    """Week-over-week growth vs a direct Python weekly walk (micro-unit
    sums, lag over EXISTING weeks only — missing weeks are not
    zero-filled — NULL growth on each type's first week, negative
    denominators through abs())."""
    import datetime as dt
    import tempfile

    import __spark_entry__ as entrymod

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(days=d, hours=i % 4), i % 3,
         ["view", "purchase"][t], float(v) * 0.5)
        for i, (t, d, v) in enumerate(raw)
    ]
    sf = _write_events(spark, tempfile.mkdtemp(prefix="wow_prop_"), rows)
    out = entrymod._REGISTRY["wow_growth"][0](spark, sf)
    got = {
        (r.event_type, r.week): (r.n_events, r.total_value, r.wow_growth)
        for r in out.collect()
    }

    wk = {}
    for _i, ts, _u, t, v in rows:
        monday = (ts - dt.timedelta(days=ts.weekday())).replace(
            hour=0, minute=0, second=0, microsecond=0
        )
        micro, n = wk.get((t, monday), (0, 0))
        wk[(t, monday)] = (micro + int(round(v * 1e6)), n + 1)
    want = {}
    by_type = {}
    for (t, w), (micro, n) in wk.items():
        by_type.setdefault(t, []).append((w, micro, n))
    for t, seq in by_type.items():
        seq.sort()
        prev = None
        for w, micro, n in seq:
            growth = (
                None if prev is None or prev == 0  # zero-sum prior week
                else _r6((micro - prev) / abs(prev))
            )
            want[(t, w)] = (n, round(micro / 1e6, 6), growth)
            prev = micro
    assert set(got) == set(want)
    for k, (n, tv, g) in want.items():
        gn, gtv, gg = got[k]
        assert (gn, gtv) == (n, tv), k
        if g is None:
            assert gg is None, k
        else:
            assert abs(gg - g) <= 1e-6, k


@given(raw=_funnel_events)
@_SETTINGS
def test_scd2_history_matches_naive(spark, raw):
    """Changelog-to-SCD2 rewrite vs a direct Python lead-chain:
    valid_to = next purchase's ts per user (ties by event id),
    is_current on the last row only."""
    import datetime as dt
    import tempfile

    import __spark_entry__ as entrymod

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=m), u, t, float(i))
        for i, (u, m, t) in enumerate(raw)
    ]
    sf = _write_events(spark, tempfile.mkdtemp(prefix="scd2h_prop_"), rows)
    out = entrymod._REGISTRY["scd2_history"][0](spark, sf)
    got = {
        r.event_id: (r.user_id, r.valid_from, r.valid_to, r.is_current)
        for r in out.collect()
    }

    by_user = {}
    for i, ts, u, t, _v in rows:
        if t == "purchase":
            by_user.setdefault(u, []).append((ts, i))
    want = {}
    for u, evs in by_user.items():
        evs.sort()
        for j, (ts, i) in enumerate(evs):
            nxt = evs[j + 1][0] if j + 1 < len(evs) else None
            want[i] = (u, ts, nxt, nxt is None)
    assert got == want


@given(raw=_funnel_events)
@_SETTINGS
def test_adjacent_pattern_counts_matches_naive(spark, raw):
    """Adjacent-pattern detection vs a direct Python lead walk —
    click->purchase within 1h and error->error within 10 min, with
    ties in ts broken by event id."""
    import datetime as dt
    import tempfile

    import __spark_entry__ as entrymod

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=m), u, t, float(i))
        for i, (u, m, t) in enumerate(raw)
    ]
    sf = _write_events(spark, tempfile.mkdtemp(prefix="adj_prop_"), rows)
    out = entrymod._REGISTRY["adjacent_pattern_counts"][0](spark, sf)
    got = {
        r.user_id: (r.n_click_then_purchase, r.n_error_bursts, r.n_events)
        for r in out.collect()
    }

    by_user = {}
    for i, ts, u, t, _v in rows:
        by_user.setdefault(u, []).append((ts, i, t))
    want = {}
    for u, evs in by_user.items():
        evs.sort()
        cp = eb = 0
        for (ts, _i, t), (nts, _ni, nt) in zip(evs, evs[1:]):
            gap = (nts - ts).total_seconds()
            if t == "click" and nt == "purchase" and gap <= 3600:
                cp += 1
            if t == "error" and nt == "error" and gap <= 600:
                eb += 1
        want[u] = (cp, eb, len(evs))
    assert got == want


@given(raw=_funnel_events)
@_SETTINGS
def test_mode_stats_matches_naive(spark, raw):
    """Exact per-group mode with the pinned lowest-id tiebreak."""
    import datetime as dt
    import tempfile

    import __spark_entry__ as entrymod

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=m), u, t, float(i))
        for i, (u, m, t) in enumerate(raw)
    ]
    sf = _write_events(spark, tempfile.mkdtemp(prefix="mode_prop_"), rows)
    out = entrymod._REGISTRY["mode_stats"][0](spark, sf)
    got = {
        r.event_type: (r.mode_user, r.mode_count, r.n_distinct_users)
        for r in out.collect()
    }

    counts = {}
    for _i, _ts, u, t, _v in rows:
        counts.setdefault(t, {}).setdefault(u, 0)
        counts[t][u] += 1
    want = {}
    for t, per_user in counts.items():
        mode_user = min(per_user, key=lambda u: (-per_user[u], u))
        want[t] = (mode_user, per_user[mode_user], len(per_user))
    assert got == want


@given(raw=_funnel_events)
@_SETTINGS
def test_conversion_lag_matches_naive(spark, raw):
    """First-view -> first-purchase lag percentiles vs a direct Python
    walk (converters only, purchase-before-view excluded, empty
    converter set yields count 0 with NULL stats)."""
    import datetime as dt
    import tempfile

    import __spark_entry__ as entrymod

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=m), u, t, float(i))
        for i, (u, m, t) in enumerate(raw)
    ]
    sf = _write_events(spark, tempfile.mkdtemp(prefix="clag_prop_"), rows)
    out = entrymod._REGISTRY["conversion_lag_stats"][0](spark, sf)
    [r] = out.collect()

    firsts = {}
    for _i, ts, u, t, _v in rows:
        fv, fp = firsts.get(u, (None, None))
        if t == "view" and (fv is None or ts < fv):
            fv = ts
        if t == "purchase" and (fp is None or ts < fp):
            fp = ts
        firsts[u] = (fv, fp)
    lags = sorted(
        (fp - fv).total_seconds()
        for fv, fp in firsts.values()
        if fv is not None and fp is not None and fp >= fv
    )

    def pct(q):
        n = len(lags)
        rank = q * (n - 1)
        lo = int(rank)
        frac = rank - lo
        if lo + 1 < n:
            return lags[lo] + frac * (lags[lo + 1] - lags[lo])
        return lags[lo]

    assert r.n_converters == len(lags)
    if not lags:
        assert r.p50_sec is None and r.min_sec is None
    else:
        assert abs(r.p50_sec - round(pct(0.5), 6)) <= 1e-6
        assert abs(r.p90_sec - round(pct(0.9), 6)) <= 1e-6
        assert r.min_sec == round(lags[0], 6)
        assert r.max_sec == round(lags[-1], 6)


@given(raw=_funnel_events)
@_SETTINGS
def test_interarrival_stats_matches_naive(spark, raw):
    """Per-user gap stats vs a direct Python lag walk (single-event
    users emit a row with zero gaps and NULL min/max/total)."""
    import datetime as dt
    import tempfile

    import __spark_entry__ as entrymod

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=m), u, t, float(i))
        for i, (u, m, t) in enumerate(raw)
    ]
    sf = _write_events(spark, tempfile.mkdtemp(prefix="iarr_prop_"), rows)
    out = entrymod._REGISTRY["interarrival_stats"][0](spark, sf)
    got = {
        r.user_id: (r.n_gaps, r.min_gap_us, r.max_gap_us, r.total_gap_us)
        for r in out.collect()
    }

    by_user = {}
    for i, ts, u, _t, _v in rows:
        by_user.setdefault(u, []).append((ts, i))
    want = {}
    for u, evs in by_user.items():
        evs.sort()
        gaps = [
            int((b[0] - a[0]).total_seconds() * 1_000_000)
            for a, b in zip(evs, evs[1:])
        ]
        if gaps:
            want[u] = (len(gaps), min(gaps), max(gaps), sum(gaps))
        else:
            want[u] = (0, None, None, None)
    assert got == want


@given(raw=_funnel_events)
@_SETTINGS
def test_rolling_dau_matches_naive(spark, raw):
    """Trailing 7-row DAU window vs a direct Python walk over the
    sorted ACTIVE days (calendar gaps are not zero-filled — the window
    is row-based over days that exist, as documented)."""
    import datetime as dt
    import tempfile

    import __spark_entry__ as entrymod

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(days=m % 11, hours=m % 6), u, t, float(i))
        for i, (u, m, t) in enumerate(raw)
    ]
    sf = _write_events(spark, tempfile.mkdtemp(prefix="dau_prop_"), rows)
    out = entrymod._REGISTRY["rolling_dau"][0](spark, sf)
    got = {
        r.day: (r.dau, r.dau_7d_sum, r.dau_7d_avg) for r in out.collect()
    }

    per_day = {}
    for _i, ts, u, _t, _v in rows:
        per_day.setdefault(ts.date(), set()).add(u)
    days = sorted(per_day)
    want = {}
    for idx, d in enumerate(days):
        window = days[max(0, idx - 6) : idx + 1]
        daus = [len(per_day[x]) for x in window]
        want[d] = (
            len(per_day[d]), sum(daus), round(sum(daus) / len(daus), 6)
        )
    assert set(got) == set(want)
    for d, (dau, s, avg) in want.items():
        gd, gs, gavg = got[d]
        assert (gd, gs) == (dau, s), d
        assert abs(gavg - avg) <= 1e-6, d


@given(
    vals=st.lists(st.integers(-50, 550), min_size=1, max_size=40)
)
@_SETTINGS
def test_value_histogram_matches_naive(spark, vals):
    """Fixed-bin histogram + CDF vs direct Python binning — negative
    values clamp to bin 0, overflow clamps to the last bin, cumulative
    shares sum over ascending bins."""
    import datetime as dt
    import tempfile

    import __spark_entry__ as entrymod

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), i % 3, "view", float(v) * 0.5)
        for i, v in enumerate(vals)
    ]
    sf = _write_events(spark, tempfile.mkdtemp(prefix="hist_prop_"), rows)
    out = entrymod._REGISTRY["value_histogram"][0](spark, sf)
    got = {
        r.bin: (r.bin_lo, r.n_events, r.cum_events, r.cum_share)
        for r in out.collect()
    }

    import math

    w, nb = 25.0, 20
    counts = {}
    for v in vals:
        b = int(min(max(math.floor((v * 0.5) / w), 0), nb - 1))
        counts[b] = counts.get(b, 0) + 1
    total = sum(counts.values())
    cum = 0
    want = {}
    for b in sorted(counts):
        cum += counts[b]
        want[b] = (b * w, counts[b], cum, _r6(cum / total))
    assert set(got) == set(want)
    for b, (lo, n, c, share) in want.items():
        glo, gn, gc, gshare = got[b]
        assert (glo, gn, gc) == (lo, n, c), b
        assert abs(gshare - share) <= 1e-6, b


@given(raw=_funnel_events)
@_SETTINGS
def test_path_ngrams_matches_naive(spark, raw):
    """Journey trigram mining vs a direct Python path walk (paths
    ordered by (ts, event_id), users shorter than 3 events excluded,
    deterministic top-25)."""
    import datetime as dt
    import tempfile

    import __spark_entry__ as entrymod

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=m), u, t, float(i))
        for i, (u, m, t) in enumerate(raw)
    ]
    sf = _write_events(spark, tempfile.mkdtemp(prefix="path_prop_"), rows)
    out = entrymod._REGISTRY["path_ngrams"][0](spark, sf)
    got = [(r.trigram, r.n, r.n_users) for r in out.collect()]

    by_user = {}
    for i, ts, u, t, _v in rows:
        by_user.setdefault(u, []).append((ts, i, t))
    counts, users = {}, {}
    for u, evs in by_user.items():
        evs.sort()
        p = [t for _ts, _i, t in evs]
        for j in range(len(p) - 2):
            tri = ">".join(p[j : j + 3])
            counts[tri] = counts.get(tri, 0) + 1
            users.setdefault(tri, set()).add(u)
    want = sorted(
        ((t, n, len(users[t])) for t, n in counts.items()),
        key=lambda x: (-x[1], x[0]),
    )[:25]
    assert got == want


@pytest.mark.parametrize(
    "entry_name", ["out_of_order_audit", "out_of_order_audit_scaled"]
)
@given(raw=_funnel_events)
@_SETTINGS
def test_out_of_order_audit_matches_naive(spark, entry_name, raw):
    """Disorder audit vs a direct Python running-max walk in offset
    order (strictly-earlier-than-running-max counts as late; equal
    timestamps do not).  Round 11: both plan twins."""
    import datetime as dt
    import tempfile

    import __spark_entry__ as entrymod

    base = dt.datetime(2024, 1, 1)
    # ts decoupled from event_id so disorder actually occurs
    rows = [
        (i, base + dt.timedelta(minutes=(m * 13) % 31), u, t, float(i))
        for i, (u, m, t) in enumerate(raw)
    ]
    sf = _write_events(spark, tempfile.mkdtemp(prefix="ooo_prop_"), rows)
    out = entrymod._REGISTRY[entry_name][0](spark, sf)
    got = {
        r.event_type: (
            r.n_events, r.n_late, r.late_frac, r.max_late_us, r.total_late_us
        )
        for r in out.collect()
    }

    by_type = {}
    for i, ts, _u, t, _v in rows:
        by_type.setdefault(t, []).append((i, ts))
    want = {}
    for t, evs in by_type.items():
        evs.sort()  # offset order
        run_max = None
        lates = []
        for _i, ts in evs:
            if run_max is not None and ts < run_max:
                lates.append(int((run_max - ts).total_seconds() * 1_000_000))
            run_max = ts if run_max is None or ts > run_max else run_max
        want[t] = (
            len(evs),
            len(lates),
            round(len(lates) / len(evs), 6),
            max(lates) if lates else None,
            sum(lates),
        )
    assert got == want


_asof_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 12), st.integers(0, 9)),
    min_size=1,
    max_size=20,
)


@given(left=_asof_rows, right=_asof_rows)
@_SETTINGS
def test_asof_join_both_directions_match_naive(spark, left, right):
    """Backward and forward as-of joins vs direct Python scans,
    including the pinned tiebreaks: equal-ts right rows resolve to the
    struct-MAX payload backward and struct-MIN payload forward;
    left rows at exactly a right ts match in both directions."""
    import pyspark.sql.functions as F  # noqa: F401

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.joins import (
        asof_join,
        asof_join_forward,
    )

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t, _) in enumerate(left)], ["l_id", "k", "lts"]
    )
    rdf = spark.createDataFrame(
        [(k, t, v) for k, t, v in right], ["k", "rts", "v"]
    )

    back = {
        r["l_id"]: (r["matched_v"], r["matched_rts"])
        for r in asof_join(
            ldf, rdf, key="k", left_ts="lts", right_ts="rts", right_cols=["v"]
        ).collect()
    }
    fwd = {
        r["l_id"]: (r["next_v"], r["next_rts"])
        for r in asof_join_forward(
            ldf, rdf, key="k", left_ts="lts", right_ts="rts", right_cols=["v"]
        ).collect()
    }

    for i, (k, lt, _) in enumerate(left):
        prior = [(rt, v) for rk, rt, v in right if rk == k and rt <= lt]
        if prior:
            mts = max(rt for rt, _ in prior)
            want_v = max(v for rt, v in prior if rt == mts)
            assert back[i] == (want_v, mts), ("back", i)
        else:
            assert back[i] == (None, None), ("back", i)
        future = [(rt, v) for rk, rt, v in right if rk == k and rt >= lt]
        if future:
            mts = min(rt for rt, _ in future)
            want_v = min(v for rt, v in future if rt == mts)
            assert fwd[i] == (want_v, mts), ("fwd", i)
        else:
            assert fwd[i] == (None, None), ("fwd", i)


_join_rows = st.lists(
    st.tuples(st.integers(0, 6), st.integers(-20, 20)),
    min_size=0,
    max_size=25,
)


@given(fact=_join_rows, dim=_join_rows, parts=st.integers(1, 6))
@_SETTINGS
def test_salted_join_equals_plain_join(spark, fact, dim, parts):
    """The skew-salted join must produce EXACTLY the plain join's
    multiset — one output row per matching fact x dim pair, under
    duplicate keys on both sides and any salt width."""
    from collections import Counter

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.skew import (
        salted_join,
    )

    if not fact or not dim:
        return
    f = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(fact)], ["f_id", "fk", "fv"]
    )
    d = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(dim)], ["d_id", "dk", "dv"]
    )
    got = Counter(
        (r["f_id"], r["d_id"])
        for r in salted_join(
            f, d, on=[("fk", "dk")], salt_partitions=parts
        ).collect()
    )
    want = Counter(
        (fi, di)
        for fi, (fk, _) in enumerate(fact)
        for di, (dk, _) in enumerate(dim)
        if fk == dk
    )
    assert got == want


@given(fact=_join_rows, dim=_join_rows)
@_SETTINGS
def test_bloom_semi_join_equals_exact_semi(spark, fact, dim):
    """Bloom pre-pruning must never change the semi-join result —
    false positives are removed by the exact join, and a false
    NEGATIVE (the impossible case this guards) would drop rows."""
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.bloom import (
        bloom_semi_join,
    )

    if not fact or not dim:
        return
    f = spark.createDataFrame(
        [(i, k) for i, (k, _) in enumerate(fact)], ["f_id", "fk"]
    )
    d = spark.createDataFrame(
        [(i, k) for i, (k, _) in enumerate(dim)], ["d_id", "dk"]
    )
    got = {r["f_id"] for r in bloom_semi_join(f, d, "fk", "dk").collect()}
    dkeys = {k for k, _ in dim}
    want = {i for i, (k, _) in enumerate(fact) if k in dkeys}
    assert got == want


_spans = st.lists(
    st.tuples(st.integers(0, 60), st.integers(0, 30)),  # (start, length)
    min_size=0,
    max_size=15,
)


@given(left=_spans, right=_spans, bucket=st.integers(1, 40))
@_SETTINGS
def test_interval_overlap_join_matches_all_pairs(spark, left, right, bucket):
    """Bucket-decomposed span-overlap join vs a direct all-pairs scan
    for ANY bucket width — touching endpoints overlap, spans covering
    many buckets dedupe to one pair, bucket edges are the trap."""
    import datetime as dt

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.joins import (
        interval_overlap_join,
    )

    if not left or not right:
        return
    base = dt.datetime(2024, 1, 1)

    def mk(rows, pre):
        return spark.createDataFrame(
            [
                (
                    i,
                    base + dt.timedelta(seconds=s),
                    base + dt.timedelta(seconds=s + ln),
                )
                for i, (s, ln) in enumerate(rows)
            ],
            [f"{pre}_id", f"{pre}_start", f"{pre}_end"],
        )

    out = interval_overlap_join(
        mk(left, "l"),
        mk(right, "r"),
        left_span=("l_start", "l_end"),
        right_span=("r_start", "r_end"),
        bucket_seconds=bucket,
    )
    got = {(r["l_id"], r["r_id"]) for r in out.collect()}
    want = {
        (li, ri)
        for li, (ls, ll) in enumerate(left)
        for ri, (rs, rl) in enumerate(right)
        if ls <= rs + rl and rs <= ls + ll
    }
    assert got == want


@given(
    ops=st.lists(
        st.tuples(
            st.integers(0, 4),          # key
            st.integers(-50, 50),       # value
            st.booleans(),              # is delete
        ),
        min_size=1,
        max_size=30,
    )
)
@_SETTINGS
def test_apply_changelog_matches_naive_replay(spark, ops):
    """Changelog compaction with delete propagation (reference S9/E2)
    vs a direct Python replay in offset order: latest record per key
    wins, keys whose latest record is a tombstone disappear, and a
    re-insert after a delete resurrects the key."""
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.compaction import (
        apply_changelog,
    )

    rows = [
        (k, v, d, off) for off, (k, v, d) in enumerate(ops)
    ]
    df = spark.createDataFrame(rows, ["k", "v", "__deleted", "off"])
    got = {
        r["k"]: r["v"]
        for r in apply_changelog(df, keys=["k"], offset_col="off").collect()
    }
    state = {}
    for k, v, d, _off in rows:  # offset == arrival order here
        if d:
            state.pop(k, None)
        else:
            state[k] = v
    assert got == state


@given(
    ops=st.lists(
        st.tuples(
            st.integers(0, 3),          # key
            st.integers(-30, 30),       # value
            st.booleans(),              # is delete
        ),
        min_size=1,
        max_size=25,
    ),
    cuts=st.sets(st.integers(1, 24), max_size=3),
)
@_SETTINGS
def test_upsert_sink_split_invariant_with_tombstones(spark, ops, cuts):
    """The keyed-upsert MERGE sink (reference S9/E2) folded batch by
    batch — with tombstones and resurrections — must equal the
    one-shot changelog replay, and a re-delivery of the LAST batch
    (the only re-delivery checkpointed foreachBatch can produce) must
    be a no-op.  Re-delivering an OLDER batch after a tombstone is NOT
    covered by the sink's contract: an applied tombstone is dropped,
    so the key would resurrect — the Kafka delete.retention.ms
    boundary, documented in streaming/upsert.py."""
    import tempfile

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.compaction import (
        apply_changelog,
    )
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.upsert import (
        read_state,
        upsert_batch,
    )

    rows = [(k, v, d, off) for off, (k, v, d) in enumerate(ops)]
    cols = ["k", "v", "__deleted", "off"]
    df_all = spark.createDataFrame(rows, cols)
    want = {
        (r["k"], r["v"])
        for r in apply_changelog(df_all, keys=["k"], offset_col="off").collect()
    }

    state = tempfile.mkdtemp(prefix="upsert_prop_")
    bounds = sorted(c for c in cuts if c < len(rows)) + [len(rows)]
    lo = 0
    last_batch = None
    for hi in bounds:
        batch = rows[lo:hi]
        lo = hi
        if not batch:
            continue
        last_batch = batch
        upsert_batch(
            spark.createDataFrame(batch, cols), state,
            keys=["k"], offset_col="off",
        )
    # crash re-delivery of the LAST batch must be a no-op
    upsert_batch(
        spark.createDataFrame(last_batch, cols), state,
        keys=["k"], offset_col="off",
    )
    got = {
        (r["k"], r["v"]) for r in read_state(spark, state).select("k", "v").collect()
    }
    assert got == want


@given(
    body=st.text(alphabet=st.sampled_from(list("ab c")), min_size=20, max_size=120),
    prefix=st.text(alphabet=st.sampled_from(list("xy z")), min_size=1, max_size=40),
)
@_SETTINGS
def test_cdc_chunking_is_shift_invariant(spark, body, prefix):
    """The property content-defined chunking exists for: prepending
    arbitrary content must leave the body's INTERIOR chunks (all but
    the positional first and last) byte-identical — fixed-size
    chunking fails this for every non-multiple shift."""
    import __spark_entry__ as entrymod
    import pyspark.sql.functions as F

    body = " ".join(body.split())  # pre-normalized (single spaces)
    prefix = " ".join(prefix.split())
    if len(body) < 16 or not prefix:
        return
    shifted = prefix + " " + body

    def chunks(s):
        df = spark.createDataFrame([(s,)], ["n"])
        rows = (
            df.withColumn("bf", F.expr(entrymod._CDC_BOUNDS_SQL))
            .select(F.explode(F.expr(entrymod._CDC_CHUNKS_SQL)).alias("c"))
            .collect()
        )
        return [r["c"] for r in rows]

    base = chunks(body)
    big = chunks(shifted)
    interior = base[1:-1]
    if not interior:
        return
    # every interior chunk of the body appears contiguously in the
    # shifted text's chunking (multiset containment)
    from collections import Counter

    missing = Counter(interior) - Counter(big)
    assert not missing, (body, prefix, base, big)


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(
                ["the quick fox", "lazy dog sleeps", "spark shuffles data",
                 "hash join plan", "broadcast the dim", "sort merge spill"]
            ),
            min_size=3,
            max_size=8,
        ).map(" . ".join),
        min_size=2,
        max_size=10,
    )
)
@_SETTINGS
def test_simhash_blocking_finds_every_close_pair(spark, texts):
    """Pigeonhole-blocking completeness: the blocked simhash pair set
    must contain EVERY pair whose fingerprints are within the hamming
    bound — computed by brute force over the same fingerprints (a
    blocked join may never lose recall against its own guarantee)."""
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.dedup import (
        SIMHASH_MAX_HAMMING,
        simhash_fingerprints,
        simhash_near_dups,
    )

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    fps = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fingerprints(df).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_dups(df).collect()
    }
    want = {
        (a, b)
        for a in fps
        for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= SIMHASH_MAX_HAMMING
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 200),   # quantity (x0.25)
            st.integers(1, 900),   # price    (x0.25)
            st.integers(0, 40),    # discount (x0.01)
        ),
        min_size=3,
        max_size=30,
    )
)
@_SETTINGS
def test_corr_matrix_matches_numpy(spark, rows):
    """One-pass exact-moment Pearson correlations vs numpy.corrcoef on
    the same columns (decimal-quantized inputs, constant columns give
    NaN in both)."""
    import datetime as dt
    import tempfile

    import numpy as np

    import __spark_entry__ as entrymod

    base = dt.datetime(2024, 1, 1)
    data = [
        (i, 1, 1, 1, round(q * 0.25, 2), round(p * 0.25, 2),
         round(d * 0.01, 2), 0.0, "N", "O", base)
        for i, (q, p, d) in enumerate(rows)
    ]
    tmp = tempfile.mkdtemp(prefix="corr_prop_")
    spark.createDataFrame(
        data,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")
    [r] = entrymod._REGISTRY["corr_matrix"][0](spark, tmp).collect()

    q = np.array([round(x * 0.25, 2) for x, _, _ in rows])
    p = np.array([round(x * 0.25, 2) for _, x, _ in rows])
    d = np.array([round(x * 0.01, 2) for _, _, x in rows])
    assert r.n == len(rows)

    def check(got, a, b):
        if np.std(a) == 0 or np.std(b) == 0:
            assert got is None or np.isnan(got)
            return
        want = float(np.corrcoef(a, b)[0, 1])
        assert abs(got - want) <= 1e-4, (got, want)

    check(r.corr_qty_price, q, p)
    check(r.corr_qty_disc, q, d)
    check(r.corr_price_disc, p, d)


# --- graph family vs naive Python references -------------------------------
# The mirrored-oracle blind spot applies doubly to the graph operators:
# their DuckDB oracles are unrolled transliterations of the same
# iteration, so a shared formula bug would hash green.  These properties
# check them against structurally different naive implementations
# (triple enumeration, dense dict PageRank, repeated-peel k-core).

from pyspark.sql.types import LongType, StructField, StructType

_GRAPH_SCHEMA = StructType(
    [StructField("u", LongType(), False), StructField("v", LongType(), False)]
)

# undirected simple graphs on nodes 0..7, stored u < v, no duplicates
_undirected = st.sets(
    st.tuples(st.integers(0, 7), st.integers(0, 7)).map(
        lambda p: (min(p), max(p))
    ).filter(lambda p: p[0] != p[1]),
    min_size=0,
    max_size=20,
)


@given(edges=_undirected)
@_SETTINGS
def test_triangle_count_matches_triple_enumeration(spark, edges):
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.graph import (
        triangle_count,
    )

    df = spark.createDataFrame(sorted(edges), _GRAPH_SCHEMA)
    [r] = triangle_count(df).collect()

    es = set(edges)
    nodes = sorted({n for e in es for n in e})
    tris = 0
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if (a, b) not in es:
                continue
            for c in nodes:
                if c > b and (a, c) in es and (b, c) in es:
                    tris += 1
    assert r.n_triangles == tris, (sorted(es), tris, r.n_triangles)
    assert r.n_edges == len(es)
    assert r.n_nodes == len(nodes)


# directed simple graphs on nodes 0..7, no self-loops, no duplicates
_directed = st.sets(
    st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(
        lambda p: p[0] != p[1]
    ),
    min_size=1,
    max_size=20,
)


@given(edges=_directed, iters=st.integers(1, 4))
@_SETTINGS
def test_pagerank_fixed_matches_dense_reference(spark, edges, iters):
    """pagerank_fixed is exact integer arithmetic, so the naive dense
    replay must agree BIT-FOR-BIT, not within tolerance."""
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.graph import (
        pagerank_fixed,
    )

    df = spark.createDataFrame(
        sorted(edges),
        StructType(
            [
                StructField("src", LongType(), False),
                StructField("dst", LongType(), False),
            ]
        ),
    )
    out = pagerank_fixed(df, iterations=iters)
    got = {r["node"]: r["rank"] for r in out.collect()}
    out.unpersist()

    scale, damping = 1_000_000_000, 85
    base = (scale * (100 - damping)) // 100
    nodes = sorted({n for e in edges for n in e})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {n: scale for n in nodes}
    for _ in range(iters):
        inflow = {n: 0 for n in nodes}
        for s, d in edges:
            inflow[d] += rank[s] // outdeg[s]
        rank = {n: base + (damping * inflow[n]) // 100 for n in nodes}
    assert got == rank


@given(edges=_undirected, k=st.integers(1, 3), rounds=st.integers(1, 4))
@_SETTINGS
def test_kcore_peel_matches_repeated_peel(spark, edges, k, rounds):
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.graph import (
        kcore_peel,
    )

    df = spark.createDataFrame(sorted(edges), _GRAPH_SCHEMA)
    out = kcore_peel(df, k=k, rounds=rounds)
    got = {r["node"]: r["core_degree"] for r in out.collect()}
    flags = {r["converged"] for r in out.collect()}
    out.unpersist()

    es = set(edges)
    alive = {n for e in es for n in e}
    counts = []
    deg: dict = {}
    for _ in range(rounds):
        deg = {n: 0 for n in alive}
        for a, b in es:
            if a in alive and b in alive:
                deg[a] += 1
                deg[b] += 1
        alive = {n for n in alive if deg[n] >= k}
        counts.append(len(alive))
    want = {n: deg[n] for n in alive}
    assert got == want, (sorted(es), k, rounds, got, want)
    want_converged = len(counts) >= 2 and counts[-1] == counts[-2]
    if got:  # flag rides on survivor rows; empty survivors = empty frame
        assert flags == {want_converged}


# --- kmeans_fixed vs a naive numpy Lloyd replay -----------------------------

_km_vecs = st.lists(
    st.tuples(
        st.integers(-3, 3), st.integers(-3, 3),
        st.integers(-3, 3), st.integers(-3, 3),
    ).filter(lambda v: any(v)),  # zero-norm cosine is NULL; tested elsewhere
    min_size=4,
    max_size=24,
)


def _r6(x: float) -> float:
    """Spark round(_, 6): HALF_UP on the double's shortest decimal repr
    (BigDecimal.valueOf semantics)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


@given(vs=_km_vecs, stride=st.integers(3, 8), iters=st.integers(1, 2))
@_SETTINGS
def test_kmeans_fixed_matches_naive_lloyd(spark, vs, stride, iters):
    """Stride-init fixed-iteration Lloyd vs an independent Python
    replay: same init rule, cosine argmax with lowest-id tie-break,
    6dp-rounded means.  Assignments must agree except where the naive
    margin is within float noise of a 6dp rounding boundary."""
    import math

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.similarity import (
        kmeans_fixed,
    )

    rows = [(i, [float(c) for c in v]) for i, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, _cent = kmeans_fixed(df, n_iters=iters, centroid_stride=stride)
    got = {r.vec_id: r.cluster_id for r in assigned.collect()}

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        if na * nb == 0:
            return None
        return _r6(sum(x * y for x, y in zip(a, b)) / (na * nb))

    cents = {i: list(v) for i, v in rows if i % stride == 0}
    assign: dict[int, int] = {}
    margins: dict[int, float] = {}
    for _ in range(iters):
        assign, margins = {}, {}
        for i, v in rows:
            scored = sorted(
                ((c, cos(v, cv)) for c, cv in cents.items()
                 if cos(v, cv) is not None),
                key=lambda t: (-t[1], t[0]),
            )
            assign[i] = scored[0][0]
            margins[i] = (
                scored[0][1] - scored[1][1] if len(scored) > 1 else 1.0
            )
        new_cents: dict[int, list[float]] = {}
        for c in set(assign.values()):
            members = [v for i, v in rows if assign[i] == c]
            new_cents[c] = [
                _r6(sum(col) / len(members)) for col in zip(*members)
            ]
        cents = new_cents

    for i, want in assign.items():
        if margins[i] > 2e-6:  # skip float-noise-level near-ties
            assert got[i] == want, (i, got[i], want, vs)


# --- pq_topk vs a naive integer-exact PQ replay -----------------------------

_pq_vecs = st.lists(
    st.lists(st.integers(-4, 4), min_size=64, max_size=64),
    min_size=30,
    max_size=60,
)


@given(vs=_pq_vecs, k=st.integers(1, 4))
@_SETTINGS
def test_pq_topk_matches_naive_integer_replay(spark, vs, k):
    """Product quantization is all integer micro-unit arithmetic, so an
    independent Python replay (codeword stride init, per-subspace
    argmin with low-code tie-break, summed table lookups, rank by
    (distance, id)) must agree BIT-FOR-BIT."""
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.similarity import (
        PQ_CODES,
        PQ_CW_STRIDE,
        PQ_DSUB,
        PQ_SUBS,
        pq_topk,
    )

    n_queries = 3
    rows = [(i, [float(c) for c in v]) for i, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.query_id, r.rnk): (r.neighbor_id, r.approx_d2)
        for r in pq_topk(df, n_queries=n_queries, k=k).collect()
    }

    def subdist_micro(a, b, s):
        lo = s * PQ_DSUB
        d2 = sum(
            (x - y) ** 2 for x, y in zip(a[lo:lo + PQ_DSUB], b[lo:lo + PQ_DSUB])
        )
        return int(round(_r6(d2) * 1e6))

    cws = {
        i // PQ_CW_STRIDE: v
        for i, v in rows
        if i % PQ_CW_STRIDE == 0 and i < PQ_CODES * PQ_CW_STRIDE
    }
    codes = {
        i: [
            min(cws, key=lambda c: (subdist_micro(v, cws[c], s), c))
            for s in range(PQ_SUBS)
        ]
        for i, v in rows
    }
    want = {}
    for qid, qv in rows[:n_queries]:
        dtab = {
            (s, c): subdist_micro(qv, cws[c], s)
            for c in cws
            for s in range(PQ_SUBS)
        }
        scored = sorted(
            (
                sum(dtab[(s, codes[i][s])] for s in range(PQ_SUBS)),
                i,
            )
            for i, _ in rows
            if i != qid
        )
        for rnk, (admic, nid) in enumerate(scored[:k], 1):
            want[(qid, rnk)] = (nid, admic / 1e6)
    assert got == want


# --- time_weighted_avg vs a naive Decimal LOCF replay -----------------------

_twa_rows = st.lists(
    st.tuples(
        st.integers(0, 2),                       # key
        st.integers(0, 120),                     # second offset (ties likely)
        st.one_of(st.none(), st.integers(-50, 50)),  # value (NULLs too)
    ),
    min_size=1,
    max_size=30,
)


@given(raw=_twa_rows)
@_SETTINGS
def test_time_weighted_avg_matches_naive_locf(spark, raw):
    """LOCF time-weighted average vs an exact-Decimal Python replay:
    half-open spans, zero-width spans for tied timestamps, NULL values
    carrying their holding time out of the numerator only, NULL average
    on a zero total span, and single-sample keys absent entirely."""
    from decimal import Decimal

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.timeseries import (
        time_weighted_avg,
    )

    rows = [
        (k, f"2024-01-01 10:{s // 60:02d}:{s % 60:02d}", None if v is None else float(v), i)
        for i, (k, s, v) in enumerate(raw)
    ]
    df = (
        spark.createDataFrame(rows, "k long, ts_s string, value double, off long")
        .select("k", F.to_timestamp("ts_s").alias("ts"), "value", "off")
    )
    got = {
        r.k: (r.twa_value, r.span_us, r.n_spans)
        for r in time_weighted_avg(df, ["k"], "ts", "value", "off").collect()
    }

    per_key: dict = {}
    for i, (k, s, v) in enumerate(raw):
        per_key.setdefault(k, []).append((s, i, v))
    for k, samples in per_key.items():
        samples.sort(key=lambda t: (t[0], t[1]))
        wv = Decimal(0)
        span = 0
        n = 0
        any_obs = False  # SQL sum over all-NULL is NULL, not 0
        for (s0, _, v0), (s1, _, _) in zip(samples, samples[1:]):
            dt = (s1 - s0) * 1_000_000
            span += dt
            n += 1
            if v0 is not None:
                wv += Decimal(f"{v0:.6f}") * dt
                any_obs = True
        if n == 0:
            assert k not in got, (k, "single-sample key must emit no row")
            continue
        want = (
            None if span == 0 or not any_obs else float(wv) / float(span)
        )
        g_twa, g_span, g_n = got[k]
        assert (g_span, g_n) == (span, n)
        if want is None:
            assert g_twa is None
        else:
            assert g_twa is not None and abs(g_twa - want) <= 1e-12, (k, g_twa, want)


# --- pareto_frontier vs brute-force dominance -------------------------------

_pareto_pts = st.lists(
    st.tuples(st.integers(1, 6), st.integers(1, 6)),
    min_size=1,
    max_size=30,
)


@given(pts=_pareto_pts)
@_SETTINGS
def test_pareto_frontier_matches_bruteforce(spark, pts, tmp_path_factory):
    """The running-max sweep keeps EXACTLY the non-dominated (price asc,
    size desc) signatures — checked against an O(n^2) dominance scan,
    including counts per surviving signature."""
    import __spark_entry__ as entrymod

    tmp = str(tmp_path_factory.mktemp("pareto"))
    rows = [
        (i, f"p{i}", "b", "t", s, q * 0.25)
        for i, (q, s) in enumerate(pts)
    ]
    spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/part.parquet")
    got = {
        (r.price, r.psize): r.n_parts
        for r in entrymod._REGISTRY["pareto_frontier"][0](spark, tmp).collect()
    }

    sigs: dict[tuple[float, int], int] = {}
    for q, s in pts:
        sigs[(q * 0.25, s)] = sigs.get((q * 0.25, s), 0) + 1
    want = {
        (p, s): n
        for (p, s), n in sigs.items()
        if not any(
            p2 <= p and s2 >= s and (p2 < p or s2 > s) for (p2, s2) in sigs
        )
    }
    assert got == want, (pts, got, want)


# --- fuzzy_name_match vs a naive DP Levenshtein linkage ---------------------

_fuzzy_names = st.lists(
    st.tuples(
        st.sampled_from(["box", "cap", "cog"]),            # blocking noun
        st.text(alphabet="abcd", min_size=0, max_size=6),  # adjective
    ),
    min_size=1,
    max_size=25,
)


@given(names=_fuzzy_names)
@_SETTINGS
def test_fuzzy_name_match_matches_naive_linkage(spark, names, tmp_path_factory):
    """Blocked edit-distance linkage vs an O(n^2) Python DP scan over
    the same blocks: same pairs, same distances, same pair counts —
    verifies the length-difference prefilter prunes nothing that
    Levenshtein<=3 would keep."""
    import __spark_entry__ as entrymod

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    tmp = str(tmp_path_factory.mktemp("fuzzy"))
    rows = [
        (i, f"{adj} {noun}", "b", "t", 1, 1.0)
        for i, (noun, adj) in enumerate(names)
    ]
    spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/part.parquet")
    got = {
        (r.noun, r.adj_a, r.adj_b): (r.dist, r.n_pairs)
        for r in entrymod._REGISTRY["fuzzy_name_match"][0](spark, tmp).collect()
    }

    sigs: dict[tuple[str, str], int] = {}
    for noun, adj in names:
        sigs[(noun, adj)] = sigs.get((noun, adj), 0) + 1
    want = {}
    for (n1, a1), c1 in sigs.items():
        for (n2, a2), c2 in sigs.items():
            if n1 == n2 and a1 < a2 and lev(a1, a2) <= 3:
                want[(n1, a1, a2)] = (lev(a1, a2), c1 * c2)
    assert got == want, (names, got, want)


# --- ohlc_bars vs a naive per-bucket scan -----------------------------------

_ohlc_rows = st.lists(
    st.tuples(
        st.integers(0, 1),                       # key
        st.integers(0, 47),                      # hour offset (2 day buckets)
        st.one_of(st.none(), st.integers(-99, 99)),  # value (NULLs too)
    ),
    min_size=1,
    max_size=30,
)


@given(raw=_ohlc_rows)
@_SETTINGS
def test_ohlc_bars_matches_naive(spark, raw):
    """Open/close by arrival offset (NULL value at the winning offset
    stays NULL), high/low skipping NULLs, per (key, day) bucket."""
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.timeseries import (
        ohlc_bars,
    )

    rows = [
        (k, f"2024-01-{1 + h // 24:02d} {h % 24:02d}:00:00",
         None if v is None else float(v), i)
        for i, (k, h, v) in enumerate(raw)
    ]
    df = (
        spark.createDataFrame(rows, "k long, ts_s string, value double, off long")
        .select("k", F.to_timestamp("ts_s").alias("ts"), "value", "off")
    )
    got = {
        (r.k, r.bucket_ts.day): (r.open, r.high, r.low, r.close, r.n_ticks)
        for r in ohlc_bars(df, ["k"], "ts", "value", "off").collect()
    }

    buckets: dict = {}
    for i, (k, h, v) in enumerate(raw):
        buckets.setdefault((k, 1 + h // 24), []).append(
            (i, None if v is None else float(v))
        )
    want = {}
    for key, ticks in buckets.items():
        ticks.sort()
        vals = [v for _, v in ticks if v is not None]
        want[key] = (
            ticks[0][1],
            max(vals) if vals else None,
            min(vals) if vals else None,
            ticks[-1][1],
            len(ticks),
        )
    assert got == want, (raw, got, want)


# --- contamination_flags vs a naive n-gram set intersection -----------------

_decon_docs = st.lists(
    st.lists(st.sampled_from(["Red", "blue-3", "GREEN", "k9"]),
             min_size=0, max_size=8),
    min_size=2,
    max_size=14,
)


@given(docs=_decon_docs)
@_SETTINGS
def test_contamination_flags_match_naive_gram_overlap(spark, docs):
    """Benchmark decontamination vs a Python n-gram set scan: same
    normalization (lowercase, non-alnum runs to single spaces, trim),
    same per-doc distinct grams, same overlap counts; docs shorter than
    the gram width contribute nothing."""
    import re

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.dedup import (
        contamination_flags,
    )

    n_bench = len(docs) // 2
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.n_overlapping_grams
        for r in contamination_flags(
            df.filter(F.col("doc_id") >= n_bench),
            df.filter(F.col("doc_id") < n_bench),
            gram_words=2,
        ).collect()
    }

    def grams(text):
        words = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split(" ")
        if words == [""] or len(words) < 2:
            return set()
        return {tuple(words[i:i + 2]) for i in range(len(words) - 1)}

    bench = set().union(*(grams(t) for _, t in rows[:n_bench]), set())
    want = {}
    for i, t in rows[n_bench:]:
        n = len(grams(t) & bench)
        if n:
            want[i] = n
    assert got == want, (docs, got, want)


# --- PII scrub/count vs a Python re replay ----------------------------------

_pii_frags = st.lists(
    st.sampled_from(
        [
            "hello world",
            "a.b%x@mail.example.com",
            "+1-555-0142",
            "12-345-6789",
            "123-45-6789",
            "987-654-3210 not an ssn shape",
            "x@y.io",
            "9-123-4567",
            "no pii here 12345",
        ]
    ),
    min_size=1,
    max_size=8,
)


@given(frags=_pii_frags)
@_SETTINGS
def test_pii_scrub_and_counts_match_python_re(spark, frags):
    """scrub_pii / pii_counts vs Python re with the identical patterns
    and replacement order — Java regex and re agree on this restricted
    syntax, so outputs must match byte-for-byte."""
    import re

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.functions.text import (
        PII_PATTERNS,
        pii_counts,
        scrub_pii,
    )

    text = " ".join(frags)
    df = spark.createDataFrame([(text,)], ["text"])
    counts = pii_counts(F.col("text"))
    [r] = df.select(
        scrub_pii(F.col("text")).alias("scrubbed"),
        *[c.alias(k) for k, c in counts.items()],
    ).collect()

    want_text = text
    want_counts = {}
    for kind, (pat, placeholder) in PII_PATTERNS.items():
        want_counts[kind] = len(re.findall(pat, text))
    for pat, placeholder in PII_PATTERNS.values():
        want_text = re.sub(pat, placeholder, want_text)
    assert r.scrubbed == want_text, (text, r.scrubbed, want_text)
    for kind, n in want_counts.items():
        assert r[kind] == n, (kind, text)


# --- ivf_topk vs a naive probe replay ---------------------------------------

_ivf_vecs = st.lists(
    st.tuples(
        st.integers(-3, 3), st.integers(-3, 3),
        st.integers(-3, 3), st.integers(-3, 3),
    ).filter(lambda v: any(v)),
    min_size=6,
    max_size=24,
)


@given(vs=_ivf_vecs, stride=st.integers(3, 8), nprobe=st.integers(1, 3))
@_SETTINGS
def test_ivf_topk_matches_naive_probe_replay(spark, vs, stride, nprobe):
    """IVF: stride centroids, max-cosine assignment (lowest-centroid
    tie-break), nprobe closest clusters per query, rank by (cos desc,
    id asc).  All cosine math is the same IEEE op sequence in both
    implementations, so results must agree exactly."""
    import math

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.similarity import (
        ivf_topk,
    )

    n_queries, k = 3, 4
    rows = [(i, [float(c) for c in v]) for i, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.query_id, r.rnk): (r.neighbor_id, r.cos)
        for r in ivf_topk(
            df, n_queries=n_queries, k=k,
            centroid_stride=stride, nprobe=nprobe,
        ).collect()
    }

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return _r6(sum(x * y for x, y in zip(a, b)) / (na * nb))

    cents = {i: v for i, v in rows if i % stride == 0}
    assign = {
        i: max(cents, key=lambda c: (cos(v, cents[c]), -c))
        for i, v in rows
    }
    want = {}
    for qid, qv in rows[:n_queries]:
        probed = sorted(cents, key=lambda c: (-cos(qv, cents[c]), c))[:nprobe]
        cand = sorted(
            ((-cos(v, qv), i) for i, v in rows
             if i != qid and assign[i] in probed),
        )
        for rnk, (negcos, nid) in enumerate(cand[:k], 1):
            want[(qid, rnk)] = (nid, -negcos)
    assert got == want, (vs, stride, nprobe, got, want)


# --- streaming HLL / CMS merges are batch-split invariant -------------------

_sk_keys = st.lists(st.integers(0, 400), min_size=1, max_size=60)
_sk_cuts = st.sets(st.integers(1, 59), max_size=3)


@given(keys=_sk_keys, cuts=_sk_cuts)
@_SETTINGS
def test_streaming_hll_split_invariant(spark, keys, cuts):
    """Folding HLL register max-merges over ANY batch split (including
    re-merging an already-seen key) equals the one-shot batch sketch."""
    import shutil
    import tempfile

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators import (
        sketches as SK,
    )
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.sketches import (
        merge_hll_batch,
        read_hll_estimate,
    )

    def mkdf(ks):
        return spark.createDataFrame([(k,) for k in ks], "k long")

    state = tempfile.mkdtemp(prefix="hllprop_")
    try:
        bounds = sorted(c * len(keys) // 60 for c in cuts) + [len(keys)]
        lo = 0
        for hi in bounds:
            if hi > lo:
                merge_hll_batch(mkdf(keys[lo:hi]), state, "k")
                lo = hi
        [s] = read_hll_estimate(spark, state).collect()
        [b] = SK.hll_estimate(mkdf(keys), "k").collect()
        assert s.asDict() == b.asDict()
    finally:
        shutil.rmtree(state, ignore_errors=True)


@given(keys=_sk_keys, cuts=_sk_cuts)
@_SETTINGS
def test_streaming_cms_split_invariant(spark, keys, cuts):
    """Folding CMS cellwise sums over ANY batch split equals the
    one-shot batch sketch's estimates for every key."""
    import shutil
    import tempfile

    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators import (
        sketches as SK,
    )
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.sketches import (
        merge_cms_batch,
        read_cms_topk,
    )

    def mkdf(ks):
        return spark.createDataFrame([(k,) for k in ks], "k long")

    state = tempfile.mkdtemp(prefix="cmsprop_")
    try:
        bounds = sorted(c * len(keys) // 60 for c in cuts) + [len(keys)]
        lo, batch_id = 0, 0
        for hi in bounds:
            if hi > lo:
                merge_cms_batch(mkdf(keys[lo:hi]), state, "k", batch_id)
                lo, batch_id = hi, batch_id + 1
        cand = mkdf(sorted(set(keys)))
        topk = 1000  # all candidates: compare full estimate vectors
        got = {
            r.k: r.cms_count
            for r in read_cms_topk(
                spark, state, cand, "k", k=topk
            ).collect()
        }
        cells = SK.cms_cells(mkdf(keys), "k").groupBy("i", "col").agg(
            F.sum("cnt").alias("cnt")
        )
        want = {
            r.k: r.cms_count
            for r in SK.cms_estimate_topk(cells, cand, "k", k=topk).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(state, ignore_errors=True)


# --- dup_ngram_coverage vs a naive gram-df scan -----------------------------

_dupgram_docs = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=9),
    min_size=1,
    max_size=12,
)


@given(docs=_dupgram_docs, tmp_seed=st.integers(0, 3))
@_SETTINGS
def test_dup_ngram_coverage_matches_naive(spark, docs, tmp_seed, tmp_path_factory):
    """Per-doc duplicate-5-gram coverage vs a Python scan: same grams
    (with in-doc multiplicity), df counted as docs-containing (not
    occurrences), dup fraction over total gram occurrences; docs
    shorter than 5 tokens emit nothing."""
    import __spark_entry__ as entrymod

    tmp = str(tmp_path_factory.mktemp("dupgram"))
    rows = [
        (i, " ".join(ws), "en", "s", len(" ".join(ws)))
        for i, ws in enumerate(docs)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    got = {
        r.doc_id: (r.n_grams, r.n_dup_grams)
        for r in entrymod._REGISTRY["dup_ngram_coverage"][0](spark, tmp).collect()
    }

    occ: dict = {}
    for i, ws in enumerate(docs):
        for j in range(len(ws) - 4):
            g = tuple(ws[j:j + 5])
            occ[(i, g)] = occ.get((i, g), 0) + 1
    df_count: dict = {}
    for (i, g) in occ:
        df_count[g] = df_count.get(g, 0) + 1
    want: dict = {}
    for (i, g), n in occ.items():
        tot, dup = want.get(i, (0, 0))
        want[i] = (tot + n, dup + (n if df_count[g] >= 2 else 0))
    assert got == want, (docs, got, want)


# --- inverted_index vs a naive postings scan --------------------------------

_inv_docs = st.lists(
    st.lists(st.sampled_from(["x", "y", "zz"]), min_size=1, max_size=8),
    min_size=1,
    max_size=10,
)


@given(docs=_inv_docs)
@_SETTINGS
def test_inverted_index_matches_naive(spark, docs, tmp_path_factory):
    """Term occurrences, document frequency, and the bounded first-5
    posting sample vs a Python dict scan."""
    import __spark_entry__ as entrymod

    tmp = str(tmp_path_factory.mktemp("inv"))
    rows = [
        (i, " ".join(ws), "en", "s", len(" ".join(ws)))
        for i, ws in enumerate(docs)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    got = {
        r.term: (r.n_occ, r.df, r.sample_docs)
        for r in entrymod._REGISTRY["inverted_index"][0](spark, tmp).collect()
    }

    n_occ: dict = {}
    postings: dict = {}
    for i, ws in enumerate(docs):
        for w in ws:
            n_occ[w] = n_occ.get(w, 0) + 1
            postings.setdefault(w, set()).add(i)
    want = {
        t: (
            n_occ[t],
            len(ds),
            ",".join(str(d) for d in sorted(ds)[:5]),
        )
        for t, ds in postings.items()
    }
    assert got == want, (docs, got, want)


# --- vocab_coverage and tokenizer_fertility vs naive scans ------------------

_vocab_docs = st.lists(
    st.lists(st.sampled_from(["ab", "c4", "d", "e-e"]), min_size=0, max_size=8),
    min_size=1,
    max_size=10,
)


@pytest.mark.parametrize(
    "entry_name", ["vocab_coverage", "vocab_coverage_scaled"]
)
@given(docs=_vocab_docs)
@_SETTINGS
def test_vocab_coverage_matches_naive(spark, entry_name, docs, tmp_path_factory):
    """Top-N vocabulary curve vs a Python counter: same normalization,
    (count desc, term asc) ranking, cumulative share at 6dp.  Round
    11: both plan twins."""
    import re

    import __spark_entry__ as entrymod

    tmp = str(tmp_path_factory.mktemp("vocab"))
    rows = [
        (i, " ".join(ws), "en", "s", len(" ".join(ws)))
        for i, ws in enumerate(docs)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    got = {
        r.term_rank: (r.term, r.n_occur, r.cum_share)
        for r in entrymod._REGISTRY[entry_name][0](spark, tmp).collect()
    }

    cnt: dict = {}
    for _, t, *_ in rows:
        n = re.sub(r"[^a-z0-9]+", " ", t.lower()).strip()
        if not n:
            continue
        for w in n.split(" "):
            cnt[w] = cnt.get(w, 0) + 1
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(cnt.values())
    want = {}
    cum = 0
    for rank, (term, n) in enumerate(ranked[:50], 1):
        cum += n
        want[rank] = (term, n, _r6(cum / total))
    assert got == want, (docs, got, want)


@given(docs=_vocab_docs)
@_SETTINGS
def test_tokenizer_fertility_matches_naive(spark, docs, tmp_path_factory):
    """BPE-ish token counts, chars, and the two ratios vs Python re
    with the identical pattern."""
    import re

    import __spark_entry__ as entrymod

    tmp = str(tmp_path_factory.mktemp("fert"))
    rows = [
        (i, " ".join(ws) if ws else "x", "en", "s", 0)
        for i, ws in enumerate(docs)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    [r] = entrymod._REGISTRY["tokenizer_fertility"][0](spark, tmp).collect()

    bpe_pat = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"
    n_chars = sum(len(t) for _, t, *_ in rows)
    n_bpe = sum(len(re.findall(bpe_pat, t)) for _, t, *_ in rows)
    n_ws = sum(len(re.split(r"\s+", t.strip())) for _, t, *_ in rows)
    assert (r.n_docs, r.n_chars, r.n_bpe_tokens) == (len(rows), n_chars, n_bpe)
    assert r.tokens_per_char == _r6(n_bpe / n_chars)
    assert r.fertility == _r6(n_bpe / n_ws)


# --- sequence_pack vs a naive cumulative-binning scan -----------------------

_pack_docs = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2"]),
        st.integers(1, 12),  # token count (words)
    ),
    min_size=1,
    max_size=20,
)


@pytest.mark.parametrize(
    "entry_name", ["sequence_pack", "sequence_pack_scaled"]
)
@given(docs=_pack_docs)
@_SETTINGS
def test_sequence_pack_matches_naive_binning(
    spark, entry_name, docs, tmp_path_factory
):
    """Cumulative-sum 2000-token binning per source vs a Python running
    sum: bin = (cum - tok) // budget in doc-id order, per-bin counts,
    token totals, and doc-id ranges.  Round 11: both plan twins."""
    import __spark_entry__ as entrymod

    budget = 2000
    # token counts large enough that bins roll over: scale words by ~300
    rows = [
        (i, " ".join(["w"] * (ntok * 300)), "en", src, 0)
        for i, (src, ntok) in enumerate(docs)
    ]
    tmp = str(tmp_path_factory.mktemp("pack"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    got = {
        (r.source, r.bin): (r.n_docs, r.tokens_packed, r.first_doc, r.last_doc)
        for r in entrymod._REGISTRY[entry_name][0](spark, tmp).collect()
    }

    want: dict = {}
    cum: dict = {}
    for i, (src, ntok) in enumerate(docs):
        tok = ntok * 300
        start = cum.get(src, 0)
        cum[src] = start + tok
        b = start // budget
        n, t, lo, hi = want.get((src, b), (0, 0, i, i))
        want[(src, b)] = (n + 1, t + tok, min(lo, i), max(hi, i))
    assert got == want, (docs, got, want)


# --- HLL register pyramid: merged dailies == direct weekly ------------------

_pyr_rows = st.lists(
    st.tuples(st.integers(0, 13), st.integers(0, 500)),  # (day, key)
    min_size=1,
    max_size=60,
)


@given(raw=_pyr_rows)
@_SETTINGS
def test_hll_pyramid_merge_equals_direct(spark, raw):
    """The rollup pyramid's central claim: max-merging per-day register
    frames up to the week yields BIT-IDENTICAL registers — and hence
    estimates — to sketching the week's rows directly.  Checked for
    arbitrary day/key multisets including duplicate keys across days."""
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators import (
        sketches as SK,
    )

    df = spark.createDataFrame(
        [(d, k) for d, k in raw], "day int, k long"
    ).withColumn("week", F.expr("day div 7"))
    # per-(week, day) registers, then max-merge up to the week
    daily = SK.hll_registers(df, "k", group_cols=("week", "day"))
    merged = daily.groupBy("week", "bucket").agg(
        F.max("v_max").alias("v_max")
    )
    got = {
        r.week: (r.buckets_used, r.hll_estimate)
        for r in SK.hll_estimate_from_registers(
            merged, group_cols=("week",)
        ).collect()
    }
    want = {
        r.week: (r.buckets_used, r.hll_estimate)
        for r in SK.hll_estimate(df, "k", group_cols=("week",)).collect()
    }
    assert got == want, (raw, got, want)


# --- snapshot_diff vs a naive two-point classification ----------------------

_snap_rows = st.lists(
    st.tuples(
        st.integers(0, 4),     # user
        st.integers(1, 30),    # day of Jan 2024 (cutoff = 15)
        st.integers(0, 2),     # type idx
    ),
    min_size=1,
    max_size=30,
)


@given(raw=_snap_rows)
@_SETTINGS
def test_snapshot_diff_matches_naive(spark, raw, tmp_path_factory):
    """added/changed/unchanged classification of the latest-event-per-
    user table between the Jan-15 snapshot and end of month, vs a
    Python replay (unique event ids make every max_by deterministic)."""
    import __spark_entry__ as entrymod

    tmp = str(tmp_path_factory.mktemp("snap"))
    rows = [
        (i, f"2024-01-{d:02d} 12:00:00", u, f"T{t}", 1.0, "{}")
        for i, (u, d, t) in enumerate(raw)
    ]
    (
        spark.createDataFrame(
            rows,
            "event_id long, ts_s string, user_id long, event_type string,"
            " value double, props string",
        )
        .select(
            "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id",
            "event_type", "value", "props",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{tmp}/events.parquet")
    )
    got = {
        r.user_id: (r.status, r.old_event_id, r.old_type,
                    r.new_event_id, r.new_type)
        for r in entrymod._REGISTRY["snapshot_diff"][0](spark, tmp).collect()
    }

    per_user: dict = {}
    for i, (u, d, t) in enumerate(raw):
        per_user.setdefault(u, []).append((i, d, f"T{t}"))
    want = {}
    for u, evs in per_user.items():
        old = [(i, ty) for i, d, ty in evs if d < 15]
        new_i, _, new_ty = max(evs)
        if not old:
            want[u] = ("added", None, None, new_i, new_ty)
        else:
            old_i, old_ty = max(old)
            status = "unchanged" if old_i == new_i else "changed"
            want[u] = (status, old_i, old_ty, new_i, new_ty)
    assert got == want, (raw, got, want)


# --- gap_fill_locf vs a naive daily grid replay -----------------------------

_gap_rows = st.lists(
    st.tuples(
        st.integers(0, 2),                         # key
        st.integers(1, 20),                        # day of Jan
        st.integers(0, 23),                        # hour (ties on day)
        st.one_of(st.none(), st.integers(-9, 9)),  # value
    ),
    min_size=1,
    max_size=25,
)


@given(raw=_gap_rows)
@_SETTINGS
def test_gap_fill_locf_matches_naive(spark, raw):
    """Daily grid between each key's first and last observed day, with
    per-day close by arrival order and LOCF across missing days —
    including NULL closes carrying the PRIOR day's value forward (last
    ignorenulls skips them) while still marking the day observed."""
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.operators.timeseries import (
        gap_fill_locf,
    )

    rows = [
        (k, f"2024-01-{d:02d} {h:02d}:00:00",
         None if v is None else float(v), i)
        for i, (k, d, h, v) in enumerate(raw)
    ]
    df = (
        spark.createDataFrame(rows, "k long, ts_s string, value double, off long")
        .select("k", F.to_timestamp("ts_s").alias("ts"), "value", "off")
    )
    got = {
        (r.k, r.day.day): (r.value, r.is_filled)
        for r in gap_fill_locf(df, ["k"], "ts", "value", "off").collect()
    }

    per_key: dict = {}
    for i, (k, d, h, v) in enumerate(raw):
        per_key.setdefault(k, {}).setdefault(d, []).append(
            (i, None if v is None else float(v))
        )
    want = {}
    for k, days in per_key.items():
        closes = {d: max(evs)[1] for d, evs in days.items()}
        carry = None
        for d in range(min(days), max(days) + 1):
            if d in closes:
                if closes[d] is not None:
                    carry = closes[d]
                want[(k, d)] = (carry if closes[d] is None else closes[d],
                                False)
            else:
                want[(k, d)] = (carry, True)
    assert got == want, (raw, got, want)


# --- decile_lift vs a naive ntile replay ------------------------------------

_lift_rows = st.lists(
    st.tuples(
        st.integers(0, 24),                         # user
        st.sampled_from(["click", "purchase", "view"]),
        st.one_of(st.none(), st.integers(0, 40)),   # quarter-value
    ),
    min_size=1,
    max_size=50,
)


@given(raw=_lift_rows)
@_SETTINGS
def test_decile_lift_matches_naive_ntile(spark, raw, tmp_path_factory):
    """Decile lift vs a Python replay of SQL ntile(10) with the
    (score desc, user asc) tiebreak: bucket sizes, converted counts,
    and 6dp lifts (NULL when the base rate is zero); users with no
    non-NULL click value are excluded."""
    import __spark_entry__ as entrymod

    tmp = str(tmp_path_factory.mktemp("lift"))
    rows = [
        (i, "2024-01-05 10:00:00", u, t, None if v is None else v * 0.25, "{}")
        for i, (u, t, v) in enumerate(raw)
    ]
    (
        spark.createDataFrame(
            rows,
            "event_id long, ts_s string, user_id long, event_type string,"
            " value double, props string",
        )
        .select("event_id", F.to_timestamp("ts_s").alias("ts"), "user_id",
                "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
    )
    got = {
        r.decile: (r.n_users, r.n_converted, r.lift)
        for r in entrymod._REGISTRY["decile_lift"][0](spark, tmp).collect()
    }

    users: dict = {}
    for u, t, v in raw:
        s = users.setdefault(u, {"clicks": [], "conv": 0})
        if t == "click" and v is not None:
            s["clicks"].append(v * 0.25)
        if t == "purchase":
            s["conv"] = 1
    scored = sorted(
        (
            (-(sum(s["clicks"]) / len(s["clicks"])), u, s["conv"])
            for u, s in users.items()
            if s["clicks"]
        ),
    )
    n = len(scored)
    want = {}
    if n:
        base = sum(c for _, _, c in scored) / n
        sizes = [n // 10 + (1 if i < n % 10 else 0) for i in range(10)]
        pos = 0
        for d, sz in enumerate(sizes, 1):
            if sz == 0:
                continue
            bucket = scored[pos:pos + sz]
            pos += sz
            conv = sum(c for _, _, c in bucket)
            lift = None if base == 0 else _r6(conv / sz / base)
            want[d] = (sz, conv, lift)
    assert got == want, (raw, got, want)
