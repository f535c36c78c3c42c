"""Deduplication operators for large-scale text pipelines.

Four families, all built on one shared shingle+hash substrate so the
DuckDB oracle can reproduce results bit-for-bit:

  exact        — md5(text) hash-groupBy (one shuffle, map-side combine)
  minhash LSH  — char-5-gram shingles → 32 minhashes → 8 bands of 4 →
                 band-bucket self-join for candidates → exact-Jaccard
                 verification on candidates (hash-set intersection)
  simhash      — 60-bit fingerprint from shingle hashes; near-dup pairs
                 via pigeonhole chunk blocking + hamming distance
  (n-gram Jaccard is the verification stage of the minhash path)

Hash substrate (portable across Spark and DuckDB, both produce the same
bigint): ``h(s) = bigint(hex(md5(s)[:15])) % 2^30``, then the i-th
minhash function is ``(a_i*h + b_i) % P`` with fixed odd constants.
md5 is identical everywhere; 15 hex chars = 60 bits fits a signed
bigint; a_i < 2^32 and h < 2^30 keep products under 2^62 (no overflow
in either engine).

P must be SMALL enough that ``a_i*h + b_i`` wraps it many times —
P = 2^31-1 (Mersenne prime) makes each map a genuine pseudo-
permutation of the shingle space.  (A larger prime like 2^61-1 never
wraps: every map is then monotone in ``h``, all 32 "independent"
minhashes collapse to functions of the single minimum base hash, and
any two docs sharing the corpus's globally-minimal shingle collide in
every band — LSH silently degenerates to an all-pairs join.  Measured
on the sf0.1 corpus: 3.27M candidates with the monotone maps vs ~2k
truly-similar candidates with wrapping maps.)

Scale design: everything is explode → hash-aggregate → equi-join.
Shingling is a narrow op; minhash signatures are one groupBy(doc_id)
with map-side partial min; LSH banding turns the quadratic all-pairs
problem into an equi-join on (band_idx, band_key); verification joins
only candidate pairs. No window sorts, no cross joins, no driver
collection — each stage is a single shuffle keyed well.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SHINGLE_LEN = 5
N_HASHES = 32
# 8 bands of 4 rows: P(candidate | j=0.8) = 1-(1-0.8^4)^8 ≈ 0.985, while
# unrelated docs (j≈0.2, common with a shared vocabulary) collide with
# P ≈ 1.3% instead of ~48% at 16x2 — the candidate set stays near-linear
# in corpus size rather than degenerating to all-pairs.
N_BANDS = 8
BAND_ROWS = N_HASHES // N_BANDS
HASH_MOD = 1 << 30
MINHASH_P = 2147483647  # 2^31 - 1 (prime; small enough that a*h+b wraps it)
JACCARD_THRESHOLD = 0.8
# Signature-agreement prefilter before exact verification: a candidate
# pair must match on >= EST_CUTOFF of the 32 minhashes (estimate >=
# 0.5625).  At jaccard 0.8 the miss probability is ~1e-4 (3.6 sigma);
# background pairs (j ~ 0.2 on a shared-vocabulary corpus) pass with
# p < 1e-4 — the exact set-intersection then runs on survivors only.
EST_CUTOFF = 18
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4  # pigeonhole blocks for hamming <= 3
SIMHASH_MAX_HAMMING = 3


def _ab_pairs(n: int = N_HASHES) -> list[tuple[int, int]]:
    """Deterministic (a, b) constants per minhash function — the same
    table is inlined into the DuckDB oracle SQL, keeping both engines in
    sync.  Derived from md5 so the 32 maps behave as independent
    permutations: sequential LCG outputs are lattice-correlated, which
    correlates the match events across hash functions and inflates the
    4-row band collision probability far above j^4 (measured at sf0.01:
    21,765 LSH candidates with LCG constants vs 514 with md5 constants,
    against ~1,240 expected for truly independent permutations)."""
    import hashlib

    pairs = []
    for i in range(n):
        da = int.from_bytes(hashlib.md5(f"minhash-a-{i}".encode()).digest()[:8], "big")
        db = int.from_bytes(hashlib.md5(f"minhash-b-{i}".encode()).digest()[:8], "big")
        pairs.append(((da % (1 << 31)) | 1, db % (1 << 31)))
    return pairs


AB = _ab_pairs()

# --- shared SQL fragments (valid in both Spark SQL and DuckDB) ---------
NORM_SQL = "trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' '))"


def normalize_text(col: str = "text") -> F.Column:
    return F.trim(F.regexp_replace(F.lower(F.col(col)), "[^a-z0-9]+", " "))


def under_parallel(df: DataFrame) -> bool:
    """True when ``df`` is a file-backed scan whose file count clearly
    caps task parallelism below the session's (a one-file — or, after
    the round-9 finding, one-ROW-GROUP — corpus serializes every
    explode-heavy stage on one core however the file is size-split).

    File count is pure metadata: no ``.rdd`` plan conversion, no job.
    ``inputFiles()`` returns ``[]`` for non-scan inputs (in-memory
    fixtures, post-shuffle frames) — those already carry whatever
    parallelism their upstream plan produced, so the guard must NOT
    fire and inject a gratuitous full shuffle for them.
    """
    files = df.inputFiles()
    target = df.sparkSession.sparkContext.defaultParallelism
    return 0 < len(files) < max(2, target // 2)


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Char-N-gram shingle *occurrences* per document with their hashes —
    a fully narrow pipeline (explode + projections, NO shuffle).

    Rows are deliberately not deduplicated: every consumer is
    duplicate-insensitive (``min`` for minhash signatures,
    ``collect_set`` for the verification hash sets, majority vote for
    simhash is the one exception — see :func:`simhash_fingerprints`),
    so the per-(doc, shingle) distinct — a shuffle of the entire
    exploded corpus, the largest intermediate in the whole pipeline —
    would buy nothing.
    """
    norm = normalize_text(text_col)
    base = df.select(F.col(id_col), norm.alias("_norm")).filter(
        F.length("_norm") >= SHINGLE_LEN
    )
    # A small corpus often arrives as one parquet file -> one partition,
    # which would serialize the ~300x explode and the per-shingle md5
    # onto a single core.  Repartition only when the input is clearly
    # under-parallel — a well-partitioned 100 TB corpus must NOT pay a
    # full-text shuffle here (see under_parallel()).
    if under_parallel(df):
        base = base.repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
        )
    pos = F.explode(F.sequence(F.lit(1), F.length("_norm") - (SHINGLE_LEN - 1)))
    sh = base.select(
        F.col(id_col), pos.alias("_pos"), F.col("_norm")
    ).select(
        F.col(id_col),
        F.expr(f"substr(_norm, _pos, {SHINGLE_LEN})").alias("shingle"),
    )
    # h60: the full 60-bit md5 prefix, used by simhash (all bit positions
    # live).  h: reduced mod 2^30 so the minhash LCG products (a < 2^32)
    # stay under 2^62 — no overflow in Spark or DuckDB bigints.
    hashed = sh.withColumn(
        "h60",
        F.expr("cast(conv(substr(md5(shingle), 1, 15), 16, 10) as bigint)"),
    ).withColumn("h", F.pmod(F.col("h60"), F.lit(HASH_MOD)))
    return hashed


def exact_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: group identical texts by md5, keep the lowest id.

    One hash-shuffle on the 32-char digest (never on the full text —
    at 100 TB the digest shuffle is ~1000x smaller than a text shuffle).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def minhash_perdoc(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document minhash state: the 32 signature columns plus the
    distinct shingle-hash set and its size — everything both candidate
    generation (banding) and exact verification need.  One groupBy with
    map-side combine; also the row stored per doc by the incremental
    streaming dedup state table."""
    sh = shingles(df, id_col, text_col)
    mh_aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(AB)
    ]
    return (
        sh.groupBy(id_col)
        .agg(*mh_aggs, F.collect_set("h60").alias("hs"))
        .withColumn("n_sh", F.size("hs"))
    )


def band_stack(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band_idx, band_key) rows: each band key concatenates
    BAND_ROWS consecutive minhashes — the LSH bucket address."""
    band_cols = []
    for bi in range(N_BANDS):
        parts = []
        for r in range(BAND_ROWS):
            parts.append(F.col(f"mh{bi * BAND_ROWS + r}").cast("string"))
            parts.append(F.lit("_"))
        band_cols.append(F.concat(*parts[:-1]).alias(f"band{bi}"))
    banded = sig.select(id_col, *band_cols)
    return banded.select(
        F.col(id_col),
        F.expr(
            "stack("
            + str(N_BANDS)
            + ", "
            + ", ".join(f"{bi}, band{bi}" for bi in range(N_BANDS))
            + ") as (band_idx, band_key)"
        ),
    ).select(id_col, "band_idx", "band_key")


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str = "doc_id", dedupe: bool = True
) -> DataFrame:
    """Band the signatures and self-join band buckets → candidate pairs.

    Each band key is the concatenation of BAND_ROWS consecutive
    minhashes; docs sharing any band key become a candidate pair. The
    self-join is an equi-join on (band_idx, band_key) — the LSH trick
    that replaces the O(n^2) comparison with a shuffle join.

    ``dedupe=False`` skips the distinct (a pair colliding in k bands
    appears k times) — callers whose downstream work is cheaper than a
    candidate shuffle dedupe at the end instead.
    """
    stacked = band_stack(sig, id_col)
    a = stacked.alias("a")
    b = stacked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
    )
    return pairs.distinct() if dedupe else pairs


def verified_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact-Jaccard verification.

    Output: (doc_a, doc_b, jaccard) for pairs whose exact char-5-gram
    Jaccard >= threshold, discovered via LSH candidates (8 bands of 4,
    recall ≈ 0.985 at jaccard 0.8).

    Verification intersects each candidate's *shingle-hash set* —
    one collect_set per doc (60-bit hashes: collision probability over
    a trillion-shingle corpus is ~0, so hash-set jaccard == string-set
    jaccard), then a single JVM ``array_intersect`` per candidate pair.
    That keeps verification at one row per candidate instead of the
    exploded candidates x shingles-per-doc join, which degenerates on
    template-heavy corpora where millions of pairs share half their
    shingles.

    Plan shape: ONE per-doc aggregation produces the 32 minhashes and
    the hash set; band candidates are NOT deduplicated (a pair
    colliding in k bands rides through the cheap stages k times — the
    final DISTINCT on the tiny output dedupes multi-band discoveries,
    avoiding a full candidate-set shuffle).  Verification is two
    stages, cheap-first:

      1. signature prefilter — join only the 32-minhash array (a
         ~300-byte column; broadcastable at any realistic doc count /
         executor ratio) and keep pairs matching >= EST_CUTOFF of 32.
         This is map-side and kills the background pairs that banding
         lets through on shared-vocabulary corpora.
      2. exact Jaccard — join the full shingle-hash sets (the wide
         ~kB-per-doc column) for the handful of survivors and
         intersect (60-bit hashes: hash-set jaccard == string-set
         jaccard for any realistic corpus).

    The DuckDB oracle mirrors every stage, so both engines see the
    identical set.
    """
    perdoc = minhash_perdoc(df, id_col, text_col).cache()
    # Materialize the cache before the plan fans out: perdoc appears six
    # times downstream (bands x2, signatures x2, hash-sets x2), and
    # concurrent stages racing an unpopulated cache each recompute the
    # full shingle aggregation.
    perdoc.count()
    cand = lsh_candidate_pairs(perdoc, id_col, dedupe=False)
    sig = perdoc.select(
        F.col(id_col), F.array(*[F.col(f"mh{i}") for i in range(N_HASHES)]).alias("mhs")
    )
    sa = sig.select(F.col(id_col).alias("doc_a"), F.col("mhs").alias("mhs_a"))
    sb = sig.select(F.col(id_col).alias("doc_b"), F.col("mhs").alias("mhs_b"))
    n_eq = F.expr(
        "aggregate(zip_with(mhs_a, mhs_b, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
        " 0, (acc, v) -> acc + v)"
    )
    survivors = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(n_eq >= F.lit(EST_CUTOFF))
        .select("doc_a", "doc_b")
    )
    pa = perdoc.select(
        F.col(id_col).alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("n_sh").alias("n_a"),
    )
    pb = perdoc.select(
        F.col(id_col).alias("doc_b"),
        F.col("hs").alias("hs_b"),
        F.col("n_sh").alias("n_b"),
    )
    jac = (
        survivors.join(pa, "doc_a")
        .join(pb, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .distinct()
    )
    return jac


DECON_GRAM_WORDS = 5


def word_gram_hashes(
    df: DataFrame,
    n_words: int = DECON_GRAM_WORDS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc DISTINCT word-n-gram hashes: (id, gh) with gh the 60-bit
    md5 prefix — the shared substrate of decontamination and the
    novelty curve.  Gram strings never leave the row they were built
    in: array_distinct runs inside the projection and only 8-byte
    hashes reach any exchange."""
    norm = normalize_text(text_col)
    words = F.split(norm, " ")
    g = F.expr(
        f"transform(sequence(1, size(_w) - {n_words - 1}),"
        f" i -> concat_ws(' ', slice(_w, i, {n_words})))"
    )
    # same under-parallel-input guard as shingles(): don't serialize
    # the gram explode on a one-file (or one-row-group) corpus
    if under_parallel(df):
        df = df.repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
        )
    return (
        df.select(F.col(id_col), words.alias("_w"))
        .filter(F.size("_w") >= n_words)
        .select(F.col(id_col), F.explode(F.array_distinct(g)).alias("gram"))
        .select(
            F.col(id_col),
            F.expr(
                "cast(conv(substr(md5(gram), 1, 15), 16, 10) as bigint)"
            ).alias("gh"),
        )
    )


def contamination_flags(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_words: int = DECON_GRAM_WORDS,
    train_grams: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any
    ``gram_words``-word n-gram with a held-out benchmark set — the
    standard guard against test-set leakage in a training corpus.

    Plan: both sides explode to distinct word-n-gram *hashes* (60-bit
    md5 prefix — the same portable substrate as minhash; the join
    shuffles 8-byte hashes, never gram strings), the benchmark gram set
    deduplicates (it is small — benchmarks are thousands of docs, not
    billions), and one hash equi-join + per-doc count yields
    (doc_id, n_overlapping_grams).  At 100 TB the benchmark side is a
    broadcast; flagged docs are then dropped or quarantined.
    """
    bench_grams = (
        word_gram_hashes(benchmark, gram_words, id_col, text_col)
        .select("gh")
        .distinct()
    )
    if train_grams is None:
        train_grams = word_gram_hashes(train, gram_words, id_col, text_col)
    return (
        train_grams
        .join(F.broadcast(bench_grams), "gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlapping_grams"))
    )


def neardup_clusters(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over the near-duplicate pair graph: every
    doc gets a ``cluster_id`` = the smallest doc id reachable through
    near-dup edges (isolated docs are their own cluster).  This is the
    step that turns pairwise dedup output into an actionable keep-list:
    keep ``doc_id == cluster_id``, drop the rest.

    Algorithm: distributed min-label propagation (the Pregel/GraphX
    pattern) — labels start as self, each round every node takes the
    min of its own and its neighbors' labels, until a fixpoint.  Rounds
    are whole DataFrame ops (one join + one groupBy each, both keyed
    shuffles); the number of rounds is bounded by the graph diameter,
    which for near-dup clusters is tiny (template families are
    near-cliques).  The driver loop only checks a converged-count per
    round — no row data ever reaches the driver.

    The DuckDB oracle replays the same fixpoint with a recursive CTE
    (transitive closure, then min over the reachable set), so even this
    iterative operator is value-hash-checked, not rows-only.

    Side effect: ``spark.sql.adaptive.enabled`` is disabled on the
    *session* for the duration of the fixpoint loop (restored in a
    finally) — AQE re-planning is pure latency on the loop's tiny
    fixed-size shuffles. Queries running concurrently on the same
    SparkSession during the loop would silently lose AQE; callers
    needing concurrent AQE should run this on a separate
    ``SparkSession.newSession()``.
    """
    if pairs is None:
        pairs = verified_near_dups(df, id_col, text_col)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).cache()
    # Populate the cache with ONE upstream execution before any branch
    # (labels init + per-iteration neighbor joins) references sym —
    # otherwise the first multi-branch job races the empty cache and
    # re-runs the whole LSH/verification pipeline per branch.
    n_sym = sym.count()
    # Size the loop's parallelism to the PAIR GRAPH, not the corpus:
    # every iteration is a shuffle over O(|pair graph|) rows, and a
    # 32-partition exchange per round on a 100-edge graph is pure task-
    # scheduling overhead (measured ~0.7s/round -> ~0.1s/round here).
    # At real scale the edge count drives the partition count back up.
    parts = max(1, min(32, n_sym // 100_000 + 1))
    sym = sym.repartition(parts, "dst")
    # Iterate ONLY over nodes that appear in some pair: isolated docs
    # are their own cluster by definition and never change label, so
    # keeping them in the loop just multiplies every iteration's join/
    # agg input by corpus_size / pair_graph_size (5000/≈60 here; far
    # more at corpus scale, where near-dup nodes are a small fraction).
    # They rejoin via one left join after the fixpoint.
    labels = sym.select(F.col("src").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    # Pin the plan during the fixpoint: AQE's per-stage re-planning is
    # pure latency on the loop's tiny already-right-sized shuffles
    # (measured 6.3s -> 2.3s for the whole loop at sf0.1). The heavy
    # LSH/verification pipeline above already materialized WITH AQE via
    # sym.count(); the toggle only covers the label rounds, and the
    # prior value is restored afterwards.
    spark = df.sparkSession
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for _ in range(max_iters):
            labels = labels.cache()
            neighbor_lbls = (
                sym.join(labels, sym.dst == labels.node)
                .select(F.col("src").alias("node"), "lbl")
            )
            new_labels = (
                labels.unionByName(neighbor_lbls)
                .groupBy("node")
                .agg(F.min("lbl").alias("lbl"))
                .cache()
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.lbl") != F.col("o.lbl"))
                .count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                break
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
    ids = df.select(F.col(id_col).alias("node"))
    return (
        ids.join(labels, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("lbl", "node").alias("cluster_id"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    block_cols: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.3,
) -> DataFrame:
    """Word-bigram Jaccard similarity between documents sharing a block
    key (the direct n-gram-Jaccard dedup family: exact set overlap on
    token n-grams, no hashing/sketching).

    Blocking on ``block_cols`` (e.g. language + source) keeps the pair
    space keyed — one shuffle equi-join, never all-pairs.  Each doc's
    bigram set rides the join as one array column; the per-pair cost is
    a single ``array_intersect``.  For unblocked corpora use the
    MinHash-LSH path above, which discovers its own candidates.
    """
    norm = normalize_text(text_col)
    words = F.split(norm, " ")
    bigrams = F.array_distinct(
        F.expr(
            "transform(sequence(1, size(_w) - 1), i -> concat(_w[i-1], ' ', _w[i]))"
        )
    )
    # same under-parallel-input guard as shingles(): don't serialize the
    # bigram build on a one-file corpus
    if under_parallel(df):
        df = df.repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
        )
    sets = (
        df.select(F.col(id_col), *[F.col(c) for c in block_cols], words.alias("_w"))
        .filter(F.size("_w") >= 2)
        .select(
            F.col(id_col),
            *[F.col(c) for c in block_cols],
            bigrams.alias("grams"),
        )
    )
    a = sets.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("doc_a"),
        F.col("grams").alias("g_a"),
    )
    b = sets.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("doc_b"),
        F.col("grams").alias("g_b"),
    )
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size("g_a") + F.size("g_b") - inter
    return (
        a.join(b, list(block_cols))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", F.round(inter.cast("double") / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# packed-counter layout for the simhash vote aggregation: 3 bit-counters
# per 64-bit word, 20-bit fields -> 20 agg buffer slots instead of 60.
# A field counts ones for its bit, so it overflows only past 2^20-1
# shingle occurrences in ONE document (~5 MB of text) — documented
# bound, far above any sane per-doc chunking policy.
_SIMHASH_PACK = 3
_SIMHASH_FIELD_BITS = 20
_SIMHASH_WORDS = SIMHASH_BITS // _SIMHASH_PACK
_SIMHASH_FIELD_MASK = (1 << _SIMHASH_FIELD_BITS) - 1


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """60-bit SimHash per doc: majority vote of each hash bit across the
    doc's shingle *occurrences* (frequency-weighted simhash — repeated
    shingles vote repeatedly, the classic Charikar weighting).

    One groupBy(doc) — map-side combinable, no sort, no dedup shuffle
    upstream.  The per-bit one-counts are packed 3-to-a-word in 20-bit
    fields, so the aggregate carries 20 bigint buffers instead of 60:
    3x less agg-buffer memory traffic per row, identical results (a
    bit's majority vote is ones > n/2, recovered by unpacking the
    field and comparing 2*ones - n > 0).  The DuckDB oracle mirrors
    the same packing arithmetic — all integer-exact.

    Votes come from the full 60-bit shingle hash (h60) so every
    fingerprint bit is live — a reduced 31-bit base would leave bits
    30-59 identically zero and degrade the pigeonhole blocking below
    to an all-pairs join."""
    sh = shingles(df, id_col, text_col)
    word_aggs = [
        F.sum(
            sum(
                F.shiftleft(
                    F.shiftright(F.col("h60"), w * _SIMHASH_PACK + f).bitwiseAND(
                        F.lit(1)
                    ),
                    f * _SIMHASH_FIELD_BITS,
                )
                for f in range(_SIMHASH_PACK)
            )
        ).alias(f"w{w}")
        for w in range(_SIMHASH_WORDS)
    ]
    voted = sh.groupBy(id_col).agg(*word_aggs, F.count(F.lit(1)).alias("n_occ"))

    def ones(b: int) -> F.Column:
        w, f = divmod(b, _SIMHASH_PACK)
        return F.shiftright(F.col(f"w{w}"), f * _SIMHASH_FIELD_BITS).bitwiseAND(
            F.lit(_SIMHASH_FIELD_MASK)
        )

    fp = voted.select(
        F.col(id_col),
        sum(
            F.when(2 * ones(b) - F.col("n_occ") > 0, F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(SIMHASH_BITS)
        )
        .cast("long")
        .alias("simhash"),
    )
    return fp


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, found without an
    all-pairs scan: split the 60-bit fingerprint into 4 chunks of 15
    bits; any pair within hamming<=3 must agree exactly on >=1 chunk
    (pigeonhole), so block on (chunk_idx, chunk_value) equi-join."""
    # cache + materialize: fp feeds both sides of the block self-join,
    # and only the pre-shuffle exchange is reused — without the cache the
    # 60-sum final aggregation and explode run twice (5000-row frame:
    # ~100 KB cached; at any scale this frame is id + one long per doc)
    fp = simhash_fingerprints(df, id_col, text_col).cache()
    fp.count()
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    mask = (1 << chunk_bits) - 1
    chunks = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftright(F.col("simhash"), i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk_val"),
                    )
                    for i in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", "c.chunk_idx", "c.chunk_val")
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        # hamming is a two-instruction filter — run it on the raw
        # (duplicate-bearing) block join output and dedupe only the tiny
        # survivor set, instead of shuffling every candidate for distinct
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )
    return pairs


def keep_best_per_cluster(
    df: DataFrame,
    quality_col,
    id_col: str = "doc_id",
    text_col: str = "text",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Canonical-document selection: for each near-duplicate cluster,
    keep the member with the highest quality score (lowest id on ties).

    This is the step after :func:`neardup_clusters` in a real corpus
    build — dedup should keep the *best* copy, not an arbitrary one
    (cluster representatives chosen by quality, the keep-list policy
    used by large-scale corpus dedup pipelines).

    Plan: the cluster labels (already reduced to one row per doc) join
    back to the scored docs on the id — both sides hash-partition on
    the id, the scoring itself is a narrow projection — then ONE window
    ranks members inside each cluster. The window's sort sees only
    (cluster_id, quality, id) triples, never document text.

    ``clusters`` (a precomputed ``(id_col, cluster_id)`` frame) lets
    callers share ONE connected-components fixpoint across every
    consumer of the labeling — at 100 TB the CC labels are a
    materialized table computed once per corpus snapshot, and
    clustering, canonical selection, blast-radius rollups, and the
    cluster-aware split all read it rather than re-running the
    LSH + fixpoint pipeline (the single most expensive dedup stage).
    """
    if clusters is None:
        clusters = neardup_clusters(df, id_col=id_col, text_col=text_col)
    scored = df.select(
        F.col(id_col), quality_col.alias("quality")
    ).join(clusters, id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.col(id_col)
    )
    return (
        scored.select(
            "cluster_id",
            F.col(id_col),
            "quality",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).alias("n_members"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col(id_col).alias("keep_doc_id"),
            F.col("quality").alias("keep_quality"),
            "n_members",
        )
    )


CONTAINMENT_THRESHOLD = 0.7


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = CONTAINMENT_THRESHOLD,
) -> DataFrame:
    """Asymmetric near-duplicate pairs by max-containment:
    ``|A ∩ B| / min(|A|, |B|)`` — catches a small document embedded in
    a large one (quotes, boilerplate wrappers, excerpt pages), which
    symmetric Jaccard structurally misses (a 10x size ratio caps
    Jaccard at ~0.1 however perfect the inclusion).

    Candidates come from the same banded-LSH join as
    verified_near_dups, but WITHOUT the signature-agreement prefilter:
    minhash signature agreement estimates JACCARD, so that filter would
    kill exactly the asymmetric pairs this operator exists to find.
    Documented recall caveat: banding probability also tracks Jaccard,
    so recall decays for extreme size ratios — the scale remedy is
    chunk-level blocking (shared_passage_pairs), which this whole-doc
    screen complements.  Verification is one array_intersect over the
    per-doc hash sets per candidate.
    """
    perdoc = minhash_perdoc(df, id_col, text_col).cache()
    perdoc.count()  # bands + two set joins consume it
    cand = lsh_candidate_pairs(perdoc, id_col, dedupe=False)
    pa = perdoc.select(
        F.col(id_col).alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("n_sh").alias("n_a"),
    )
    pb = perdoc.select(
        F.col(id_col).alias("doc_b"),
        F.col("hs").alias("hs_b"),
        F.col("n_sh").alias("n_b"),
    )
    cont = F.round(
        F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
        / F.least("n_a", "n_b"),
        6,
    )
    return (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
        .distinct()
    )
