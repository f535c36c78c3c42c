"""Keyed-upsert sink with delete propagation (reference S9/E2), and the
one state-table commit protocol every streaming state sink shares.

The reference's Elasticsearch sink writes each record under doc ``_id`` =
record key, so re-delivery and key updates overwrite idempotently
(/root/reference/README.md:487-493; ES connector manifest: "idempotent
write semantics guarantees exactly once"), and tombstones/__deleted rows
remove the key (README.md:361-364).

Spark-first equivalent: a **versioned parquet state table** maintained by
``foreachBatch``.  Each micro-batch MERGE is:

    new_state = apply_changelog(prior_state ∪ batch)

i.e. latest-offset-per-key wins, keys whose latest record is a delete
are dropped — then written as a new version directory with an atomically
swapped pointer file.  Readers never see a half-written version; a
failed batch leaves the old pointer (re-run is idempotent because the
merge is deterministic in (prior, batch)).

The state table: immutable-per-commit ``v=N`` parquet version dirs plus
a ``_LATEST`` pointer file naming the current one, swapped by rename.
This module is the only one that knows that format: sinks go through
``read_state``, ``write_version`` and ``vacuum_versions``.  One protocol,
two version policies, picked by the merge's algebra:

* **Idempotent merge → pointer + 1** (``write_version(df, dir)``, prior
  = ``read_state(spark, dir)``): the upsert/dedup MERGEs, HLL max,
  ewma, reservoir, cohort.  A batch re-delivered after the pointer swap
  folds into its own output and changes nothing, so the version number
  need not name the batch — and a no-data batch commits nothing new.
* **Additive merge → version = batch id** (``write_version(df, dir,
  version=batch_id)``, prior = ``read_state(spark, dir,
  below=batch_id)``): sums and counts (CMS, histograms, bars' tick
  counts, drift, top-n, transitions, SCD2, funnel, disorder,
  interarrival, mixture, the BM25 index, LTV).  A re-delivered batch —
  even after the pointer swap, before the checkpoint commit — recomputes
  from the greatest version strictly below its own id, so its re-run is
  a deterministic overwrite, never a double count.

Each commit keeps the newest ``_RETAIN`` = 2 versions: the pointer's,
and the one before it that a re-delivered batch-id commit reads.

Reads: parquet is the only durable copy, but a version this process
committed, whose part files total at most ``_LOCAL_BYTES`` and whose
types round-trip exactly through Arrow, comes back as a driver-local
``LocalRelation`` built from those files, so a point lookup (filter +
collect) runs no Spark job; every other version is a parquet scan.

At scale the same surface is one ``MERGE INTO`` on a Delta/Iceberg table
(WHEN MATCHED AND __deleted THEN DELETE); the versioned-parquet
implementation keeps the semantics dependency-free.  State writes are
partitioned by key hash so a 1000-executor MERGE shuffles once on the
key, never the full history.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Sequence

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.compaction import latest_by_offset

_POINTER = "_LATEST"
_RETAIN = 2

# (version-dir path -> (StructType, local part bytes)) recorded by
# write_version at commit time: read_state then declares the schema
# instead of re-running parquet footer inference (~60 ms of driver
# latency per read — every micro-batch merge reads 1-2 state tables,
# round 11), and knows without a listing whether the version is small
# enough to serve from the driver.  The bytes are None for a schema with
# a type outside _EXACT_TYPES.  Keyed by the version dir (rewritten in
# place only by a re-delivered batch-id commit, which re-records both;
# vacuumed dirs simply age out of use), with a plain parquet scan as the
# fallback for readers in a fresh process (crash replay, external
# readers) and for older versions.  The sinks of one pipeline commit
# from concurrent foreachBatch threads, so the prune-and-insert holds a
# lock (a lone ``get`` is atomic).
_SCHEMA_MEMO: dict[str, tuple[T.StructType, int | None]] = {}
_SCHEMA_MEMO_LOCK = threading.Lock()

# Largest committed version (total parquet part-file bytes) read_state
# serves as a driver-local LocalRelation instead of a parquet scan.  A
# filter + collect on a LocalRelation is folded by the optimizer and
# runs no job, but building it (pyarrow read + createDataFrame) grows
# with the table while the scan's job floor does not.  Point lookups
# through read_state in batch mode, one part file of 9-column
# shipped_orders-shaped rows, a new key each time, 4 cores, median ms,
# scan vs local: 26 KB 90 vs 30, 82 KB 77 vs 33, 238 KB 68 vs 50,
# 676 KB 67 vs 88, 2.2 MB 68 vs 282 — the crossover is near 400 KB.
# 256 KiB keeps the local path clearly ahead below the bound:
# shipped_orders (~800 rows) is served locally, cdc_bigstate's 100k-key
# state (~2.2 MB) keeps the scan.
_LOCAL_BYTES = 256 * 1024

# Spark types that round-trip exactly through parquet -> pyarrow ->
# createDataFrame, alone and nested in arrays, maps and structs (a
# parametrized round-trip test in tests/test_operators.py).  Not
# TimestampType: Spark writes it as INT96, which pyarrow reads as a
# naive instant that createDataFrame then shifts by the session time
# zone.  A schema with any other type is read by the parquet scan.
_EXACT_TYPES = (
    T.BooleanType(), T.ByteType(), T.ShortType(), T.IntegerType(),
    T.LongType(), T.FloatType(), T.DoubleType(), T.StringType(),
    T.BinaryType(), T.DateType(), T.TimestampNTZType(),
)


def _exact(dt) -> bool:
    """Whether every type in ``dt`` is one of ``_EXACT_TYPES`` or a decimal."""
    if isinstance(dt, T.StructType):
        return all(_exact(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _exact(dt.elementType)
    if isinstance(dt, T.MapType):
        return _exact(dt.keyType) and _exact(dt.valueType)
    return isinstance(dt, T.DecimalType) or dt in _EXACT_TYPES


def _as_nullable(dt):
    """``dt`` with every field, element and map value nullable: the schema
    a parquet scan reports, so both read paths return the same one."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _state_version(state_dir: str) -> int | None:
    try:
        with open(os.path.join(state_dir, _POINTER)) as fh:
            return int(fh.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def _listed_versions(state_dir: str) -> list[int]:
    try:
        names = os.listdir(state_dir)
    except FileNotFoundError:
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in names
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    )


def read_state(
    spark: SparkSession, state_dir: str, below: int | None = None
) -> DataFrame | None:
    """Current state table, or None before the first committed version.

    ``below=batch_id`` reads the greatest version strictly below that id
    instead of the pointer's: the prior of a batch-id commit, so a
    re-delivered batch never folds in its own earlier commit (or an
    orphan dir a crash left at its id).  Without it the read is one
    pointer-file read plus a memo lookup, with no directory listing.

    A version ``write_version`` committed in this process (the newest of
    its state dir), with part files of at most ``_LOCAL_BYTES`` and only
    ``_EXACT_TYPES``, comes back as a fresh driver-local
    ``LocalRelation`` read from those files: a filter + collect on it runs
    no Spark job, and below the bound that saves more than the read
    costs (see ``_LOCAL_BYTES``).  Any other version — larger, another
    type, an older one, or one from another process — is a parquet
    scan."""
    if below is None:
        v = _state_version(state_dir)
    else:
        v = max((x for x in _listed_versions(state_dir) if x < below), default=None)
    if v is None:
        return None
    path = os.path.join(state_dir, f"v={v}")
    memo = _SCHEMA_MEMO.get(path)
    if memo is None:
        return spark.read.parquet(path)
    schema, local_bytes = memo
    # 0 bytes: no part files, which pyarrow would read as a table
    # without columns; the scan reads it as an empty one
    if local_bytes and local_bytes <= _LOCAL_BYTES:
        return spark.createDataFrame(pq.read_table(path), schema=schema)
    return spark.read.schema(schema).parquet(path)


def upsert_batch(
    batch_df: DataFrame,
    state_dir: str,
    keys: Sequence[str],
    offset_col: str,
    deleted_col: str | None = "__deleted",
    allow_schema_evolution: bool = False,
    skip_empty_probe: bool = False,
) -> None:
    """One MERGE: fold ``batch_df`` into the state table at ``state_dir``.

    Rows are compacted per key by ``offset_col`` (arrival order); if
    ``deleted_col`` is present, keys whose winning row is a delete are
    removed from the state (tombstone propagation).  Prior-state rows
    re-enter the merge with ``__deleted=false`` and their stored offset,
    so a stale re-delivery (offset lower than the state's) never
    regresses a key THAT IS STILL IN STATE.

    Delivery-model boundary (found by the hypothesis suite): an applied
    tombstone is physically dropped, so the state keeps no memory of
    the deleted key's offset — re-delivering a batch OLDER than the
    delete would resurrect the key.  That is exactly Kafka's
    ``delete.retention.ms`` contract (tombstones must outlive consumer
    lag) and the reference ES sink's exposure too.  It cannot occur
    under checkpointed ``foreachBatch``, which only ever re-runs the
    LAST batch; feeding this sink from a transport that can re-deliver
    arbitrary old batches requires retaining tombstone rows for the
    re-delivery window instead of dropping them at apply time.

    ``allow_schema_evolution=True`` handles the CDC widen case — an
    upstream ``ALTER TABLE ADD COLUMN`` makes Debezium envelopes grow a
    field mid-stream (the reference's schemas come from Schema Registry
    and may evolve, /root/reference/README.md:389).  The merge then
    unions by name with nulls for columns either side lacks: prior-state
    rows read NULL for the new column until a change re-writes their
    key, exactly how a keyed ES index behaves.  Dropped columns are kept
    (new rows carry NULL).  Off by default so unexpected schema drift in
    a fixed-schema pipeline still fails loudly.
    """
    spark = batch_df.sparkSession
    prior = read_state(spark, state_dir)
    # Empty-batch fast path (round 11): availableNow runs trailing
    # no-data micro-batches (watermark advancement), and folding an
    # empty batch into existing state is a provable no-op — merged =
    # prior, latest_by_offset(prior) = prior (already compacted), the
    # tombstone filter re-removes nothing (applied deletes were
    # physically dropped).  Profiled at sf0.1: the flagship pipeline's
    # no-data batch paid the full 1.3 s read+merge+write; the limit-1
    # probe costs one cheap batch-plan execution instead.  Only valid
    # when prior state exists (first batch must still write v=0 even if
    # empty) and because ``transform`` is row-bounded (enrichment joins
    # never invent rows from an empty batch).  ``skip_empty_probe``
    # (round 12): keyed_upsert_sink probes the RAW persisted batch
    # before its transform — re-probing the transformed plan here would
    # re-execute the enrichment for nothing.
    if not skip_empty_probe and prior is not None and batch_df.isEmpty():
        return
    cols = [c for c in batch_df.columns]
    if deleted_col and deleted_col not in cols:
        batch_df = batch_df.withColumn(deleted_col, F.lit(False))
    if prior is not None:
        if deleted_col and deleted_col not in prior.columns:
            prior = prior.withColumn(deleted_col, F.lit(False))
        merged = prior.unionByName(
            batch_df, allowMissingColumns=allow_schema_evolution
        )
    else:
        merged = batch_df
    value_cols = [
        c for c in merged.columns if c not in keys and c != offset_col
    ]
    compacted = latest_by_offset(merged, keys, offset_col, value_cols=value_cols)
    if deleted_col:
        compacted = compacted.filter(~F.col(deleted_col)).drop(deleted_col)

    write_version(compacted, state_dir)


def write_version(df: DataFrame, state_dir: str, version: int | None = None) -> None:
    """Commit ``df`` as a state version with an atomic pointer swap — the
    shared primitive under every state table.

    Without ``version`` the commit is the pointer's version + 1 (the
    idempotent merges); ``version=batch_id`` overwrites ``v=<batch_id>``
    (the additive merges, see the module docstring).  After the swap,
    versions older than the newest ``_RETAIN`` are vacuumed: without
    retention every micro-batch leaves a full state copy behind, so the
    sink's disk footprint grows with batch COUNT × state size rather
    than state size.
    """
    if version is None:
        prev = _state_version(state_dir)
        version = 0 if prev is None else prev + 1
    os.makedirs(state_dir, exist_ok=True)
    vdir = os.path.join(state_dir, f"v={version}")
    df.write.mode("overwrite").parquet(vdir)
    # keep only the newest version's entry per state dir — a long-lived
    # sink must not grow the memo by one entry per batch
    prefix = os.path.join(state_dir, "v=")
    schema = _as_nullable(df.schema)
    local_bytes = None
    if _exact(schema):
        local_bytes = sum(
            os.path.getsize(os.path.join(vdir, n))
            for n in os.listdir(vdir)
            if n.startswith("part-")
        )
    with _SCHEMA_MEMO_LOCK:
        for k in [k for k in _SCHEMA_MEMO if k.startswith(prefix)]:
            del _SCHEMA_MEMO[k]
        _SCHEMA_MEMO[vdir] = (schema, local_bytes)
    tmp = os.path.join(state_dir, f"{_POINTER}.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, os.path.join(state_dir, _POINTER))
    vacuum_versions(state_dir, keep=_RETAIN)


def vacuum_versions(state_dir: str, keep: int = _RETAIN) -> list[int]:
    """Drop state versions older than the newest ``keep`` (never the
    current pointer).  The MERGE writes a whole new version per batch,
    so without retention the sink's footprint grows with batch COUNT
    rather than state SIZE — at one batch/minute that is 1440 full
    copies a day.  Safe because readers resolve the pointer first and
    only the newest version is ever the pointer target; ``keep >= 2``
    leaves an in-flight reader's version, and a re-delivered batch-id
    commit's prior, on disk. Returns the dropped version numbers.
    """
    import shutil

    cur = _state_version(state_dir)
    if cur is None:
        return []
    versions = _listed_versions(state_dir)
    live = set(versions[-keep:]) | {cur}
    dropped = []
    for v in versions:
        if v not in live:
            shutil.rmtree(os.path.join(state_dir, f"v={v}"), ignore_errors=True)
            dropped.append(v)
    return dropped


def keyed_upsert_sink(
    state_dir: str,
    keys: Sequence[str],
    offset_col: str,
    deleted_col: str | None = "__deleted",
    transform: Callable[[DataFrame], DataFrame] | None = None,
    allow_schema_evolution: bool = False,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` function maintaining a keyed-upsert state table —
    the writeStream side of reference S9/E2.  ``transform`` (optional)
    runs inside the batch before the merge, e.g. the temporal J1
    enrichment against another state table."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # When a transform is attached, materialize the raw micro-batch
        # ONCE (round 12, guide §5 "localCheckpoint is a cheaper way to
        # cut lineage"): a foreachBatch frame RE-EXECUTES its batch
        # plan on every action, and this sink takes two (the empty
        # probe and the merge write) — for the flagship's interval
        # join that meant running the join's batch plan twice per
        # micro-batch, the second time wrapped in the enrichment join
        # (profiled: 1.1 s probe + ~1.0 s write at sf0.1; interleaved
        # A/B: flagship 6.51 -> 5.86 s).  For transform-free sinks the
        # batch plan is the streaming operator's own cheap output and
        # the materialization job costs MORE than the limit-1 probe it
        # saves (cdc_upsert +60 ms measured), so those keep the lazy
        # path.  localCheckpoint rather than persist(): the
        # checkpointed frame is a plain RDD scan, so the state read +
        # enrichment join plans never go through CacheManager plan
        # matching (a persist() here hit a cross-micro-batch
        # cached-plan attribute mismatch — "key not found: id#N" —
        # because consecutive batch plans canonicalize identically).
        # Blocks are dropped by the context cleaner once unreachable;
        # micro-batch output is bounded by the trigger.
        if transform is not None:
            batch_df = batch_df.localCheckpoint(eager=True)
            # Probe the RAW batch BEFORE the transform (round 12): the
            # round-11 probe ran after enrichment, so the trailing
            # no-data batch still paid the transform's state read +
            # join build.  Valid because ``transform`` is row-bounded
            # (documented in upsert_batch) — an empty input cannot
            # become non-empty.  On the checkpointed frame the probe
            # is a metadata-cheap limit-1.
            if _state_version(state_dir) is not None and batch_df.isEmpty():
                return
            out_df = transform(batch_df)
            upsert_batch(
                out_df,
                state_dir,
                keys,
                offset_col,
                deleted_col,
                allow_schema_evolution=allow_schema_evolution,
                skip_empty_probe=True,
            )
            return
        upsert_batch(
            batch_df,
            state_dir,
            keys,
            offset_col,
            deleted_col,
            allow_schema_evolution=allow_schema_evolution,
        )

    return _sink
