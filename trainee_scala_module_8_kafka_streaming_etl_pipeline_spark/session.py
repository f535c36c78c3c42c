"""SparkSession factory tuned for this engine.

Defaults are chosen for correctness-at-scale first:

- **AQE on** (plus skew-join handling): at 100 TB the static plan is
  always wrong somewhere; AQE re-plans shuffles at runtime, coalesces
  small partitions and splits skewed ones.
- **Session time zone UTC**: event-time semantics must not depend on the
  host TZ (the reference parses naive event timestamps,
  /root/reference/README.md:413-414).
- **Arrow enabled**: every Python<->JVM hop is Arrow-batched, so the few
  Pandas UDFs we do use (multimodal stubs) aren't row-at-a-time.
- **Broadcast threshold 64 MB**: the reference's enrichment join
  (stream-table, README.md:448-458) has a small dimension side; at scale
  the customer dim of a 100 TB fact table still fits executor memory and
  broadcasting removes the big-side shuffle entirely.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

_LOCAL_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))


def build_session(
    app_name: str = "kafka-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster set it (or rely on AQE coalescing) to ~2-3x total cores.
    """
    master = master or f"local[{_LOCAL_CPUS}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(_LOCAL_CPUS) if _LOCAL_CPUS.isdigit() else os.cpu_count() or 1

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true): measured A/B at
        # sf0.1 showed byte-sized coalescing (`parallelismFirst=false`)
        # starves CPU-bound post-shuffle stages (triangle_count's
        # array-intersect pass regressed 5.3s -> 7.4s) while saving
        # nothing on scan-bound entries — this engine's small shuffles
        # are compute-heavy, not task-launch-heavy.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver test data carries INT64 TIMESTAMP(NANOS) columns; see
        # catalog.load(), which also sets this at runtime for
        # driver-owned sessions
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def input_width(spark: SparkSession, input_bytes: int) -> int:
    """Partition count for ``input_bytes`` of input: one partition per
    ``spark.sql.files.maxPartitionBytes`` (the split size Spark's file
    scans already use), at least 1 and at most
    ``sparkContext.defaultParallelism``."""
    split = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes")
    )
    return max(1, min(-(-input_bytes // split), spark.sparkContext.defaultParallelism))


_START_CONF_LOCK = threading.RLock()


@contextmanager
def start_confs(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set SQL ``confs`` on ``spark`` around one ``DataStreamWriter.start()``
    call and restore them when the block exits.

    ``start()`` clones the session's conf into the new query, so a conf
    set here reaches that query and nothing started after the block.  A
    conf the caller had not set is unset again rather than pinned to its
    default.  The lock keeps the set/restore pairs of two threads from
    interleaving (which could leave one thread's value behind) and lets
    one thread nest blocks.  Code that reads the session conf outside
    this manager still sees the scoped values while the block runs, so
    keep the block to the ``start()`` call.
    """
    with _START_CONF_LOCK:
        before = spark.conf.getAll
        for key, value in confs.items():
            spark.conf.set(key, value)
        try:
            yield
        finally:
            for key in confs:
                if key in before:
                    spark.conf.set(key, before[key])
                else:
                    spark.conf.unset(key)
