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
- **Fork-free local file I/O** (``fork_free_io_conf``): checkpoint and
  state-table writes start no shell process on a host without the native
  Hadoop library.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import threading
import zipfile
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.find_spark_home import _find_spark_home
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
    conf = fork_free_io_conf(master)
    # a caller's class path is appended to, so the jar that
    # fs.file.impl names stays on it
    for k, v in (extra_conf or {}).items():
        conf[k] = os.pathsep.join((conf[k], v)) if k == _CLASSPATH and k in conf else v
    spark = builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_CLASSPATH = "spark.driver.extraClassPath"
_FORK_FREE_FS = "streamingetl.hadoop.ForkFreeLocalFileSystem"
_FORK_FREE_SRC = os.path.join(os.path.dirname(__file__), "jvm", "ForkFreeLocalFileSystem.java")


def fork_free_io_conf(master: str) -> dict[str, str]:
    """Session confs that keep local checkpoint and state-table writes
    from forking the driver.  Set them before the JVM starts (the class
    path is fixed at launch).

    Without the native Hadoop library, ``RawLocalFileSystem`` runs a
    shell ``readlink`` for every link check and a shell ``chmod`` for
    every permission change, about 2.5 ms each: some 300 process starts
    per flagship round, on the offsets and commits WAL, the source logs,
    the state-store deltas, the ``.crc`` side files and the parquet
    commit protocol.

    Both settings come together or not at all, for a ``local`` or
    ``local[...]`` master (the driver is the executor, so it has the
    class on its class path) where ``javac`` can build the class:

    1. ``ForkFreeLocalFileSystem`` (``jvm/``) is Hadoop's checksummed
       ``LocalFileSystem`` with ``setPermission`` done through java.nio
       instead of a forked ``chmod``.  It replaces the ``file:``
       filesystem Spark's jars register (Hive's ``ProxyLocalFileSystem``,
       a ``LocalFileSystem`` whose ``rename`` refuses an existing target
       file), and its ``rename`` replaces an existing target, as
       ``rename(2)`` does.
    2. ``FileSystemBasedCheckpointFileManager`` replaces the default
       ``FileContext`` manager, whose ``renameTempFile`` calls
       ``getFileLinkStatus`` (a ``readlink``) on every checkpoint file.
       Atomicity holds: a temp file is renamed within its own directory
       through ``RawLocalFileSystem.rename``, which is ``rename(2)``;
       Hadoop's copy-and-delete fallback runs only if ``File.renameTo``
       fails, which it cannot within one directory; the ``exists(dst)``
       check before the rename matters only to two writers of one
       checkpoint, which Structured Streaming already forbids; and the
       ``.crc`` pair is renamed data first, as ``ChecksumFs`` does.  Its
       overwriting rename (a state-store delta rewritten by a retried
       batch) relies on ``rename`` replacing an existing target, which
       the class of 1 does.

    Every other session (``javac`` absent, or a cluster master, whose
    executors would not have the jar and whose hosts have native Hadoop)
    keeps Spark's defaults.  The rename-based manager is not for them:
    over ``ProxyLocalFileSystem``, or HDFS, whose ``FileSystem.rename``
    also refuses an existing target, its overwrite returns silently and
    keeps the old file, where the ``FileContext`` manager replaces it.
    """
    jar = _fork_free_fs_jar() if master == "local" or master.startswith("local[") else None
    if jar is None:
        return {}
    return {
        _CLASSPATH: jar,
        "spark.hadoop.fs.file.impl": _FORK_FREE_FS,
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        ),
    }


def _fork_free_fs_jar() -> str | None:
    """Path of the compiled ``ForkFreeLocalFileSystem`` jar, built once
    per source version into the user cache dir with the JDK's ``javac``
    against the Hadoop API jar Spark runs with; None without ``javac`` or
    without that jar (a Spark build that takes Hadoop from the host)."""
    javac = shutil.which("javac")
    hadoop_api = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    if javac is None or not hadoop_api:
        return None
    with open(_FORK_FREE_SRC, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), __package__
    )
    jar = os.path.join(cache, f"fork-free-fs-{digest[:16]}.jar")
    if os.path.exists(jar):
        return jar
    os.makedirs(cache, exist_ok=True)
    # build in a private temp dir, then rename: concurrent builders each
    # publish a whole jar, and a reader never sees a partial one
    with tempfile.TemporaryDirectory(dir=cache) as tmp:
        classes = os.path.join(tmp, "classes")
        subprocess.run(
            [javac, "--release", "17", "-nowarn", "-cp", hadoop_api[0], "-d", classes, _FORK_FREE_SRC],
            check=True,
        )
        part = os.path.join(tmp, "fs.jar")
        with zipfile.ZipFile(part, "w") as zf:
            for root, _, files in os.walk(classes):
                for name in files:
                    path = os.path.join(root, name)
                    zf.write(path, os.path.relpath(path, classes))
        os.replace(part, jar)
    return jar


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
