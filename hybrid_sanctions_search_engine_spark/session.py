"""SparkSession factory tuned for the local test harness.

At cluster scale the same settings apply, except parallelism-derived ones
(``spark.sql.shuffle.partitions``) which should track total executor cores.
AQE stays on so skewed shuffle partitions get split at runtime.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

# a Unix socket path ``<dir>/.<uuid4>.sock`` must fit the 107 bytes of
# ``sun_path``: 64 bytes of directory at most
_SOCKET_DIR_MAX = 64


def _socket_dir() -> str:
    """A private directory for the Python workers' Unix domain sockets,
    short enough for any socket path in it, removed at exit: under the
    temp directory, or under ``/tmp`` where that path is too long (a
    benchmark's ``TMPDIR`` grows with its checkout path)."""
    base = tempfile.gettempdir()
    # mkdtemp adds "/sfts-" and 8 random characters
    if len(os.fsencode(base)) + 14 > _SOCKET_DIR_MAX:
        base = "/tmp"
    path = tempfile.mkdtemp(prefix="sfts-", dir=base)
    atexit.register(shutil.rmtree, path, True)
    return path


def get_spark(app_name: str = "hybrid-fulltext-spark", cores: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` drives both the local master thread count and the shuffle
    partition count; defaults to $SPARK_GRAFT_CPUS or 32.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # tmpfs for shuffle/spill when available: the sandbox's virtual disk
    # serializes concurrent writers, which caps shuffle-heavy jobs well below
    # CPU speed (on a real cluster each executor has its own local disks)
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if SparkContext._active_spark_context is None:
        # the driver ↔ Python worker streams over Unix domain sockets: on
        # loopback TCP a small task's input stalled ~40 ms (delayed ACK)
        builder = builder.config(
            "spark.python.unix.domain.socket.enabled", "true"
        ).config("spark.python.unix.domain.socket.dir", _socket_dir())
    return builder.getOrCreate()
