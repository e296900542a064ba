"""SparkSession factory tuned for this engine.

Local test runs use ``local[$SPARK_GRAFT_CPUS]``; the same configs are the
ones we'd set cluster-side (AQE on, sensible shuffle partitioning, Arrow
for the Pandas-UDF slow path).
"""

from __future__ import annotations

import functools
import os
import re
import sys

from pyspark.sql import SparkSession

_HEAP_CAP = 24 << 30  # the heap the local[32] bench records were taken with
_HEAP_SHARE = 0.55  # of MemAvailable: leaves room for Python workers + page cache
_UNITS = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _meminfo_bytes(field: str) -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def _jvm_bytes(size: str) -> int:
    """Bytes in a JVM memory size string (``8g``, ``8192m``, ``512k``)."""
    m = re.fullmatch(r"(\d+)([kmgt]?)", size.lower())
    if m is None:
        raise ValueError(f"SPARK_GRAFT_DRIVER_MEM={size!r} is not a JVM memory size like 8g or 8192m")
    return int(m.group(1)) * _UNITS[m.group(2)]


@functools.cache
def _driver_heap() -> str:
    """The driver heap, pinned as both -Xms and -Xmx.

    ``SPARK_GRAFT_DRIVER_MEM`` wins when set, but must fit in MemTotal: a
    pinned heap larger than physical memory cannot be mapped and the JVM
    dies at launch. Unset, the heap is min(24g, 55% of MemAvailable), so a
    small box still starts its session. Logged once per process."""
    total = _meminfo_bytes("MemTotal")
    explicit = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if explicit:
        if total is not None and _jvm_bytes(explicit) > total:
            raise ValueError(
                f"SPARK_GRAFT_DRIVER_MEM={explicit} exceeds physical memory "
                f"(MemTotal {total >> 20} MiB); the pinned driver heap could not be mapped"
            )
        heap, why = explicit, "SPARK_GRAFT_DRIVER_MEM"
    else:
        avail = _meminfo_bytes("MemAvailable")
        cap = _HEAP_CAP if avail is None else min(_HEAP_CAP, int(avail * _HEAP_SHARE))
        heap, why = f"{cap >> 20}m", "min(24g, 55% of MemAvailable)"
    print(f"hgraphstorage_spark: driver heap {heap} ({why})", file=sys.stderr)
    return heap


def get_spark(app_name: str = "hgraphstorage_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession.

    Scale notes: on a real cluster ``spark.sql.shuffle.partitions`` should be
    ~2-3x total cores (or left to AQE coalescing, which we enable); in
    local mode we match the core count so tiny test shuffles don't fan out
    into hundreds of empty tasks.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    heap = _driver_heap()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # the events testdata table stores TIMESTAMP(NANOS) which the Spark
        # reader rejects; read as long and convert (streaming.load_events)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # parquet timestamps without a timezone otherwise read as
        # TIMESTAMP_NTZ (Spark 4 infers NTZ), which unix_micros/window
        # reject or shift; with the session tz pinned to UTC above, plain
        # TIMESTAMP has identical wall-clock values to DuckDB's naive-as-UTC
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", heap)
        # Pin the heap (-Xms == -Xmx): G1 UNCOMMITS heap pages back to
        # the OS after a full GC, so any explicit/periodic GC makes the
        # next allocation-heavy job re-fault and re-zero pages inside
        # its own runtime (measured r13, tools/gc_tax_probe.py: ~+0.4 s
        # on sub-second queries right after a System.gc() with an
        # unpinned heap; flat with the pin). Standard long-lived-server
        # JVM hygiene, same flag cluster-side. (AlwaysPreTouch was
        # measured too — it removes first-touch cost but costs ~40 s of
        # session startup, so it stays off; first-touch is paid once.)
        .config("spark.driver.extraJavaOptions", "-Xms" + heap)
        .config("spark.ui.enabled", "false")
        # bucketed tables (operators.bucketing) go through the catalog;
        # keep the warehouse out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/hgs_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
