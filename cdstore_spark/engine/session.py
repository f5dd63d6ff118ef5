"""SparkSession construction with scale-appropriate defaults.

Tested on local[N] in this sandbox, but every knob is the one you'd set on a
1000-executor cluster: AQE on (runtime coalesce + skew-join splitting on top
of our explicit skew handling), Arrow batches sized so decode batches of
BinaryType payloads stay ~64 MB, shuffle partitions proportional to cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_heap() -> str:
    """Half of MemTotal in whole GiB, within [1, 24]: in local mode the
    driver JVM holds every executor and shares the host with one Python
    worker per core, so a fixed 24g is OOM-killed on a 15 GB host."""
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{max(1, min(24, kb // (2 << 20)))}g"


def get_spark(app: str = "cdstore-spark", parallelism: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    cores = parallelism or int(os.environ.get(
        "SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    shuffle = max(2 * cores, 32)
    b = (
        SparkSession.builder
        .appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # broadcast decisions belong to AQE, which sees EXACT stage sizes:
        # verify's per-clip feature projection (payload-wide) is a few
        # MB..tens of MB at test tiers (broadcast wins — avoids
        # re-shuffling the big pair table) but grows past any broadcast
        # budget with corpus size, where driver-serial broadcast builds
        # dominated the scaling ladder. No static hints in the engine;
        # this threshold lets AQE convert up to 64 MB measured —
        # static planning keeps the conservative 10 MB estimate-based
        # default.
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        # coalescing floor: with the default 1 MB minPartitionSize a
        # few-MB shuffle coalesces to 1-2 partitions — fatal when it
        # feeds a per-ROW-expensive Python kernel stage (cost invisible
        # to byte-based AQE; measured +24 s). 64 KB keeps parallelism-
        # first sizing in charge down to tiny stages.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "64k")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark's JVM-side ArrowWriter is super-linear in batch size for
        # wide BinaryType rows (measured: batch=16 moves the same bytes 6x
        # faster than batch=256); the decode hot path avoids JVM→Python
        # payload transfer entirely (featurize_from_parquet), so this
        # setting only shapes the remaining small-row UDF stages
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_heap())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
