"""SparkSession factory with scale-appropriate defaults.

Tests and bench run on local[N]; the same config block is what we'd set
on a 1000-executor cluster (AQE on, skew-join handling, broadcast
threshold) — partition counts come from env so local runs and cluster
runs share code.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[N] core count when SPARK_GRAFT_CPUS is unset; bench.py reports
# the same default in its parallelism block
DEFAULT_CPUS = "32"


def get_spark(app_name: str = "zeek-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS)
    if shuffle_partitions is None:
        # A/B-measured on the headline set: AQE-on + few initial shuffle
        # partitions is fastest at local scale (AQE coalesces anyway, and
        # fewer initial partitions = less scheduling overhead).  On a real
        # cluster raise via SPARK_GRAFT_SHUFFLE_PARTITIONS (or rely on
        # AQE's initialPartitionNum) — the data sizes there want hundreds+.
        # r17 re-probe of scaling this WITH the core count (2*cpus):
        # sf0.1 totals 6.15->6.28 s @32 cores and 5.31->5.66 s @8 cores,
        # sf1 10.63->10.45 s (parity) — rejected; the bench's
        # parallelism census (defaultParallelism + per-query task
        # counts) is what makes core-scaling legible at tiny SFs, not
        # a wider initial shuffle.
        env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        shuffle_partitions = int(env) if env else max(8, int(cpus) // 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its DEFAULT (true).  Round-9 A/B:
        # setting it false shaved 1-5% off the tiny sf0.1 headline set
        # (fewer post-shuffle tasks) but CPU-bound narrow-row
        # aggregations coalesce to ~2 tasks of 64MB at larger tiers —
        # q03 at sf~5 regressed 1.9 s -> 5.1 s (same JVM, interleaved).
        # 64 MB of 16-byte rows is 4M rows of hash-probe work per
        # task; byte-sized advisories are the wrong unit for CPU-bound
        # stages, which is exactly why Spark defaults to preserving
        # parallelism.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # model per-split scheduling overhead honestly: 4 MB under-
        # prices task launch for tiny inputs (sf0.1 single-file tables
        # split into several sub-second tasks); at 100 TB every file
        # dwarfs maxPartitionBytes so this only affects the tiny tail
        .config("spark.sql.files.openCostInBytes", str(16 * 1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # report the bucketed sortBy order from the scan (r17, promoted
        # from the bench arm): write_bucketed's default landing is ONE
        # file per bucket (sink.py r16), and Spark itself only honors
        # this conf when every bucket is a single file — multi-file
        # buckets (foreign tables) keep the sort, so the conf can never
        # claim an order the files don't have.  Removes the fact-side
        # Sort under bucketed merge joins (measured −33% on the
        # bucketed q03/q05 family at sf~5, SCALING.md r16).
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def conf_bytes(spark: SparkSession, key: str, default: str | None = None) -> int:
    """A byte-size conf read the way Spark reads it: the JVM's
    ``JavaUtils.byteStringAsBytes`` (``'16777216'``, ``'134217728b'``,
    ``'10m'``, ``'32MB'``, ``'1g'``), with a leading ``-`` negating the
    rest as Spark's ``bytesConf`` does (``-1`` is
    ``autoBroadcastJoinThreshold``'s 'disabled'; the JVM parser itself
    rejects negatives).  A value that does not parse raises
    ValueError."""
    raw = str(spark.conf.get(key, default)).strip()
    sign, digits = (-1, raw[1:]) if raw.startswith("-") else (1, raw)
    try:
        jutils = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
        return sign * int(jutils.byteStringAsBytes(digits))
    except Exception as exc:
        raise ValueError(f"{key}={raw!r} is not a byte size") from exc
