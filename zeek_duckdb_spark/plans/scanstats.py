"""Driver-side scan-parallelism estimation (no RDD materialization).

``df.rdd.getNumPartitions()`` answers the same question but converts
the logical plan to an RDD on the driver — ~100 ms of plan translation
per call and a needless analysis barrier (measured while profiling the
entry's fold-heavy queries).  Estimating from file metadata instead is
pure driver-side arithmetic, and mirrors how Spark's FilePartition
packing actually splits a scan (FilePartition.maxSplitBytes):

    maxSplitBytes = min(maxPartitionBytes,
                        max(openCostInBytes, totalBytes / defaultParallelism))
    splits        = sum(ceil(size / maxSplitBytes))

The ``totalBytes / defaultParallelism`` term matters: a single 64 MB
parquet is one ceil(64/128)-style "partition" under a naive
maxPartitionBytes-only estimate, but Spark actually splits it ~16 ways
on 32 cores — a naive estimate would trigger a needless repartition
shuffle right where the guard was supposed to avoid extra work.

File count alone both over-counts (many tiny files Spark coalesces
into one partition) and under-counts (one large splittable parquet
becomes many splits), so the byte-based estimate is the honest one.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame

from zeek_duckdb_spark.session import conf_bytes

__all__ = [
    "estimated_scan_bytes",
    "estimated_uncompressed_bytes",
    "estimated_scan_partitions",
    "ensure_min_parallelism",
]


def estimated_scan_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes feeding ``df``'s file scan, or None when no
    estimate is possible (non-file source, unreadable paths).  Used for
    CBO-style join build-side choices: a relation whose UNDERLYING
    table files are tiny is safe to broadcast no matter what filters
    sit on top (the filtered output can only be smaller), while a
    relation over unbounded table bytes must never be force-broadcast.
    Pure driver-side metadata arithmetic — no job, no RDD conversion."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        p = re.sub(r"^[a-z0-9.+-]+:(//)?", "", f)
        try:
            total += os.path.getsize(p)
        except OSError:
            return None  # non-local filesystem — no honest estimate
    return total


def estimated_uncompressed_bytes(
    df: DataFrame, columns: list[str] | None = None
) -> int | None:
    """UNCOMPRESSED bytes of ``df``'s underlying parquet scan
    (optionally restricted to top-level ``columns``), from parquet
    footer metadata — driver-side, no job.  This is the honest size
    for "can this relation ride a broadcast" decisions: the on-disk
    size understates a text column by its compression ratio (measured
    4-6x on the document corpora here), and what actually ships and
    sits in every executor's hash relation is the DECODED bytes.
    Returns None when no estimate is possible (non-file source,
    non-parquet files, unreadable paths).

    Footer reads are ~1 ms per file, so a many-thousand-file table is
    sampled: up to 16 evenly-spaced footers establish the
    uncompressed/on-disk ratio, which scales the exact on-disk total.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    try:
        import pyarrow.parquet as pq
    except Exception:
        return None

    def footer_bytes(path: str) -> int:
        md = pq.ParquetFile(path).metadata
        total = 0
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                if (
                    columns is None
                    or c.path_in_schema.split(".")[0] in columns
                ):
                    total += c.total_uncompressed_size
        return total

    paths = [re.sub(r"^[a-z0-9.+-]+:(//)?", "", f) for f in files]
    try:
        if len(paths) <= 16:
            return sum(footer_bytes(p) for p in paths)
        step = len(paths) / 16.0
        sample = [paths[int(i * step)] for i in range(16)]
        samp_unc = sum(footer_bytes(p) for p in sample)
        samp_disk = sum(os.path.getsize(p) for p in sample)
        if samp_disk <= 0:
            return None
        all_disk = sum(os.path.getsize(p) for p in paths)
        return int(all_disk * (samp_unc / samp_disk))
    except Exception:
        return None


# plan nodes after which the file-split arithmetic no longer describes
# df's ACTUAL partitioning (the user repartitioned, or a wide op set it)
_NON_NARROW_NODES = (
    "Repartition",
    "Coalesce",
    "Rebalance",
    "Join",
    "Aggregate",
    "Window",
    "Sort",
    "Deduplicate",
    "GlobalLimit",
)


def estimated_scan_partitions(df: DataFrame) -> int:
    """Estimate how many input splits ``df``'s file scan will produce.

    For non-file sources (``createDataFrame``, in-memory relations)
    ``inputFiles()`` is empty; those are parallelized over
    ``defaultParallelism`` already, so that is the honest estimate and
    keeps the min-parallelism guards below a no-op for them.

    The file arithmetic only describes a NARROW plan over the scan
    (project/filter keep the scan's partitioning).  If the plan
    contains a repartition/coalesce or a wide operator, df's real
    partitioning is whatever that op produced — fall back to the exact
    ``df.rdd.getNumPartitions()`` there (pays the one-off plan->RDD
    translation, but only on plans where no estimate is possible;
    without the fallback a coalesce(2) over a big file skips the guard
    and serializes the downstream folds on 2 cores).
    """
    spark = df.sparkSession
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        if any(node in plan for node in _NON_NARROW_NODES):
            return df.rdd.getNumPartitions()
    except Exception:
        pass  # plan introspection is best-effort; keep the estimate
    files = df.inputFiles()
    if not files:
        return spark.sparkContext.defaultParallelism
    try:
        mpb = conf_bytes(spark, "spark.sql.files.maxPartitionBytes", "134217728") or 1
        open_cost = conf_bytes(spark, "spark.sql.files.openCostInBytes", "4194304")
        sizes = []
        for f in files:
            p = re.sub(r"^[a-z0-9.+-]+:(//)?", "", f)
            sizes.append(os.path.getsize(p))
        total_bytes = sum(sizes) + open_cost * len(sizes)
        max_split = min(
            mpb,
            max(
                open_cost,
                total_bytes // max(1, spark.sparkContext.defaultParallelism),
            ),
        ) or 1
        return sum(max(1, -(-s // max_split)) for s in sizes)
    except (OSError, ValueError):
        # non-local filesystem or unparsable conf -> file count fallback
        return len(files)


def ensure_min_parallelism(
    df: DataFrame, min_parallelism: int | None
) -> DataFrame:
    """Round-robin repartition when the scan would deliver fewer
    partitions than requested.  The expensive per-row folds in the
    operator modules inherit the SCAN's partitioning — a small input
    file arrives as ONE partition and the whole fold serializes on one
    core (measured 2.4x on the sf0.1 LSH pipeline, 32 cores).  At real
    scale inputs split naturally and this is a no-op; results are
    partitioning-independent either way.

    The repartition goes on the RAW input, BEFORE any expensive
    projection: Catalyst keeps projections with their child stage, so
    repartitioning a projected output would still evaluate the folds
    inside the narrow single-partition stage.
    """
    if min_parallelism is None:
        return df
    if estimated_scan_partitions(df) >= min_parallelism:
        return df
    return df.repartition(min_parallelism)
