"""Structured Streaming ingestion of rotating Zeek logs.

The reference is strictly batch, but its fixture set — 24 hourly-rotated
``known_hosts_*.log.gz`` files — is exactly the production shape a
streaming file source handles: a monitor drops a finished log into the
directory every rotation period and the stream picks it up
(SURVEY.md §2.B "Streaming operators").

Design: schema is resolved ONCE, driver-side, from existing files (or an
explicit sample file) with the same header module as the batch path —
streams can't re-infer schema per file, and Zeek streams keep a stable
schema per log type.  Then ``spark.readStream.csv`` over the directory
with the batch scan's CSV options and typed-cast pipeline
(``sources.zeek.csv_options`` and ``typed_frame``:
SQL select lists parsed once by the JVM, rather than a py4j round trip
per expression node).  Everything downstream (watermarks, windowed
rollups, stateful ops) is stock Structured Streaming.

Scale notes: the file source scales by listing + per-file tasks (same
unit as batch); ``maxFilesPerTrigger`` bounds micro-batch size;
checkpointing gives exactly-once into parquet/delta-style sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zeek_duckdb_spark.header import (
    ZeekHeader,
    ZeekHeaderError,
    glob_zeek_files,
    parse_header,
    same_schema,
)
from zeek_duckdb_spark.sources.zeek import csv_options, raw_schema, typed_frame

__all__ = ["read_zeek_stream", "read_zeek_json_stream", "validate_stream_schemas", "windowed_rollup"]


def read_zeek_stream(
    spark: SparkSession,
    directory: str,
    *,
    pattern: str = "*.log*",
    schema_from: str | None = None,
    inet: bool = True,
    replace_periods: bool = True,
    max_files_per_trigger: int | None = None,
    validate_existing: bool = True,
) -> DataFrame:
    """Open a streaming DataFrame over a directory of rotating Zeek logs.

    ``schema_from``: path of a file whose header defines the stream
    schema; default = first (sorted) existing file matching ``pattern``
    in ``directory``.

    SCHEMA-DIVERGENCE CAVEAT (the one place this path could misparse
    without an error): a generic streaming file source cannot
    re-validate each new file's header the way the batch paths do (A22
    — the batch scan errors loudly on a header swap), so a file whose
    ``#fields`` / ``#types`` later diverge produces NULLs / misparsed
    columns in the stream rather than failing it.  Two remedies:
    ``spark.readStream.format("zeek")`` (sources/datasource.py
    ZeekStreamReader) validates every rotated file's header at
    microbatch planning and FAILS on divergence — use it when the
    strict guarantee matters more than JVM CSV throughput; or run
    ``validate_stream_schemas(directory)`` periodically (e.g. from the
    rotation cron, or a foreachBatch hook listing newly-seen files) —
    it re-parses every header with the batch module and raises with the
    reference's exact error wording on the first divergent file.

    ``validate_existing`` (default True) applies the batch guarantee to
    every file ALREADY in the directory at open time — headers are
    strict-compared before the stream starts, so only files rotated in
    later fall back to the periodic-validator recipe.
    """
    if schema_from is None:
        schema_from = glob_zeek_files(f"{directory.rstrip('/')}/{pattern}")[0]
    if validate_existing:
        validate_stream_schemas(directory, pattern=pattern, schema_from=schema_from)
    hdr: ZeekHeader = parse_header(schema_from)

    reader = (spark.readStream.schema(raw_schema(hdr, replace_periods))
              .options(**csv_options(hdr)))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.csv(f"{directory.rstrip('/')}/{pattern}")
    return typed_frame(raw, hdr, replace_periods, inet)


def validate_stream_schemas(
    directory: str,
    *,
    pattern: str = "*.log*",
    schema_from: str | None = None,
    raise_on_divergence: bool = True,
) -> list[tuple[str, str]]:
    """Offline schema check for a streamed directory: parse every
    matching file's header (driver-side, header lines only — no data
    read) and compare against the stream's resolved schema with the
    batch path's strict ``same_schema`` (A6/A22 semantics, same error
    wording the reference tests assert on).

    Returns ``[(path, reason), ...]`` for divergent files (empty =
    clean).  With ``raise_on_divergence`` (default) the first
    divergence raises ``ZeekHeaderError`` instead, matching the batch
    scan's loud failure.  Intended to run from the log-rotation hook or
    a scheduled job so stream misparses are caught within a rotation
    period."""
    files = glob_zeek_files(f"{directory.rstrip('/')}/{pattern}")
    if schema_from is None:
        schema_from = files[0]
    expected = parse_header(schema_from)
    divergent: list[tuple[str, str]] = []
    for path in files:
        reason = same_schema(expected, parse_header(path))
        if reason is not None:
            if raise_on_divergence:
                raise ZeekHeaderError(
                    f"schema of '{path}' diverges from stream schema "
                    f"('{schema_from}'): {reason}"
                )
            divergent.append((path, reason))
    return divergent


def windowed_rollup(
    stream: DataFrame,
    ts_col: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: list[str] | None = None,
    aggs: list | None = None,
) -> DataFrame:
    """Watermarked tumbling-window rollup — the hypertable-style
    continuous aggregate over a Zeek stream.  Late rows within the
    watermark update their window; older rows are dropped (state is
    bounded, which is what makes this run forever at scale)."""
    group_cols = group_cols or []
    aggs = aggs or [F.count("*").alias("n")]
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), *group_cols)
        .agg(*aggs)
    )


def read_zeek_json_stream(
    spark: SparkSession,
    directory: str,
    types: dict[str, str],
    *,
    pattern: str = "*.json*",
    replace_periods: bool = True,
    timestamps: str = "epoch",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of :func:`zeek_json.read_zeek_json` for rotating
    JSON logs (``LogAscii::use_json`` deployments rotate exactly like
    TSV ones).  ``types`` is REQUIRED here — a stream cannot sample
    files to infer schema, and Zeek streams keep a stable schema per
    log type — and gets the same typed-cast pipeline as the batch JSON
    reader (epoch/ISO time handling, port range checks, recursive
    containers).

    Same scale shape as :func:`read_zeek_stream`: listing + per-file
    tasks, ``maxFilesPerTrigger`` bounding each micro-batch, stock
    watermark/rollup/stateful operators downstream.  The JSON format
    sidesteps the TSV stream's schema-divergence caveat mechanically —
    there is no header to diverge — but a producer adding NEW fields
    is silently ignored until ``types`` is updated (absent-field NULLs
    cover the removal direction)."""
    from zeek_duckdb_spark.sources.zeek_json import _json_projection

    read_schema, cols = _json_projection(types, timestamps, replace_periods)
    reader = spark.readStream.schema(read_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.option("pathGlobFilter", pattern).json(directory).select(*cols)
