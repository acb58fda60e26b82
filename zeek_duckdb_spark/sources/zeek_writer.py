"""Zeek TSV log WRITER: the round-trip complement of read_zeek.

The reference is read-only (its export path is DuckDB's own COPY); a
Spark user additionally needs to LAND data in the Zeek wire format —
to feed downstream Zeek tooling, or to re-emit cleaned/filtered logs.
This writer produces files that the reference scanner (and our three
read paths) parse back to the same values:

- the 8 header directives with the reference's defaults
  (``\\x09`` separator, ``,`` set separator, ``-`` unset, ``(empty)``
  empty — src/zeek_scanner.cpp:120-152 wire constants);
- typed wire forms mirroring the READ parse semantics exactly
  (SURVEY.md §1.4/§1.5): time/interval as epoch/total seconds with 6
  fractional digits (µs-exact integer arithmetic, not float
  formatting), bool as ``T``/``F``, NULL as the unset marker, empty
  string/collection as the empty marker, vector/set joined on the set
  separator with per-element markers.

Scale shape: all row formatting is JVM expressions (a short chain of
projections ending in one ``concat_ws`` — zero Python in the data path
until the final byte-copy).  The projections are Spark SQL text, one
``selectExpr`` each, built with the reader's conf-independent literal
and identifier helpers: building them one Column call at a time cost a
py4j round trip per expression node on the driver.  The µs of time
and interval values, their 6-digit form and each unguarded cell are
columns of their own projection because the next step reads them more
than once (repeating them in the text multiplied the JVM's analysis
work).  The sink itself is a Python DataSource writer that
streams each partition's already-formatted lines into its own
``part-NNNNN.log[.gz]`` file with the full header block — one file per
partition, the rotation-shaped layout the reference's multi-file scan
expects.  Task retries are safe: output is staged per attempt and
renamed over the deterministic final name at commit
(sources/staged.py; last successful attempt wins).

Caveat (inherent to the format): Zeek TSV has NO quoting or escaping
(SURVEY §1.4 tokenizer) — a value containing the separator or a
newline would corrupt the row.  ``on_unwritable='error'`` (default)
fails loudly at write time via a validating projection;
``'strip'`` replaces offending characters with a space.
"""

from __future__ import annotations

import gzip
import os

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from zeek_duckdb_spark.sources.zeek import _lit, select_stages

__all__ = [
    "write_zeek",
    "write_zeek_stream",
    "format_zeek_lines",
    "zeek_types_for_schema",
]

_UNSET = "-"
_EMPTY = "(empty)"
_SET_SEP = ","
# values the wire cannot carry: in a cell, and in a collection element
_CELL_BAD = "[\\t\\n\\r]"
_ELEMENT_BAD = "[\\t\\n\\r" + _SET_SEP + "]"


def zeek_types_for_schema(
    schema: T.StructType, overrides: dict[str, str] | None = None
) -> list[str]:
    """Default Spark->Zeek type labels (the §1.3 mapping inverted),
    with per-column ``overrides`` for the labels that don't survive
    the round-trip through Spark's type system (count/port collapse
    to LongType; addr/subnet/enum read back as strings)."""
    overrides = overrides or {}
    out = []
    for f in schema.fields:
        if f.name in overrides:
            out.append(overrides[f.name])
            continue
        out.append(_default_ztype(f.dataType, f.name))
    return out


def _default_ztype(dt: T.DataType, name: str) -> str:
    if isinstance(dt, T.TimestampType):
        return "time"
    if isinstance(dt, T.DayTimeIntervalType):
        return "interval"
    if isinstance(dt, T.IntegerType):
        # IntegerType only arises from Zeek 'port' on the read side
        # ('int'/'count' are int64); label it back as port so the
        # round-trip schema is stable
        return "port"
    if isinstance(dt, (T.LongType, T.ShortType, T.ByteType)):
        return "int"
    if isinstance(dt, T.DecimalType):
        return "count"  # count_decimal=True round-trip (DECIMAL(20,0))
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return "double"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.DateType):
        # Zeek has no date type; land as ISO-8601 text (reads back as
        # a string column — lossy on type, exact on value)
        return "string"
    if isinstance(dt, T.ArrayType):
        return f"vector[{_default_ztype(dt.elementType, name)}]"
    raise ValueError(
        f"write_zeek: no Zeek wire form for column '{name}' of type {dt.simpleString()}"
    )


def _micros(c: str, dt: T.DataType) -> str:
    """Integer µs of a time or interval value."""
    if isinstance(dt, T.TimestampType):
        return f"unix_micros({c})"
    return _interval_us(c)


def _interval_us(c: str) -> str:
    """Total µs of a day-time interval, exact via component extracts
    (CAST(interval AS BIGINT) truncates to whole end-unit seconds)."""
    d, h, m = (f"cast(extract({u} FROM {c}) as long)"
               for u in ("DAY", "HOUR", "MINUTE"))
    # SECOND is decimal(8,6): µs-exact, signed
    return (f"({d} * 86400 + {h} * 3600 + {m} * 60) * cast(1000000 as long)"
            f" + cast(extract(SECOND FROM {c}) * 1000000 as long)")


def _six_digits(us: str) -> str:
    """Integer µs -> decimal seconds with exactly 6 fractional digits."""
    return (f"concat(CASE WHEN {us} < 0 THEN '-' ELSE '' END, "
            f"cast(cast(abs({us}) / 1000000 as long) as string), '.', "
            f"lpad(cast(abs({us}) % 1000000 as string), 6, '0'))")


def _us_to_decimal_string(s6: str, us: str) -> str:
    """Integer µs -> decimal-seconds string that parses BACK to the
    same µs under the read side's ``trunc(double(v) * 1e6)`` contract
    (A9 — the reference's own float-then-truncate parse,
    src/zeek_scanner.cpp:23-31), from ``us`` and its
    :func:`_six_digits` form ``s6``.

    Plain 6-digit formatting is NOT enough: ~1.2 % of µs values sit
    where the nearest double to ``n/1e6`` lands just below ``n`` after
    the multiply, so truncation reads back ``n-1`` (measured over 2M
    random epochs).  For exactly those rows — predicted HERE with the
    same IEEE double arithmetic the parsers use — a half-µs guard
    digit ('5') is appended, centering the parsed value safely inside
    ``(n, n+1)``; every other row keeps the canonical 6-digit Zeek
    form.  Result: write->read is µs-exact for ALL values (fuzzed in
    tests/test_zeek_writer.py)."""
    return (f"CASE WHEN cast(cast({s6} as double) * 1000000.0D as long) = {us}"
            f" THEN {s6} ELSE concat({s6}, '5') END")


def _scalar_wire(c: str, dt: T.DataType) -> str:
    """Wire text of a non-time scalar; NULL stays NULL."""
    if isinstance(dt, T.BooleanType):
        # two guarded arms so NULL stays NULL (an ELSE would fold NULL
        # into 'F'); the unset marker lands via the outer coalesce
        return f"CASE WHEN {c} THEN 'T' WHEN NOT {c} THEN 'F' END"
    if isinstance(dt, T.StringType):
        return f"CASE WHEN {c} = '' THEN {_lit(_EMPTY)} ELSE {c} END"
    # date: ISO-8601; numeric/decimal: engine string form round-trips
    return f"cast({c} as string)"


def _guard(cell: str, bad_re: str, colname: str, on_unwritable: str) -> str:
    """The format has no escaping: a value containing the row separator
    (or, inside a collection, the SET separator) would corrupt the row
    — fail loudly (default) or strip to a space BEFORE bytes land."""
    if on_unwritable == "strip":
        return f"regexp_replace({cell}, {_lit(bad_re)}, ' ')"
    msg = (f"write_zeek: value in column '{colname}' contains the "
           "separator, set separator, or a newline (Zeek TSV has no "
           "escaping); pass on_unwritable='strip' to replace")
    return (f"CASE WHEN {cell} RLIKE {_lit(bad_re)} "
            f"THEN raise_error({_lit(msg)}) ELSE {cell} END")


def _field_wire(
    src: str, c: str, dt: T.DataType, colname: str, on_unwritable: str
) -> list[list[str]]:
    """One field's wire text, as four successive projections from the
    column ``src`` to a column named ``c``: the value (µs for time and
    interval); its 6-digit form; the cell (NULL -> unset marker, and
    per-element markers inside collections — the read side's A10
    semantics); the separator guard.  A value read more than once is a
    column of the projection before, or a lambda variable.  Separator
    guards run at ELEMENT level for collections, so a set separator
    hiding inside an element is caught before the join."""
    v, s6, w = f"{c}_v", f"{c}_s6", f"{c}_w"
    unset = _lit(_UNSET)
    arr = isinstance(dt, T.ArrayType)
    et = dt.elementType if arr else dt
    if isinstance(et, (T.TimestampType, T.DayTimeIntervalType)):
        if arr:
            value = f"transform({src}, e -> {_micros('e', et)})"
            digits = f"transform({v}, e -> {_six_digits('e')})"
            cell = (f"zip_with({s6}, {v}, (s, u) -> "
                    f"coalesce({_us_to_decimal_string('s', 'u')}, {unset}))")
        else:
            value = _micros(src, et)
            digits = _six_digits(v)
            cell = f"coalesce({_us_to_decimal_string(s6, v)}, {unset})"
        stages = [[f"{value} AS {v}"], [v, f"{digits} AS {s6}"], [f"{cell} AS {w}"]]
    else:
        if arr:
            cell = f"transform({v}, e -> coalesce({_scalar_wire('e', et)}, {unset}))"
        else:
            cell = f"coalesce({_scalar_wire(v, et)}, {unset})"
        stages = [[f"{src} AS {v}"], [v], [f"{cell} AS {w}"]]
    if arr:
        guarded = _guard("e", _ELEMENT_BAD, colname, on_unwritable)
        joined = f"array_join(transform({w}, e -> {guarded}), {_lit(_SET_SEP)})"
        wire = (f"coalesce(CASE WHEN size({w}) = 0 THEN {_lit(_EMPTY)} "
                f"ELSE {joined} END, {unset})")
    else:
        wire = _guard(w, _CELL_BAD, colname, on_unwritable)
    return stages + [[f"{wire} AS {c}"]]


def _first_cell(c: str, colname: str, on_unwritable: str) -> str:
    """A '#' at LINE start reads back as a comment/directive and the
    whole row silently vanishes — guard the first cell."""
    if on_unwritable == "strip":
        return f"regexp_replace({c}, '^#', ' ')"
    msg = (f"write_zeek: value in first column '{colname}' "
           "starts with '#' (reads back as a comment line); "
           "pass on_unwritable='strip' to replace")
    return f"CASE WHEN startswith({c}, '#') THEN raise_error({_lit(msg)}) ELSE {c} END"


def write_zeek(
    df: DataFrame,
    path: str,
    path_name: str = "spark",
    zeek_types: dict[str, str] | None = None,
    compress: "bool | str" = False,
    mode: str = "overwrite",
    on_unwritable: str = "error",
) -> None:
    """Write ``df`` as Zeek TSV log files under ``path`` (one
    ``part-NNNNN.log[.gz|.zst]`` per partition, each with the full
    header block).  ``compress``: False (plain), True/'gz' (gzip), or
    'zst' (zstd via pyarrow's bundled codec — Zeek's own third
    compression format; the scan path auto-detects all three).
    ``zeek_types`` overrides the ``#types`` label per column
    (``{'host_ip': 'addr', 'conns_opened': 'count'}``) — labels that
    Spark's type system can't carry.  ``read_zeek(spark, path + '/*')``
    returns the same values (round-trip pinned + fuzzed in tests).

    Known lossy cases, inherent to the wire format: a first-column
    value starting with ``#`` would read back as a comment line
    (guarded like the separators — error by default); a STRING value
    equal to a marker (``''``, ``'-'``, ``'(empty)'``) is
    indistinguishable from the marker on the wire and reads back NULL
    (scalars) / NULL element (collections); an EMPTY collection writes
    the empty marker, which the reference-pinned read semantics return
    as NULL, not ``[]`` (test/sql/zeek.test:191-206); a SINGLE-element
    collection whose element renders to a marker (e.g. ``[NULL]`` ->
    ``-``) is byte-identical to the cell-level marker and also reads
    back NULL.  Everything else round-trips exactly (fixed- and
    randomized-schema fuzz in tests)."""
    if mode not in ("overwrite", "error"):
        raise ValueError("write_zeek: mode must be 'overwrite' or 'error'")
    if on_unwritable not in ("error", "strip"):
        raise ValueError("write_zeek: on_unwritable must be 'error' or 'strip'")
    from zeek_duckdb_spark.sources.datasource import register_zeek_datasource

    register_zeek_datasource(df.sparkSession)  # idempotent
    lines, header = format_zeek_lines(df, path_name, zeek_types, on_unwritable)
    (
        lines.write.format("zeek")
        .mode("overwrite" if mode == "overwrite" else "append")
        .option("zeek_header", header)
        .option("compress", str(compress).lower())
        .save(path)
    )


def format_zeek_lines(
    df: DataFrame,
    path_name: str = "spark",
    zeek_types: dict[str, str] | None = None,
    on_unwritable: str = "error",
) -> tuple[DataFrame, str]:
    """(single-'line'-column frame, header block): the typed-to-wire
    projection shared by :func:`write_zeek` and
    :func:`write_zeek_stream` — all formatting is JVM expressions."""
    schema = df.schema
    ztypes = zeek_types_for_schema(schema, zeek_types)
    header = "\n".join(
        [
            "#separator \\x09",
            f"#set_separator\t{_SET_SEP}",
            f"#empty_field\t{_EMPTY}",
            f"#unset_field\t{_UNSET}",
            f"#path\t{path_name}",
            "#fields\t" + "\t".join(f.name for f in schema.fields),
            "#types\t" + "\t".join(ztypes),
        ]
    )
    # the user's names never enter the SQL text (``${...}`` in one
    # would be substituted): the input columns are renamed to f<i>, and
    # every later column is c<i>[_suffix]
    fields = [
        _field_wire(f"f{i}", f"c{i}", f.dataType, f.name, on_unwritable)
        for i, f in enumerate(schema.fields)
    ]
    stages = [[e for fld in fields for e in fld[k]] for k in range(4)]
    cells = [f"c{i}" for i in range(len(fields))]
    if cells:
        cells[0] = _first_cell("c0", schema.fields[0].name, on_unwritable)
    line = "concat_ws(" + ", ".join(["'\t'"] + cells) + ") AS line"
    positional = df.toDF(*[f"f{i}" for i in range(len(fields))])
    return select_stages(positional, stages + [[line]]), header


def write_zeek_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    path_name: str = "spark",
    zeek_types: dict[str, str] | None = None,
    compress: "bool | str" = False,
    on_unwritable: str = "error",
    trigger_available_now: bool = False,
):
    """Streaming twin of :func:`write_zeek`: lands each microbatch as
    rotated ``batch-BBBBBB-part-PPPPP.log[.gz]`` files — the multi-file
    layout the reference's glob scan (and read_zeek) consumes directly.

    Exactly-once: tasks stage bytes under ``.staging/`` and the DRIVER
    publishes them atomically at microbatch commit (rename per file; a
    replayed batch after restart overwrites the same deterministic
    names, so duplicates cannot accumulate — pinned by the restart
    test).  Empty partitions publish nothing.  Returns the started
    ``StreamingQuery``."""
    from zeek_duckdb_spark.sources.datasource import register_zeek_datasource

    register_zeek_datasource(df.sparkSession)
    lines, header = format_zeek_lines(df, path_name, zeek_types, on_unwritable)
    w = (
        lines.writeStream.format("zeek")
        .option("zeek_header", header)
        .option("compress", str(compress).lower())
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


# --- the DataSource writer half (registered on ZeekDataSource) ---------


from pyspark.sql.datasource import DataSourceStreamWriter, DataSourceWriter

from zeek_duckdb_spark.sources.staged import StagedDir


class _ZstdTextFile:
    """Text sink through pyarrow's bundled zstd codec — the one codec
    the package reads and writes zstd with, on the driver and on
    executors alike."""

    def __init__(self, path: str):
        import pyarrow as pa

        self._f = pa.output_stream(path, compression="zstd")

    def write(self, s: str) -> None:
        self._f.write(s.encode("utf-8"))

    def close(self) -> None:
        self._f.close()


def _codec(option_val) -> tuple[str, "object"]:
    """(extension, text-opener) for a ``compress`` option value:
    False/'false' -> plain, True/'true'/'gz' -> gzip,
    'zst'/'zstd' -> zstd via pyarrow (read back by the scan path's
    auto-detect — all three extensions glob together)."""
    v = str(option_val).lower()
    if v in ("false", "none", ""):
        return ".log", lambda p: open(p, "w")
    if v in ("true", "gz", "gzip"):
        return ".log.gz", lambda p: gzip.open(p, "wt")
    if v in ("zst", "zstd"):
        return ".log.zst", _ZstdTextFile
    raise ValueError(
        f"write_zeek: compress must be bool, 'gz', or 'zst' — got '{option_val}'"
    )


class _ZeekLines:
    """What both Zeek sinks write: per task, one file of the header
    block plus the pre-formatted lines, through the ``compress`` codec,
    staged in ``self._dir``."""

    def __init__(self, options: dict, who: str, staging: str = ""):
        self._header = options.get("zeek_header", "")
        self._ext, self._codec_open = _codec(options.get("compress", "false"))
        self._dir = StagedDir(options.get("path"), who, staging)

    def _open(self, path: str):
        fh = self._codec_open(path)
        fh.write(self._header + "\n")
        return fh

    def _stage(self, iterator, header_only_part: bool):
        def fill(open_tmp, _final):
            fh = open_tmp() if header_only_part else None
            for row in iterator:
                if fh is None:
                    fh = open_tmp()
                fh.write(row[0])
                fh.write("\n")

        return self._dir.stage(lambda pid: f"part-{pid:05d}{self._ext}",
                               self._open, fill)


class ZeekLogWriter(_ZeekLines, DataSourceWriter):
    """Per-partition sink: header block + pre-formatted lines into
    ``part-NNNNN.log[.gz|.zst]``, a header-only file for an empty
    partition.  Constructed by ZeekDataSource.writer().  All-or-nothing
    through the staged-file protocol (sources/staged.py)."""

    def __init__(self, options: dict, overwrite: bool):
        super().__init__(options, "write_zeek")
        self._dir.claim(
            lambda f: f.startswith("part-"), overwrite,
            f"write_zeek: '{self._dir.path}' already contains log files "
            "(mode='error'); use mode='overwrite'",
        )

    def write(self, iterator):
        return self._stage(iterator, header_only_part=True)

    def commit(self, messages):
        self._dir.publish(messages)

    def abort(self, messages):
        self._dir.discard(messages)


class ZeekStreamLogWriter(_ZeekLines, DataSourceStreamWriter):
    """Streaming sink half: tasks stage a file per non-empty partition
    under ``.staging/``; commit() publishes them under deterministic
    ``batch-BBBBBB-part-PPPPP`` names (idempotent across microbatch
    replays — a restarted batch overwrites, never duplicates); abort()
    discards the staged bytes."""

    def __init__(self, options: dict):
        super().__init__(options, "write_zeek_stream", staging=".staging")

    def write(self, iterator):
        return self._stage(iterator, header_only_part=False)

    def commit(self, messages, batchId):
        self._dir.publish(messages, prefix=f"batch-{batchId:06d}-")
        # a retried task's LOSING attempt leaves its staged file behind
        # (abort only runs when the whole batch fails); microbatches are
        # sequential per query, so anything still staged is garbage
        staging = self._dir.tmp_dir
        for f in os.listdir(staging):
            try:
                os.remove(os.path.join(staging, f))
            except OSError:
                pass

    def abort(self, messages, batchId):
        self._dir.discard(messages)
