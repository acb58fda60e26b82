"""read_zeek: Zeek logs -> typed Spark DataFrame (the engine's source op).

Design (SURVEY.md §7.1 option (a), "composed built-in readers"):
driver-side header parse + schema resolution (the reference also binds
schemas eagerly on one thread, src/zeek_scanner.cpp:439-609), then ONE
``spark.read.csv`` per schema-group with an all-string schema, followed
by a declarative cast pipeline.  Everything after header parse is
DataFrame expressions, so Catalyst keeps column pruning (the CSV parser
only tokenizes projected fields), predicate pushdown on passthrough
string columns, and whole-stage codegen for the casts — no Python
executes per row.

The cast pipeline is built as Spark SQL text and handed over in one
``selectExpr`` per projection, so the JVM parses it once.  Built one
``pyspark.sql.functions`` call at a time it cost a py4j round trip per
expression node — thousands per bind, a fixed driver latency that
dwarfed the scan on small logs.  Two rules keep the text equivalent to
those expressions: every string literal goes through :func:`_lit`,
which does not depend on session confs, and a value the cast reads more
than once is a column of the projection before (or a lambda variable),
never repeated text.  Scale notes:

- one Spark task per (non-splittable) gzip file == the reference's
  per-file parallelism unit (src/zeek_scanner.cpp:245-330); plain-text
  logs additionally split by ``maxPartitionBytes``, which the reference
  cannot do.
- schema work is O(#files) driver-side metadata, never data.
- no shuffle anywhere in the scan; ``union_by_name`` is a narrow
  unionByName of per-group scans.

Behavioral parity targets are cited per function against
/root/reference (see SURVEY.md §1 for chapter and verse).
"""

from __future__ import annotations

import functools
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zeek_duckdb_spark.header import (
    ZeekBind,
    ZeekHeader,
    ZeekHeaderError,  # noqa: F401  (re-exported; tests import it here)
    bind_zeek,
    glob_zeek_files,
    parse_header,
    zeek_type_to_spark,
)

__all__ = ["read_zeek"]


def _lit(s: str) -> str:
    """SQL string literal that parses to ``s`` under every session conf.

    ``'...'`` is only safe when the text holds no quote or backslash
    (their meaning depends on ``spark.sql.parser.escapedStringLiterals``,
    and raw ``r'...'`` literals misparse when it is on) and no ``$``
    (``${...}`` is substituted under ``spark.sql.variable.substitute``);
    anything else goes in as its UTF-8 bytes in hex, which constant
    folding turns back into the same literal."""
    if "'" in s or "\\" in s or "$" in s:
        return f"cast(unhex('{s.encode('utf-8').hex()}') as string)"
    return f"'{s}'"


def _sql_type(dt: T.DataType) -> str:
    """Type name for a SQL cast.  ``timestamp_ltz`` because a bare
    ``timestamp`` follows ``spark.sql.timestampType``."""
    if isinstance(dt, T.ArrayType):
        return f"array<{_sql_type(dt.elementType)}>"
    if isinstance(dt, T.TimestampType):
        return "timestamp_ltz"
    return dt.simpleString()


def select_stages(df: DataFrame, stages: list[list[str]]) -> DataFrame:
    """Apply successive SQL select lists, one ``selectExpr`` each.  The
    text names columns by position only: a user's or a header's column
    name never enters it (``${...}`` in a name would be substituted as
    a variable); callers apply real names with ``toDF``."""
    return functools.reduce(lambda d, sel: d.selectExpr(*sel), stages, df)


def _java_rx_quote(s: str) -> str:
    """Quote a literal for Java regex (split takes a regex pattern)."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _marker_to_null(x: str, hdr: ZeekHeader) -> str:
    """unset_field or empty_field marker -> SQL NULL, for every type
    including lists (ref src/zeek_scanner.cpp:798-801; NULL not
    empty-array for '(empty)' on a vector column,
    test/sql/zeek.test:191-206)."""
    return (f"CASE WHEN {x} = {_lit(hdr.unset_field)} OR "
            f"{x} = {_lit(hdr.empty_field)} THEN NULL ELSE {x} END")


def _pre_cast(x: str, zeek_type: str, count_decimal: bool) -> str:
    """The part of the cast that :func:`_cast_scalar` reads more than
    once (port/count range checks), computed one projection earlier."""
    if zeek_type == "port":
        return f"try_cast({x} as int)"
    if zeek_type == "count":
        return f"try_cast({x} as {'decimal(20,0)' if count_decimal else 'long'})"
    return x


def _cast_scalar(p: str, zeek_type: str, inet: bool) -> str:
    """Text -> typed value with the reference's parse semantics
    (ref src/zeek_scanner.cpp:806-884 and :23-31), over ``p``: the
    marker-nulled cell after :func:`_pre_cast`.

    - time/interval: epoch-seconds double * 1e6 truncated to int64 µs
    - port: uint16 range check, out-of-range -> NULL (TryCast failure)
    - count: uint64 in the reference; negative -> NULL here, and values
      in [2^63, 2^64) overflow LongType -> NULL (documented caveat,
      SURVEY.md §1.4 — unrealistic for Zeek counters)
    - bool: 'T'/'true' -> true, anything else -> false, never NULL on
      bad input (ref src/zeek_scanner.cpp:838-841); markers stay NULL
    - parse failure on numerics/time/interval -> NULL
    - addr/subnet with ``inet``: IPv6 lowercased, the SQL form of
      ``functions.inet.inet_canon_col``
    """
    # try_cast throughout: Spark 4 runs in ANSI mode where a plain cast
    # THROWS on malformed text; the reference uses TryCast semantics
    # (bad input -> NULL, src/zeek_scanner.cpp:811-818)
    micros = f"try_cast(try_cast({p} as double) * 1000000.0D as long)"
    if zeek_type == "time":
        return f"timestamp_micros({micros})"
    if zeek_type == "interval":
        return (f"make_dt_interval(0, 0, 0, "
                f"cast({micros} as decimal(20,0)) / 1000000)")
    if zeek_type == "port":
        return f"CASE WHEN {p} >= 0 AND {p} <= 65535 THEN {p} END"
    if zeek_type == "count":
        return f"CASE WHEN {p} >= 0 THEN {p} END"
    if zeek_type == "int":
        return f"try_cast({p} as long)"
    if zeek_type == "bool":
        return f"CASE WHEN {p} IS NULL THEN NULL ELSE {p} IN ('T', 'true') END"
    if zeek_type == "double":
        return f"try_cast({p} as double)"
    if inet and zeek_type in ("addr", "subnet"):
        return f"CASE WHEN contains({p}, ':') THEN lower({p}) ELSE {p} END"
    # string / enum / addr / subnet / unknown -> passthrough text
    return p


def _cast_field(src: str, zeek_type: str, hdr: ZeekHeader, inet: bool,
                count_decimal: bool = False) -> tuple[str, Callable[[str], str]]:
    """Full field pipeline over raw column ``src``: marker->NULL, then
    list split + element casts for vector[...]/set[...] (ref
    src/zeek_scanner.cpp:332-437 — sets are read as lists, order
    preserved, no dedup), else scalar cast.  Returned as two stages:
    the first projection's text, and a function building the second
    projection's text from the first one's column name."""
    zt = zeek_type.strip()
    cell = _marker_to_null(src, hdr)
    if zt.startswith("vector[") or zt.startswith("set["):
        if zt.endswith("]"):
            inner = zt[zt.index("[") + 1 : -1]
        else:
            inner = "string"  # malformed bracket -> string elements
        elems = f"split({cell}, {_lit(_java_rx_quote(hdr.set_separator))})"
        # NULL elements inside arrays
        pre = _pre_cast(_marker_to_null("e", hdr), inner, count_decimal)
        body = _cast_scalar("e", inner, inet)
        return (f"transform({elems}, e -> {pre})",
                lambda p: p if body == "e" else f"transform({p}, e -> {body})")
    return (_pre_cast(cell, zt, count_decimal),
            lambda p: _cast_scalar(p, zt, inet))


def _two_stages(fields: list[tuple[str, Callable[[str], str]]]) -> list[list[str]]:
    """Select lists for :func:`select_stages` from ``_cast_field``
    pairs, producing one column ``c<i>`` per field.  A value the cast
    reads more than once is a column of the first projection, never
    repeated text."""
    return [
        [f"{first} AS p{i}" for i, (first, _) in enumerate(fields)],
        [f"{second(f'p{i}')} AS c{i}" for i, (_, second) in enumerate(fields)],
    ]


# Past this many files the abs->as-given map would bloat the plan with a
# literal per file; fall back to the canonical absolute path (on a real
# distributed filesystem the two coincide anyway — relative paths only
# arise from local-filesystem globs).
_FILENAME_MAP_MAX_FILES = 10_000


def _with_filename(df: DataFrame, files: list[str]) -> DataFrame:
    """Add the ``filename`` column, echoing the path in the form the
    USER supplied (relative stays relative), matching the reference
    (src/zeek_scanner.cpp:778-781): input_file_name() without its
    file: URI prefix and percent-decoded (a space, '%' or '#' in a path
    reaches it escaped; a literal '+' is protected as %2B first, since
    url_decode would read it as a space), then a driver-built literal
    map from canonical absolute path back to the glob's as-given form.
    Identity-skip when every glob match is already absolute."""
    df = df.withColumn(
        "filename",
        F.expr(
            "url_decode(replace(regexp_replace(input_file_name(), "
            "'^file:(//)?', ''), '+', '%2B'))"
        ),
    )
    pairs = [(os.path.abspath(f), f) for f in files]
    if len(files) > _FILENAME_MAP_MAX_FILES or all(a == g for a, g in pairs):
        return df
    m = ", ".join(_lit(x) for pair in pairs for x in pair)
    return df.withColumn("filename", F.expr(f"coalesce(map({m})[filename], filename)"))


def raw_schema(hdr: ZeekHeader, replace_periods: bool) -> T.StructType:
    """All-string schema of a header's raw columns."""
    return T.StructType([T.StructField(n, T.StringType(), True)
                         for n in hdr.column_names(replace_periods)])


def _positional(raw: DataFrame, hdr: ZeekHeader) -> DataFrame:
    """``raw``'s columns renamed ``r<i>`` for :func:`select_stages`;
    the scan keeps reading them under the header's names."""
    return raw.toDF(*[f"r{i}" for i in range(len(hdr.fields))])


def csv_options(hdr: ZeekHeader) -> dict:
    """CSV reader options for the data lines of files with header
    ``hdr``, shared by the batch scan and ``read_zeek_stream``.
    quote/escape are disabled (\\u0000) because Zeek never quotes or
    escapes fields — a '"' in data is a literal (ref tokenizer
    src/zeek_scanner.cpp:79-89); '#' comment handling matches the
    reference's line-start-only skip (src/zeek_scanner.cpp:703-705).

    univocity returns null for any zero-length unquoted token before
    nullValue comparison, so a bare '' cell is NULL for every type — an
    engine-defined unification shared by all three scan paths (DS,
    streaming).  The reference reads '' as empty string / empty list
    (src/zeek_scanner.cpp:338-342), but real Zeek output always writes
    the (empty)/unset markers, never bare empties."""
    return {"sep": hdr.separator, "comment": "#", "quote": "\u0000",
            "escape": "\u0000", "mode": "PERMISSIVE", "header": False}


def _read_group(spark: SparkSession, files: list[str], hdr: ZeekHeader,
                replace_periods: bool) -> DataFrame:
    """One CSV scan over files sharing a schema."""
    return (
        spark.read.schema(raw_schema(hdr, replace_periods))
        .options(**csv_options(hdr))
        # absolutize for the JVM: Spark resolves relative paths against
        # the JVM's CWD, which need not match the Python driver's (the
        # as-given form is still echoed by the filename column)
        .csv([os.path.abspath(f) for f in files])
    )


def read_zeek(
    spark: SparkSession,
    path: str,
    *,
    inet: bool = True,
    filename: bool = False,
    replace_periods: bool = True,
    union_by_name: bool = False,
    ignore_file_errors: bool = False,
    count_decimal: bool = False,
) -> DataFrame:
    """Read Zeek log file(s) into a typed DataFrame.

    The Spark-native equivalent of the reference's
    ``read_zeek(path, ...)`` table function (src/zeek_scanner.cpp:913-925)
    with the same five named options and defaults
    (src/include/zeek_reader.hpp:76-85).

    - ``inet``: canonicalize addr/subnet text (IPv4+IPv6) so equality and
      the registered INET functions behave like a native INET type; when
      False, raw text passthrough (bit-compatible with the reference's
      ``inet=false``).
    - ``filename``: append the source path as a ``filename`` column.
    - ``replace_periods``: ``id.orig_h`` -> ``id_orig_h``.
    - ``union_by_name``: union schema across files by field name in
      first-encountered order; absent fields read NULL; type conflicts
      raise (ref src/zeek_scanner.cpp:506-589).
    - ``ignore_file_errors``: skip unreadable/unparseable files; if no
      file yields a schema, still raise (ref src/zeek_scanner.cpp:499-505).
    - ``count_decimal``: map Zeek ``count`` to DECIMAL(20,0) for full
      uint64 fidelity (values in [2^63, 2^64) overflow the default
      LongType to NULL; the reference's UBIGINT keeps them —
      SURVEY.md §1.4 caveat).
    """
    b = bind_zeek(path, union_by_name=union_by_name,
                  ignore_file_errors=ignore_file_errors,
                  glob=glob_zeek_files, parse=parse_header)
    if union_by_name:
        df = _read_union(spark, b, replace_periods, inet, count_decimal)
    else:
        # strict mode: the first header is the schema (field names and
        # order, types, separators, markers; #path and #open ignored —
        # ref src/zeek_reader.cpp:165-205); bind kept the files matching it
        first = b.headers[0]
        raw = _read_group(spark, [h.source_file for h in b.headers], first,
                          replace_periods)
        df = typed_frame(raw, first, replace_periods, inet, count_decimal)
    if filename:
        df = _with_filename(df, b.files)
    return df


def typed_frame(raw: DataFrame, hdr: ZeekHeader, replace_periods: bool,
                inet: bool = False, count_decimal: bool = False) -> DataFrame:
    """The typed cast pipeline for one header over its raw columns
    (:func:`raw_schema`), with the header's column names applied last.
    Shared by the batch reader and the Structured Streaming reader
    (streaming/zeek_stream.py)."""
    fields = [_cast_field(f"r{i}", zt, hdr, inet, count_decimal)
              for i, zt in enumerate(hdr.types)]
    return select_stages(_positional(raw, hdr), _two_stages(fields)).toDF(
        *hdr.column_names(replace_periods))


def _read_union(
    spark: SparkSession,
    b: ZeekBind,
    replace_periods: bool,
    inet: bool,
    count_decimal: bool = False,
) -> DataFrame:
    """union_by_name mode: fields unioned by name in first-encountered
    order across the sorted file list; per-file absent fields -> NULL
    (ref src/zeek_scanner.cpp:506-589,789-794).  Files are grouped by
    identical schema so the plan is one CSV scan per distinct schema,
    narrow-unioned — no shuffle, no per-file DataFrames."""
    union_fields, union_types = b.fields, b.types
    out_names = (
        [f.replace(".", "_") for f in union_fields]
        if replace_periods
        else list(union_fields)
    )

    def _sp_type(t):
        if count_decimal and t.strip() == "count":
            return T.DecimalType(20, 0)
        return zeek_type_to_spark(t)

    null_of = {f: f"cast(NULL as {_sql_type(_sp_type(t))})"
               for f, t in zip(union_fields, union_types)}

    groups: dict[tuple, list[ZeekHeader]] = {}
    for h in b.headers:
        groups.setdefault(h.schema_key(), []).append(h)

    parts: list[DataFrame] = []
    for hdrs in groups.values():
        g = hdrs[0]
        raw = _read_group(spark, [h.source_file for h in hdrs], g, replace_periods)
        have = {f: (f"r{i}", t) for i, (f, t) in enumerate(zip(g.fields, g.types))}
        fields = [
            _cast_field(*have[f], g, inet, count_decimal) if f in have
            else (null_of[f], lambda p: p)
            for f in union_fields
        ]
        parts.append(select_stages(_positional(raw, g), _two_stages(fields)))
    # every part has the union's columns in the same positional order
    return functools.reduce(lambda x, y: x.unionByName(y), parts).toDF(*out_names)
