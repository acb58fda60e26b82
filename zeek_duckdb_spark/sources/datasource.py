"""Spark 4 Python Data Source for Zeek logs: ``spark.read.format("zeek")``.

This is SURVEY.md §7.1 design (b) — the Spark analogue of the
reference's extension registration (``LoadInternal`` registering the
table function, src/zeek_extension.cpp:31-36):

    spark.dataSource.register(ZeekDataSource)
    df = (spark.read.format("zeek")
          .option("union_by_name", "true")
          .load("logs/*.log.gz"))

The composed-reader ``read_zeek`` (sources/zeek.py) is the primary
engine — JVM-speed parsing, codegen, pushdown.  This DataSource is the
structural mirror of the reference: one InputPartition per file
(= the reference's per-thread file claiming, src/zeek_scanner.cpp:245-330),
schema resolved at "bind" time on the driver, per-file validation
surfaced at scan time, and Python-side decompression — including
entropy-coded zstd on executors via pyarrow's bundled codec (or the
``zstandard`` module when installed).

Every read decodes one way, with or without a user ``.schema(...)``
and for ``readStream`` too: the columnar Arrow parser
(``ZeekReader._read_arrow``) parses each file under the schema derived
from the headers and hands Spark each RecordBatch under the schema it
asked for — names by position, a cast where a type differs.  The
requested schema is checked once, on the driver, in ``reader()``.

The composed reader and this DataSource share header.py for schema
resolution, so option semantics and error strings are identical by
construction.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql import types as T

from zeek_duckdb_spark.header import (
    ZeekHeader,
    ZeekHeaderError,
    check_union_member,
    glob_zeek_files,
    open_zeek_text,
    parse_header,
    resolve_union_schema,
    same_schema,
    zeek_type_to_spark,
)

__all__ = ["ZeekDataSource", "register_zeek_datasource"]


def _opt_bool(options: dict, key: str, default: bool) -> bool:
    v = options.get(key)
    if v is None:
        return default
    return str(v).strip().lower() in ("true", "1", "yes")


class ZeekFilePartition(InputPartition):
    def __init__(self, hdr: ZeekHeader, field_map: list[int] | None):
        self.path = hdr.source_file
        # the header this file was planned against (bind time in batch
        # reads, planning time in streams); read() re-checks the file
        # against it
        self.hdr = hdr
        # union mode: output column -> field index in this file (-1 = absent),
        # the reference's per-file inverse mapping (src/zeek_scanner.cpp:580-589)
        self.field_map = field_map


class ZeekDataSource(DataSource):
    """read_zeek as a first-class Spark data source (batch)."""

    @classmethod
    def name(cls) -> str:
        return "zeek"

    def _bind(self):
        """Reference 'bind' phase: glob, parse headers, resolve schema."""
        if getattr(self, "_bound", None) is not None:
            return self._bound
        path = self.options.get("path")
        if not path:
            raise ZeekHeaderError("zeek datasource requires a path (load(path))")
        ignore = _opt_bool(self.options, "ignore_file_errors", False)
        union = _opt_bool(self.options, "union_by_name", False)
        files = glob_zeek_files(path)
        headers: list[ZeekHeader] = []
        for f in files:
            try:
                headers.append(parse_header(f))
            except Exception:
                if ignore:
                    continue
                raise
        if not headers:
            raise ZeekHeaderError(f"No valid Zeek log files found in pattern '{path}'")
        if union:
            names, types = resolve_union_schema(headers)
        else:
            first = headers[0]
            kept = [first]
            for h in headers[1:]:
                reason = same_schema(first, h)
                if reason is None:
                    kept.append(h)
                elif not ignore:
                    raise ZeekHeaderError(
                        f"Schema mismatch between '{first.source_file}' and "
                        f"'{h.source_file}': {reason}"
                    )
            headers = kept
            names, types = list(first.fields), list(first.types)
        self._bound = (headers, names, types, union)
        return self._bound

    def streamReader(self, schema: T.StructType) -> "ZeekStreamReader":
        return ZeekStreamReader(self, schema)

    @staticmethod
    def _check_writer_schema(schema: T.StructType) -> None:
        if len(schema.fields) != 1 or not isinstance(
            schema.fields[0].dataType, T.StringType
        ):
            raise ValueError(
                "zeek writer expects one pre-formatted string column — "
                "use zeek_duckdb_spark.write_zeek(df, path, ...) (or "
                "write_zeek_stream) for the typed API"
            )

    def writer(self, schema: T.StructType, overwrite: bool):
        # the write half: header + pre-formatted lines per partition
        # (sources/zeek_writer.py; use write_zeek() for the typed API)
        from zeek_duckdb_spark.sources.zeek_writer import ZeekLogWriter

        self._check_writer_schema(schema)
        return ZeekLogWriter(self.options, overwrite)

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        # streaming sink: staged per-task files published atomically at
        # microbatch commit (exactly-once across restarts)
        from zeek_duckdb_spark.sources.zeek_writer import ZeekStreamLogWriter

        self._check_writer_schema(schema)
        return ZeekStreamLogWriter(self.options)

    def schema(self) -> T.StructType:
        headers, names, types, _ = self._bind()
        replace = _opt_bool(self.options, "replace_periods", True)
        out_names = [n.replace(".", "_") for n in names] if replace else names
        fields = [
            T.StructField(n, zeek_type_to_spark(t), True)
            for n, t in zip(out_names, types)
        ]
        if _opt_bool(self.options, "filename", False):
            fields.append(T.StructField("filename", T.StringType(), True))
        return T.StructType(fields)

    def reader(self, schema: T.StructType) -> "ZeekReader":
        cls = ZeekReader
        try:
            from pyspark.sql import SparkSession

            sess = SparkSession.getActiveSession()
            if sess is not None and str(
                sess.conf.get("spark.sql.python.filterPushdown.enabled", "false")
            ).lower() == "true":
                cls = ZeekPushdownReader
        except Exception:
            pass
        return cls(self, schema)


class ZeekStreamReader(DataSourceStreamReader):
    """Streaming twin of ZeekReader: ``spark.readStream.format("zeek")``.

    Offsets are the set of files already planned ({"files": {path: 1}}
    — JSON-primitive, checkpointable); each microbatch plans one
    InputPartition per NEW file (the rotation unit, same task shape as
    the batch scan and the reference's per-thread file claiming), and a
    ZeekReader decodes it.

    Unlike the composed CSV stream (streaming/zeek_stream.py), this
    path KEEPS the batch scan's strict schema guarantee for every file
    rotated in later: headers are parsed at planning time and a
    divergent file fails the microbatch with the reference's error
    wording (or is skipped under ignore_file_errors) — the A22
    re-validation the file-stream CSV source cannot express
    (ref src/zeek_scanner.cpp:270-303).
    """

    def __init__(self, ds: "ZeekDataSource", schema: T.StructType):
        self._reader = ZeekReader(ds, schema)
        self._path = ds.options.get("path")
        headers = self._reader.headers
        self._bound_hdr = headers[0]
        # union mode: each bound field's type and the first file with it
        self._types = dict(zip(self._reader.names, self._reader.types))
        self._origin = {f: h.source_file for h in reversed(headers)
                        for f in h.fields}

    def initialOffset(self) -> dict:
        return {"files": {}}

    def latestOffset(self) -> dict:
        import glob as _g

        seen = dict(getattr(self, "_seen", {}))
        for f in sorted(_g.glob(self._path)):
            seen[f] = 1
        self._seen = seen  # monotone even if files rotate away
        return {"files": seen}

    def partitions(self, start: dict, end: dict):
        new = [f for f in end.get("files", {}) if f not in start.get("files", {})]
        parts = []
        for f in sorted(new):
            try:
                hdr = parse_header(f)
                if self._reader.union:
                    # batch-parity union re-validation for every rotated
                    # file: a shared field whose type changed would
                    # otherwise stream through as silent NULLs via the
                    # stale parse type.  Fields appearing ONLY in later
                    # rotations are dropped (a stream's schema is fixed
                    # at start) — that is a projection, not a misparse.
                    check_union_member(self._bound_hdr, hdr, self._types,
                                       self._origin)
                else:
                    reason = same_schema(self._bound_hdr, hdr)
                    if reason is not None:
                        raise ZeekHeaderError(
                            f"Schema mismatch between "
                            f"'{self._bound_hdr.source_file}' and '{f}': {reason}"
                        )
            except Exception:
                if self._reader.ignore_file_errors:
                    continue
                raise
            # the partition carries the planning-time header, so read()
            # detects a file rewritten between planning and executor read
            parts.append(self._reader._partition(hdr))
        return parts

    def read(self, partition: ZeekFilePartition):
        return self._reader.read(partition)

    def commit(self, end: dict) -> None:
        pass


# filter pushdown gating mirrors the reference's supports_pushdown_type
# (src/zeek_scanner.cpp:114-132): only cheap scalar types; LIST and
# addr/subnet (INET) are declined so Spark re-applies them post-scan.
# time/interval are also declined here for timezone-value safety.
_PUSHABLE_ZEEK_TYPES = ("string", "enum", "count", "int", "port", "double", "bool")
_SUPPORTED_FILTERS = (
    EqualTo, In, IsNull, IsNotNull,
    GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual,
)


class ZeekSchemaError(ZeekHeaderError):
    """A ``.schema(...)`` that the files' derived schema cannot be
    delivered as."""


def _check_requested(derived, requested):
    """Driver-side check that batches parsed under the Arrow schema
    ``derived`` can be handed to Spark as ``requested``: same field
    count (names are taken by position), and an Arrow cast for every
    column whose type differs."""
    import pyarrow as pa

    if len(requested) != len(derived):
        n = min(len(requested), len(derived))
        name = (derived if len(derived) > n else requested).field(n).name
        raise ZeekSchemaError(
            f"requested schema has {len(requested)} fields but the Zeek "
            f"headers give {len(derived)}: column '{name}' has no counterpart"
        )
    for d, r in zip(derived, requested):
        if d.type != r.type:
            try:
                pa.array([], type=d.type).cast(r.type)
            except pa.ArrowException as exc:
                raise ZeekSchemaError(
                    f"requested column '{r.name}' is {r.type} but Zeek field "
                    f"'{d.name}' parses as {d.type}, which Arrow cannot "
                    f"cast: {exc}"
                ) from exc


class ZeekReader(DataSourceReader):
    """Batch scan: one partition per file, parsed columnar under the
    schema derived from the headers, emitted under the schema Spark
    asked for."""

    def __init__(self, ds: "ZeekDataSource", schema: T.StructType):
        from pyspark.sql.pandas.types import to_arrow_schema

        self.headers, self.names, self.types, self.union = ds._bind()
        self.with_filename = _opt_bool(ds.options, "filename", False)
        self.ignore_file_errors = _opt_bool(ds.options, "ignore_file_errors", False)
        self.parse_schema = to_arrow_schema(ds.schema())
        self.out_schema = to_arrow_schema(schema)
        _check_requested(self.parse_schema, self.out_schema)
        self.pushed: list[tuple[int, Filter]] = []

    def _partition(self, hdr: ZeekHeader) -> ZeekFilePartition:
        if not self.union:
            return ZeekFilePartition(hdr, None)
        idx = {f: i for i, f in enumerate(hdr.fields)}
        return ZeekFilePartition(hdr, [idx.get(f, -1) for f in self.names])

    def partitions(self):
        return [self._partition(h) for h in self.headers]

    def read(self, partition: ZeekFilePartition):
        # header re-parse per partition = the reference's scan-time
        # re-validation (src/zeek_scanner.cpp:270-303); a file whose
        # header diverged from the one it was planned against errors (or
        # is skipped under ignore_file_errors), it is never silently
        # mis-mapped (src/zeek_scanner.cpp:296-303)
        try:
            hdr = parse_header(partition.path)
            reason = same_schema(partition.hdr, hdr)
            if reason is not None:
                raise ZeekHeaderError(
                    f"Schema of '{partition.path}' changed between bind "
                    f"and scan: {reason}"
                )
        except Exception:
            if self.ignore_file_errors:
                return
            raise
        yield from self._read_arrow(partition, hdr)

    def _read_arrow(self, partition: ZeekFilePartition, hdr: ZeekHeader):
        """Chunked vectorized scan: the file is read in ~16M-char text
        blocks (C-speed decompress+decode), split into lines and cells
        with pyarrow compute, and converted columnar — no per-row Python
        anywhere.  Chunking bounds memory regardless of file size.  Each
        block becomes one pyarrow RecordBatch, which Spark's DS worker
        passes through verbatim — the reference's batched-append idea
        (src/zeek_scanner.cpp:773-801) applied end-to-end."""
        try:
            with open_zeek_text(partition.path) as fh:
                carry = ""
                while True:
                    block = fh.read(_VEC_CHUNK_CHARS)
                    if not block:
                        break
                    block = carry + block
                    nl = block.rfind("\n")
                    if nl < 0:
                        carry = block
                        continue
                    carry = block[nl + 1 :]
                    batch = self._text_to_batch(block[:nl], hdr, partition)
                    if batch is not None:
                        yield batch
                if carry:  # final line without trailing newline
                    batch = self._text_to_batch(carry, hdr, partition)
                    if batch is not None:
                        yield batch
        except Exception:
            if self.ignore_file_errors:
                return
            raise

    def _text_to_batch(self, text: str, hdr: ZeekHeader,
                       partition: ZeekFilePartition):
        import pyarrow as pa
        import pyarrow.compute as pc

        lines = pc.split_pattern(pa.array([text]), pattern="\n").values
        lines = pc.utf8_rtrim(lines, characters="\r\n")
        keep = pc.and_(
            pc.greater(pc.utf8_length(lines), 0),
            pc.invert(pc.starts_with(lines, pattern="#")),
        )
        lines = lines.filter(keep)
        if len(lines) == 0:
            return None
        cells = pc.split_pattern(lines, pattern=hdr.separator)
        fmap = partition.field_map

        def raw_col(out_i):
            src = fmap[out_i] if fmap is not None else out_i
            if src < 0:
                return pa.nulls(len(cells), pa.string())
            # fixed-size slice pads short rows with NULL — the missing-
            # trailing-column padding rule
            return pc.list_slice(
                cells, src, src + 1, return_fixed_size_list=True
            ).flatten()

        if self.pushed:
            # vectorized pre-parse row skip (ref src/zeek_scanner.cpp:720-771)
            mask = None
            for i, f in self.pushed:
                m = _vec_eval_filter(f, _vec_column(raw_col(i), self.types[i],
                                                    hdr, None))
                mask = m if mask is None else pc.and_(mask, m)
            if not pc.all(mask).as_py():
                cells = cells.filter(mask)
                if len(cells) == 0:
                    return None

        arrays = [
            _vec_column(raw_col(i), self.types[i], hdr,
                        self.parse_schema.field(i).type)
            for i in range(len(self.names))
        ]
        if self.with_filename:
            arrays.append(pa.array([partition.path] * len(cells),
                                   type=pa.string()))
        # the requested schema names the columns by position; a column
        # whose requested type differs from the parsed one is cast
        arrays = [a if a.type == f.type else a.cast(f.type)
                  for a, f in zip(arrays, self.out_schema)]
        return pa.RecordBatch.from_arrays(arrays, schema=self.out_schema)


# Characters per vectorized text block: one emitted RecordBatch per
# block.  Large enough to amortize columnar conversion, small enough
# that a block stays well under executor memory at any file size.
_VEC_CHUNK_CHARS = 1 << 24

_INT_RX = r"^[+-]?[0-9]+$"


def _safe_int64(v):
    """Exact per-value fallback when the arrow string->int64 cast
    overflows: int64 range gate mirrors the composed reader's try_cast
    (overflow -> NULL)."""
    if v is None:
        return None
    try:
        n = int(v)
    except (ValueError, TypeError):
        return None
    return n if -(1 << 63) <= n < (1 << 63) else None


def _vec_scalar(arr, zt: str, hdr: ZeekHeader, pa_type=None,
                nullify_empty: bool = True):
    """Typed parse of a pyarrow string array of scalar Zeek cells
    (SURVEY.md §1.4/§1.5): the unset/empty markers read NULL, and a value
    that does not parse, or is out of its type's range, reads NULL.
    ``nullify_empty`` is True for whole cells and False for list
    elements (where '' is data: empty string / parse-failure NULL).  A
    bare '' cell reads NULL for every type: the composed reader's
    univocity parser nulls zero-length unquoted tokens unconditionally
    (see the _read_group note in sources/zeek.py).  The reference reads
    '' as empty string / empty list (src/zeek_scanner.cpp:338-342), but
    real Zeek output writes the markers, never bare empties."""
    import pyarrow as pa
    import pyarrow.compute as pc

    markers = [hdr.unset_field, hdr.empty_field]
    if nullify_empty:
        markers.append("")
    m = pc.is_in(arr, value_set=pa.array(markers, type=pa.string()))
    sv = pc.if_else(m, pa.scalar(None, pa.string()), arr)

    if zt == "bool":
        # no-NULL-on-bad-input rule (ref src/zeek_scanner.cpp:838-841)
        hit = pc.is_in(sv, value_set=pa.array(["T", "true"], type=pa.string()))
        return pc.if_else(pc.is_null(sv), pa.scalar(None, pa.bool_()), hit)

    if zt in ("count", "int", "port"):
        stripped = pc.utf8_trim_whitespace(sv)  # int() tolerates padding
        valid = pc.fill_null(pc.match_substring_regex(stripped, _INT_RX), False)
        g = pc.if_else(valid, stripped, pa.scalar(None, pa.string()))
        try:
            ints = pc.cast(g, pa.int64())
        except Exception:  # digits beyond int64 -> per-value exact gate
            ints = pa.array([_safe_int64(v) for v in g.to_pylist()],
                            type=pa.int64())
        if zt == "count":
            return pc.if_else(pc.greater_equal(ints, 0), ints,
                              pa.scalar(None, pa.int64()))
        if zt == "port":
            ok = pc.and_kleene(pc.greater_equal(ints, 0),
                               pc.less_equal(ints, 65535))
            gated = pc.if_else(ok, ints, pa.scalar(None, pa.int64()))
            return pc.cast(gated, pa.int32())
        return ints

    if zt in ("double", "time", "interval"):
        import numpy as np
        import pandas as pd

        f = pd.to_numeric(sv.to_pandas(), errors="coerce").to_numpy(
            dtype="float64", na_value=np.nan
        )
        if zt == "double":
            return pa.array(f, type=pa.float64(), mask=np.isnan(f))
        # epoch-seconds * 1e6 truncated to int64 µs (ref src/zeek_scanner.cpp:23-31)
        with np.errstate(invalid="ignore", over="ignore"):
            us = np.trunc(f * 1e6)
        bad = ~np.isfinite(us) | (np.abs(us) >= float(1 << 63))
        us_i = np.where(bad, 0, us).astype("int64")
        base = pa.duration("us") if zt == "interval" else pa.timestamp("us", tz="UTC")
        return pa.array(us_i, type=pa_type or base, mask=bad)

    # string / enum / addr / subnet / unknown -> passthrough text
    return sv


def _vec_column(arr, zt: str, hdr: ZeekHeader, pa_type=None):
    """Typed parse of one column of Zeek cells: ``_vec_scalar``, or for
    vector[...]/set[...] a split on the set separator + element parse —
    the list rebuild uses the split offsets directly, so elements
    convert as one flat array.  A marker or bare '' cell reads NULL."""
    import pyarrow as pa
    import pyarrow.compute as pc

    zt = zt.strip()
    if not (zt.startswith("vector[") or zt.startswith("set[")):
        return _vec_scalar(arr, zt, hdr, pa_type)

    inner = zt[zt.index("[") + 1 : -1] if zt.endswith("]") else "string"
    markers = pa.array([hdr.unset_field, hdr.empty_field, ""], type=pa.string())
    m = pc.is_in(arr, value_set=markers)
    masked = pc.if_else(m, pa.scalar(None, pa.string()), arr)
    la = pc.split_pattern(pc.fill_null(masked, ""), pattern=hdr.set_separator)
    elem_type = pa_type.value_type if pa_type is not None else None
    conv = _vec_scalar(la.values, inner, hdr, elem_type, nullify_empty=False)
    built = pa.ListArray.from_arrays(la.offsets, conv)
    if pa_type is not None:
        built = built.cast(pa_type)  # align nested field name with Spark's
    out_type = pa_type or built.type
    return pc.if_else(pc.is_null(masked), pa.scalar(None, out_type), built)


def _vec_eval_filter(f: Filter, arr):
    """Vectorized pushed-filter evaluation with the reference's NULL rule
    (NULL fails every comparison, src/zeek_scanner.cpp:202-220).
    Returns a null-free pyarrow boolean array."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(f, IsNull):
        return pc.is_null(arr)
    if isinstance(f, IsNotNull):
        return pc.is_valid(arr)
    if isinstance(f, EqualTo):
        m = pc.equal(arr, f.value)
    elif isinstance(f, In):
        m = pc.is_in(arr, value_set=pa.array(list(f.value), type=arr.type))
    elif isinstance(f, GreaterThan):
        m = pc.greater(arr, f.value)
    elif isinstance(f, GreaterThanOrEqual):
        m = pc.greater_equal(arr, f.value)
    elif isinstance(f, LessThan):
        m = pc.less(arr, f.value)
    elif isinstance(f, LessThanOrEqual):
        m = pc.less_equal(arr, f.value)
    else:  # unknown -> pass through, Spark re-filters (ref :239-242)
        return pa.array([True] * len(arr), type=pa.bool_())
    return pc.fill_null(m, False)


class ZeekPushdownReader(ZeekReader):
    """ZeekReader + Spark 4.1 Python filter pushdown.  Kept as a
    subclass because Spark refuses a reader that *implements*
    pushFilters when spark.sql.python.filterPushdown.enabled is false —
    the plain ZeekReader serves that case."""

    def pushFilters(self, filters):
        """Accept simple comparison filters on pushable scalar columns;
        everything else is returned for Spark to apply post-scan
        (the reference's own fallback contract,
        src/zeek_scanner.cpp:239-242)."""
        names = self.out_schema.names
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            i = names.index(col) if col in names else -1
            # a column is pushable only while the requested schema keeps
            # the type it parses as, so the filter compares like values
            if (
                isinstance(f, _SUPPORTED_FILTERS)
                and 0 <= i < len(self.types)
                and self.types[i] in _PUSHABLE_ZEEK_TYPES
                and self.parse_schema.field(i).type == self.out_schema.field(i).type
            ):
                self.pushed.append((i, f))
            else:
                yield f


def register_zeek_datasource(spark) -> None:
    # enable Python-DS filter pushdown for this session (runtime conf);
    # reader() still falls back to the no-pushdown class if a foreign
    # session has it disabled
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
    spark.dataSource.register(ZeekDataSource)


class WetDataSource(DataSource):
    """Write half of the WET export (``warc.write_wet`` is the typed
    API): (url, warc_date, text) string rows -> one member-per-record
    ``part-NNNNN.warc.gz`` WET shard per partition, same atomic
    tmp+rename discipline as the zeek writer."""

    @classmethod
    def name(cls) -> str:
        return "wet"

    def writer(self, schema: T.StructType, overwrite: bool):
        want = ["url", "warc_date", "text"]
        names = [f.name for f in schema.fields]
        if names != want or any(
            not isinstance(f.dataType, T.StringType) for f in schema.fields
        ):
            raise ValueError(
                "wet writer expects exactly (url string, warc_date "
                "string, text string) — use zeek_duckdb_spark.sources."
                "warc.write_wet(df, path, ...) for the typed API"
            )
        return WetShardWriter(self.options, overwrite)


class StagedShardMessage(WriterCommitMessage):
    """Staged-file handoff from a batch write task to the driver
    commit: (tmp path or None for an empty partition, final path)."""

    def __init__(self, tmp: "str | None", final: "str | None"):
        self.tmp = tmp
        self.final = final


def _publish_staged(messages) -> None:
    """Driver-side batch commit: rename every staged tmp to its final
    name.  Until this runs, NO final ``part-*`` file exists — a job
    that dies after some tasks succeeded leaves only dot-tmps (reaped
    by the next writer), so readers never see a partial export.  Same
    shared-filesystem scope as ``ZeekStreamLogWriter.commit`` (the
    driver renames what executors staged: local mode, NFS/Lustre —
    the sinks' stated scope)."""
    import os

    for m in messages:
        if m is not None and m.tmp is not None:
            os.replace(m.tmp, m.final)


def _discard_staged(messages) -> None:
    import os

    for m in messages:
        if m is not None and m.tmp is not None:
            try:
                os.remove(m.tmp)
            except OSError:
                pass  # task already cleaned up / never created it


# a dot-tmp untouched this long is garbage from a SIGKILLed run whose
# abort never ran (r14 review: an unconditional reap failed a
# concurrent append job at its driver commit).  The window must cover
# the FULL finished-staging-to-driver-commit gap of a concurrent job —
# a completed task's tmp mtime goes stale while stragglers run — so it
# is a day, not an hour; jobs with >24h task skew on one sink
# directory are out of this heuristic's scope (stated).
_STALE_TMP_SECONDS = 24 * 3600


def _reap_stale_tmps(path: str) -> None:
    """Remove ``.part-*...tmp-*`` files older than
    ``_STALE_TMP_SECONDS`` — shared by the zeek and WET batch sinks'
    constructors."""
    import os
    import time

    cutoff = time.time() - _STALE_TMP_SECONDS
    for f in os.listdir(path):
        if f.startswith(".part-") and ".tmp-" in f:
            full = os.path.join(path, f)
            try:
                if os.path.getmtime(full) < cutoff:
                    os.remove(full)
            except OSError:
                pass  # raced with another cleanup: already gone


class _RecordShardWriter(DataSourceWriter):
    """Shared per-partition member-per-record ``.warc.gz`` shard sink
    (WET conversion records, WAT metadata records).  All-or-nothing:
    tasks stage dot-prefixed tmps and the driver publishes them at
    commit() — a job that fails mid-write leaves no visible shard.
    Subclasses state ``_WHO`` (error prefix), ``_KIND`` (shard noun)
    and ``_record_bytes(row) -> bytes | None``."""

    _WHO = "write"
    _KIND = "shards"

    def _suffix(self) -> str:
        return ".warc.gz"

    def __init__(self, options: dict, overwrite: bool):
        import os

        self._options = options
        self._path = options.get("path")
        if not self._path:
            raise ValueError(f"{self._WHO}: no output path")
        os.makedirs(self._path, exist_ok=True)
        # reap STALE dot-tmps (a SIGKILLed task's except handler never
        # ran; without this they accumulate forever since the part-*
        # scans don't see them) — age-gated so a concurrent in-flight
        # job's staged files survive
        _reap_stale_tmps(self._path)
        if overwrite:
            for f in os.listdir(self._path):
                if f.startswith("part-"):
                    os.remove(os.path.join(self._path, f))
        elif any(f.startswith("part-") for f in os.listdir(self._path)):
            raise ValueError(
                f"{self._WHO}: '{self._path}' already contains "
                f"{self._KIND} (mode='error'); use mode='overwrite'"
            )

    @staticmethod
    def _record_bytes(row):
        raise NotImplementedError

    def write(self, iterator):
        import os

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        attempt = ctx.taskAttemptId() if ctx is not None else 0
        final = os.path.join(
            self._path, f"part-{pid:05d}{self._suffix()}"
        )
        # dot-prefixed tmp: invisible to Spark directory listings and
        # to the writer's own part-* overwrite/error scans, so a
        # mid-write task kill can never poison a later read_warc over
        # the directory or block mode='error'; it stays a tmp through
        # write() and only commit() renames it (all-or-nothing)
        tmp = os.path.join(
            self._path, f".part-{pid:05d}{self._suffix()}.tmp-{attempt}"
        )
        # STREAM record-by-record (each row -> one gzip member appended
        # immediately): a multi-GiB text partition never materializes
        # in memory, matching ZeekLogWriter's per-row discipline; the
        # file opens lazily so an empty partition leaves no shard
        fh = None
        try:
            for row in iterator:
                member = self._record_bytes(row)
                if member is None:
                    continue
                if fh is None:
                    fh = open(tmp, "wb")
                fh.write(member)
        except BaseException:
            if fh is not None:
                fh.close()
                fh = None
                try:
                    os.remove(tmp)
                except OSError:
                    pass
            raise
        finally:
            if fh is not None:
                fh.close()
        if fh is None:
            return StagedShardMessage(None, None)
        return StagedShardMessage(tmp, final)

    def commit(self, messages):
        _publish_staged(messages)

    def abort(self, messages):
        _discard_staged(messages)


class WetShardWriter(_RecordShardWriter):
    """WET conversion-record sink (see WetDataSource): each (url,
    warc_date, text) row becomes one gzip member, streamed row-by-row
    (a multi-GiB text partition never materializes in memory, matching
    ZeekLogWriter's per-row discipline)."""

    _WHO = "write_wet"
    _KIND = "WET shards"

    @staticmethod
    def _record_bytes(row):
        from zeek_duckdb_spark.sources.warc import wet_record_bytes

        return wet_record_bytes(row[0], row[1], row[2])


class WatDataSource(DataSource):
    """Write half of the WAT export (``warc.write_wat`` is the typed
    API): (url, warc_date, refers_to, wat) string rows -> one
    member-per-record ``part-NNNNN.warc.gz`` shard of WARC
    ``metadata`` records, same staged all-or-nothing sink as WET."""

    @classmethod
    def name(cls) -> str:
        return "wat"

    def writer(self, schema: T.StructType, overwrite: bool):
        want = ["url", "warc_date", "refers_to", "wat"]
        names = [f.name for f in schema.fields]
        if names != want or any(
            not isinstance(f.dataType, T.StringType) for f in schema.fields
        ):
            raise ValueError(
                "wat writer expects exactly (url string, warc_date "
                "string, refers_to string, wat string) — use "
                "zeek_duckdb_spark.sources.warc.write_wat(df, path, "
                "...) for the typed API"
            )
        return WatShardWriter(self.options, overwrite)


class WatShardWriter(_RecordShardWriter):
    """WAT metadata-record sink (see WatDataSource)."""

    _WHO = "write_wat"
    _KIND = "WAT shards"

    @staticmethod
    def _record_bytes(row):
        from zeek_duckdb_spark.sources.warc import wat_record_bytes

        return wat_record_bytes(row[0], row[1], row[2], row[3])


_WARCOUT_COLS = (
    "url", "warc_date", "record_id", "warc_type", "http_status",
    "content_type", "content_encoding", "body", "warc_headers",
    "http_headers",
)


class WarcOutDataSource(DataSource):
    """Write half of the general WARC export (``warc.write_warc`` is
    the typed API): reader-schema rows -> one member/frame-per-record
    WARC shard per partition (``compress`` option: gz / zst — the IIPC
    seekable layout / false — plain), same staged all-or-nothing sink
    as WET/WAT."""

    @classmethod
    def name(cls) -> str:
        return "warcout"

    def writer(self, schema: T.StructType, overwrite: bool):
        names = tuple(f.name for f in schema.fields)
        if names != _WARCOUT_COLS:
            raise ValueError(
                "warcout writer expects exactly the columns "
                f"{list(_WARCOUT_COLS)} — use zeek_duckdb_spark."
                "sources.warc.write_warc(df, path, ...) for the typed "
                "API"
            )
        return WarcOutShardWriter(self.options, overwrite)


class WarcOutShardWriter(_RecordShardWriter):
    """General WARC record sink (see WarcOutDataSource)."""

    _WHO = "write_warc"
    _KIND = "WARC shards"

    def _compress(self):
        c = self._options.get("compress", "gz")
        return False if c == "false" else c

    def _suffix(self) -> str:
        c = self._compress()
        return {"gz": ".warc.gz", "zst": ".warc.zst"}.get(c, ".warc")

    def _record_bytes(self, row):
        from zeek_duckdb_spark.sources.warc import warc_record_bytes_out

        return warc_record_bytes_out(*row, compress=self._compress())


def register_wet_datasource(spark) -> None:
    spark.dataSource.register(WetDataSource)


def register_wat_datasource(spark) -> None:
    spark.dataSource.register(WatDataSource)


def register_warcout_datasource(spark) -> None:
    spark.dataSource.register(WarcOutDataSource)
