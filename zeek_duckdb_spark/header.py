"""Zeek log header parsing and schema resolution (pure Python, no Spark).

Re-implements, from observed behavior, the reference's header layer:
- separator un-escaping   (ref src/zeek_reader.cpp:7-31)
- 8-directive header parse (ref src/zeek_reader.cpp:50-118)
- Zeek -> engine type map  (ref src/zeek_reader.cpp:120-163)
- strict schema equality   (ref src/zeek_reader.cpp:165-205)

This module runs driver-side only: headers are a few KB per file and the
reference also resolves all schema work eagerly at bind time, so reading
them on the driver does not limit 100 TB scale (the data lines are read
distributed, by executors).
"""

from __future__ import annotations

import gzip
import io
import os
from dataclasses import dataclass, field

from pyspark.sql import types as T

GZIP_MAGIC = b"\x1f\x8b"
ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"

DEFAULT_SEPARATOR = "\t"
DEFAULT_SET_SEPARATOR = ","
DEFAULT_EMPTY_FIELD = "(empty)"
DEFAULT_UNSET_FIELD = "-"


class ZeekHeaderError(ValueError):
    """Malformed or missing Zeek header."""


@dataclass
class ZeekHeader:
    """Parsed ``#``-directives of one Zeek log file.

    Mirrors the reference's ZeekHeader (src/include/zeek_reader.hpp:15-34):
    ``path``/``open`` are parsed but never participate in schema
    equivalence.
    """

    separator: str = DEFAULT_SEPARATOR
    set_separator: str = DEFAULT_SET_SEPARATOR
    empty_field: str = DEFAULT_EMPTY_FIELD
    unset_field: str = DEFAULT_UNSET_FIELD
    log_path: str = ""
    open_time: str = ""
    fields: list[str] = field(default_factory=list)
    types: list[str] = field(default_factory=list)
    source_file: str = ""

    def column_names(self, replace_periods: bool = True) -> list[str]:
        if replace_periods:
            return [f.replace(".", "_") for f in self.fields]
        return list(self.fields)

    def schema_key(self) -> tuple:
        """Hashable identity used to group files with equivalent schemas."""
        return (
            self.separator,
            self.set_separator,
            self.empty_field,
            self.unset_field,
            tuple(self.fields),
            tuple(self.types),
        )


def unescape_separator(value: str) -> str:
    r"""Un-escape a ``#separator`` directive value and keep its first char.

    Supports ``\xHH`` hex escapes plus ``\t`` and ``\n``, like the
    reference (src/zeek_reader.cpp:7-31); only the first character of the
    result is used (src/zeek_reader.cpp:70,75).
    """
    out = []
    i = 0
    while i < len(value):
        c = value[i]
        if c == "\\" and i + 1 < len(value):
            nxt = value[i + 1]
            if nxt == "x" and i + 3 < len(value):
                try:
                    out.append(chr(int(value[i + 2 : i + 4], 16)))
                    i += 4
                    continue
                except ValueError:
                    pass
            if nxt == "t":
                out.append("\t")
                i += 2
                continue
            if nxt == "n":
                out.append("\n")
                i += 2
                continue
        out.append(c)
        i += 1
    s = "".join(out)
    return s[0] if s else DEFAULT_SEPARATOR


def open_zeek_text(path: str) -> io.TextIOBase:
    """Open a Zeek log as text, auto-detecting gzip/zstd by magic bytes
    (the reference uses FileCompressionType::AUTO_DETECT,
    src/zeek_scanner.cpp:262).  Raises on corrupt streams lazily — the
    first read of a fake-gzip file raises, matching the reference's
    scan-time error surface."""
    with open(path, "rb") as probe:
        magic = probe.read(4)
    if magic[:2] == GZIP_MAGIC:
        return io.TextIOWrapper(gzip.open(path, "rb"), encoding="utf-8", newline="")
    if magic == ZSTD_MAGIC:
        try:
            import zstandard  # type: ignore
        except ImportError:
            return _open_zstd_fallback(path)
        fh = zstandard.ZstdDecompressor().stream_reader(open(path, "rb"))
        return io.TextIOWrapper(fh, encoding="utf-8", newline="")
    if path.endswith(".gz"):
        # A .gz name without a gzip stream is an error, like the
        # reference's fake_gzip fixture (test/sql/zeek_ignore_file_errors.test).
        raise ZeekHeaderError(f"Input is not a GZIP stream: '{path}'")
    return open(path, "r", encoding="utf-8", newline="")


def _open_zstd_fallback(path: str) -> io.TextIOBase:
    """zstd decode without the ``zstandard`` module, tried in order:

    1. the vendored store-mode codec (sources/zstd_raw.py — raw/RLE
       blocks, pure Python);
    2. for entropy-coded frames, pyarrow's bundled zstd codec
       (``pa.CompressedInputStream``) — importable in Python executor
       workers too, so BOTH scan paths (composed CSV and the Python
       DataSource) read genuine compressed logs with zero extra
       dependencies;
    3. on the driver only, the Spark JVM's bundled zstd-jni via py4j
       (the codec the JVM scan itself uses for the data rows).

    All fallbacks buffer the decoded file in memory (one log file at a
    time, the same unit the reference decodes); install ``zstandard``
    for incremental streaming decode."""
    from zeek_duckdb_spark.sources.zstd_raw import (
        ZstdCompressedBlockError,
        ZstdRawError,
        decompress,
    )

    with open(path, "rb") as fh_in:
        raw = fh_in.read()
    try:
        data = decompress(raw)
    except ZstdCompressedBlockError as exc:
        # a structurally-valid frame the pure-Python codec can't decode
        # (entropy-coded blocks): pyarrow first (works on executors),
        # then the driver JVM; only blame the missing module when
        # neither codec was importable/reachable
        data = _pyarrow_zstd_decompress(raw, path)
        if data is None:
            data = _jvm_zstd_decompress(raw, path)
        if data is None:
            raise ZeekHeaderError(
                f"'{path}' is zstd-compressed and the zstandard "
                f"module is unavailable ({exc})"
            ) from exc
    except ZstdRawError as exc:
        # malformed frame structure — installing zstandard would NOT fix
        # this file; say what is actually wrong
        raise ZeekHeaderError(
            f"corrupt or truncated zstd stream in '{path}': {exc}"
        ) from exc
    return io.TextIOWrapper(io.BytesIO(data), encoding="utf-8", newline="")


def _pyarrow_zstd_decompress(raw: bytes, path: str) -> bytes | None:
    """Entropy zstd decode through pyarrow's bundled codec.  Returns
    None when pyarrow lacks zstd support (so the caller can try the
    JVM); a genuine DECODE failure is a corrupt stream and raises
    ZeekHeaderError saying so — installing zstandard would not fix it."""
    try:
        import pyarrow as pa

        if not pa.Codec.is_available("zstd"):
            return None
        stream = pa.CompressedInputStream(pa.BufferReader(raw), "zstd")
    except Exception:
        # import, codec, or stream construction unavailable — not a
        # data error; the caller falls through to the JVM codec
        return None
    try:
        return bytes(stream.read())
    except Exception as exc:
        raise ZeekHeaderError(
            f"corrupt or truncated zstd stream in '{path}': pyarrow zstd "
            f"decode failed ({exc})"
        ) from exc


def _jvm_zstd_decompress(raw: bytes, path: str) -> bytes | None:
    """Driver-side entropy zstd decode through the active SparkSession's
    JVM (zstd-jni ships with Spark).  Returns None when no JVM gateway
    is reachable (no active session, or running inside a Python
    executor worker); a genuine DECODE failure from the JVM codec is a
    corrupt stream and raises ZeekHeaderError saying so rather than
    being misreported as a missing module."""
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            return None
        jvm = spark._jvm
        bis = jvm.java.io.ByteArrayInputStream(raw)
        zis = jvm.com.github.luben.zstd.ZstdInputStream(bis)
    except Exception:
        return None  # gateway/classpath unavailable, not a data error
    try:
        bos = jvm.java.io.ByteArrayOutputStream()
        zis.transferTo(bos)
        zis.close()
        return bytes(bos.toByteArray())
    except Exception as exc:
        raise ZeekHeaderError(
            f"corrupt or truncated zstd stream in '{path}': JVM zstd "
            f"decode failed ({exc.__class__.__name__})"
        ) from exc


def _translate_stream_errors(fh, path: str):
    """Surface zstd stream-decode failures as ZeekHeaderError.  The
    ``zstandard`` stream reader decodes lazily, so a garbage-after-magic
    file errors on the first READ, not at open — without this the error
    surface depends on whether the module is installed (the module-less
    fallback decodes eagerly at open and already raises ZeekHeaderError).
    gzip errors are deliberately left alone: the reference's
    corrupted-gzip fixtures pin their existing wording."""
    it = iter(fh)
    while True:
        try:
            line = next(it)
        except StopIteration:
            return
        except Exception as exc:  # noqa: BLE001 — filtered just below
            try:
                import zstandard  # type: ignore

                if isinstance(exc, zstandard.ZstdError):
                    raise ZeekHeaderError(
                        f"corrupt or truncated zstd stream in '{path}': {exc}"
                    ) from exc
            except ImportError:
                pass
            raise
        yield line


def parse_header(path: str) -> ZeekHeader:
    """Parse the ``#``-directive header of one file (driver-side).

    Behavior matched to the reference (src/zeek_reader.cpp:50-118):
    directives are read until the first non-``#`` line; ``#fields`` and
    ``#types`` are required and must have equal arity; ``#separator``'s
    value is whitespace-separated (it is written before the separator is
    known), every other directive's values are split on the separator
    itself.
    """
    hdr = ZeekHeader(source_file=path)
    saw_fields = saw_types = False
    with open_zeek_text(path) as fh:
        for raw in _translate_stream_errors(fh, path):
            line = raw.rstrip("\r\n")
            if not line.startswith("#"):
                break
            if line.startswith("#separator"):
                parts = line.split(None, 1)
                if len(parts) == 2:
                    hdr.separator = unescape_separator(parts[1].strip())
                continue
            sep = hdr.separator
            key, _, rest = line.partition(sep)
            if key == "#set_separator":
                hdr.set_separator = unescape_separator(rest)[0] if rest else DEFAULT_SET_SEPARATOR
            elif key == "#empty_field":
                hdr.empty_field = rest
            elif key == "#unset_field":
                hdr.unset_field = rest
            elif key == "#path":
                hdr.log_path = rest
            elif key == "#open":
                hdr.open_time = rest
            elif key == "#fields":
                hdr.fields = rest.split(sep) if rest else []
                saw_fields = True
            elif key == "#types":
                hdr.types = rest.split(sep) if rest else []
                saw_types = True
            # other directives (e.g. #close) ignored
    # A valueless directive ("#fields" with nothing after it) is the same
    # error as a missing one — the reference checks the parsed lists, not
    # directive presence (src/zeek_reader.cpp:107-115, fields.empty()).
    if not saw_fields or not hdr.fields:
        raise ZeekHeaderError(f"'{path}' is missing the #fields directive")
    if not saw_types or not hdr.types:
        raise ZeekHeaderError(f"'{path}' is missing the #types directive")
    if len(hdr.fields) != len(hdr.types):
        raise ZeekHeaderError(
            f"'{path}' has mismatched #fields ({len(hdr.fields)}) and "
            f"#types ({len(hdr.types)}) counts"
        )
    return hdr


# Zeek type -> Spark type (SURVEY.md §1.4 mapping table; ref
# src/zeek_reader.cpp:129-163).  addr/subnet stay StringType in both
# inet modes — under inet=true the values are canonicalized at scan and
# the INET function family operates on them (functions/inet.py).
_SCALAR_TYPES: dict[str, T.DataType] = {
    "time": T.TimestampType(),
    "interval": T.DayTimeIntervalType(T.DayTimeIntervalType.DAY, T.DayTimeIntervalType.SECOND),
    "string": T.StringType(),
    "enum": T.StringType(),
    "addr": T.StringType(),
    "subnet": T.StringType(),
    "port": T.IntegerType(),
    "count": T.LongType(),
    "int": T.LongType(),
    "bool": T.BooleanType(),
    "double": T.DoubleType(),
}


def zeek_type_to_spark(zeek_type: str) -> T.DataType:
    """Map a Zeek type name to a Spark type; recursive for
    ``vector[...]``/``set[...]``; unknown names fall back to string
    (ref src/zeek_reader.cpp:120-163)."""
    zt = zeek_type.strip()
    if zt.startswith("vector[") or zt.startswith("set["):
        lbr = zt.index("[")
        if not zt.endswith("]"):
            return T.StringType()  # malformed bracket -> string fallback
        inner = zt[lbr + 1 : -1]
        return T.ArrayType(zeek_type_to_spark(inner), containsNull=True)
    return _SCALAR_TYPES.get(zt, T.StringType())


def same_schema(expected: ZeekHeader, actual: ZeekHeader) -> str | None:
    """Strict schema equivalence; returns None if equivalent, else a
    human-readable reason whose wording contains the reference's tested
    substrings ('different field count', 'field N differs',
    "type for field 'x' differs"; ref src/zeek_reader.cpp:165-205,
    test/sql/zeek.test:226-242)."""
    if expected.separator != actual.separator:
        return "separator differs"
    if expected.set_separator != actual.set_separator:
        return "set_separator differs"
    if expected.unset_field != actual.unset_field:
        return "unset_field marker differs"
    if expected.empty_field != actual.empty_field:
        return "empty_field marker differs"
    if len(expected.fields) != len(actual.fields):
        return (
            f"different field count ({len(expected.fields)} vs {len(actual.fields)})"
        )
    for i, (ef, af) in enumerate(zip(expected.fields, actual.fields)):
        if ef != af:
            return f"field {i} differs ('{ef}' vs '{af}')"
    for ef, (et, at) in zip(expected.fields, zip(expected.types, actual.types)):
        if et != at:
            return f"type for field '{ef}' differs ('{et}' vs '{at}')"
    return None


def check_union_member(
    first: ZeekHeader, h: ZeekHeader, types: dict[str, str], origin: dict[str, str]
) -> None:
    """Raise unless ``h`` can join a union_by_name schema bound at
    ``first`` whose fields so far have the Zeek ``types`` and were first
    seen in the files ``origin`` (both keyed by field name).  The
    separators and null markers must equal ``first``'s
    (src/zeek_scanner.cpp:535-545) and a shared field must keep its type
    ("field 'x' has type ...", test/sql/zeek.test:297-301)."""
    if (
        h.separator != first.separator
        or h.set_separator != first.set_separator
        or h.unset_field != first.unset_field
        or h.empty_field != first.empty_field
    ):
        raise ZeekHeaderError(
            f"union_by_name requires identical separators and null markers: "
            f"'{first.source_file}' vs '{h.source_file}'"
        )
    for f, t in zip(h.fields, h.types):
        if types.get(f, t) != t:
            raise ZeekHeaderError(
                f"union_by_name type conflict: field '{f}' has type "
                f"'{types[f]}' in '{origin[f]}' but '{t}' in '{h.source_file}'"
            )


def resolve_union_schema(headers: list[ZeekHeader]) -> tuple[list[str], list[str]]:
    """Union-by-name schema resolution (ref src/zeek_scanner.cpp:506-589).

    Returns (field_names, zeek_types) in first-encountered order; each
    file is checked by ``check_union_member`` against the ones before it.
    """
    if not headers:
        raise ZeekHeaderError("No valid Zeek log files found in pattern")
    types: dict[str, str] = {}
    origin: dict[str, str] = {}
    for h in headers:
        check_union_member(headers[0], h, types, origin)
        for f, t in zip(h.fields, h.types):
            types.setdefault(f, t)
            origin.setdefault(f, h.source_file)
    return list(types), list(types.values())


def glob_zeek_files(pattern: str) -> list[str]:
    """Expand a path or glob to a deterministic sorted file list; error on
    zero matches (ref src/zeek_scanner.cpp:444-453)."""
    import glob as _glob

    if _glob.has_magic(pattern):
        matches = sorted(_glob.glob(pattern))
    else:
        matches = [pattern] if os.path.exists(pattern) else []
    if not matches:
        raise FileNotFoundError(f"No files found matching pattern '{pattern}'")
    return matches
