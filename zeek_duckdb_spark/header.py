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
from typing import NamedTuple

from pyspark.sql import types as T

GZIP_MAGIC = b"\x1f\x8b"
ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"

DEFAULT_SEPARATOR = "\t"
DEFAULT_SET_SEPARATOR = ","
DEFAULT_EMPTY_FIELD = "(empty)"
DEFAULT_UNSET_FIELD = "-"


def is_zstd(buf: bytes) -> bool:
    """Standard zstd frame magic OR a leading SKIPPABLE frame (magic
    0x184D2A50-5F, RFC 8878 §3.1.2) — the IIPC ``.warc.zst`` convention
    leads with its shared dictionary in one, so keying on the standard
    magic alone would misroute those files to the plain-text path."""
    if buf[:4] == ZSTD_MAGIC:
        return True
    return len(buf) >= 4 and 0x50 <= buf[0] <= 0x5F and buf[1:4] == b"\x2a\x4d\x18"


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
    src/zeek_scanner.cpp:262).  Both codecs decode as a stream and raise
    on corrupt input lazily — the first read of a fake-gzip file raises,
    matching the reference's scan-time error surface."""
    with open(path, "rb") as probe:
        magic = probe.read(4)
    if magic[:2] == GZIP_MAGIC:
        return io.TextIOWrapper(gzip.open(path, "rb"), encoding="utf-8", newline="")
    if is_zstd(magic):
        return io.TextIOWrapper(
            io.BufferedReader(_ZstdReader(path)), encoding="utf-8", newline=""
        )
    if path.endswith(".gz"):
        # A .gz name without a gzip stream is an error, like the
        # reference's fake_gzip fixture (test/sql/zeek_ignore_file_errors.test).
        raise ZeekHeaderError(f"Input is not a GZIP stream: '{path}'")
    return open(path, "r", encoding="utf-8", newline="")


class _ZstdReader(io.RawIOBase):
    """A ``.zst`` file decoded as a stream by pyarrow's bundled zstd codec
    (raw, RLE and entropy blocks; concatenated and skippable frames).  A
    decode failure raises ZeekHeaderError when the bad bytes are reached:
    from the header parse when they sit in the header, at scan time when
    they sit in the tail.  gzip errors keep their own wording — the
    reference's corrupted-gzip fixtures pin it."""

    def __init__(self, path: str):
        import pyarrow as pa

        self._path = path
        self._src = pa.CompressedInputStream(pa.OSFile(path), "zstd")

    def readable(self) -> bool:
        return True

    def readinto(self, b) -> int:
        try:
            return self._src.readinto(b)
        except OSError as exc:
            raise ZeekHeaderError(
                f"corrupt or truncated zstd stream in '{self._path}': {exc}"
            ) from exc

    def close(self) -> None:
        self._src.close()
        super().close()


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
        for raw in fh:
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


class ZeekBind(NamedTuple):
    """The bind phase's result: every glob match, the headers of the
    files the scan reads, and the resolved schema's Zeek field names and
    types."""

    files: list[str]
    headers: list[ZeekHeader]
    fields: list[str]
    types: list[str]


def bind_zeek(
    pattern: str,
    *,
    union_by_name: bool = False,
    ignore_file_errors: bool = False,
    glob=glob_zeek_files,
    parse=parse_header,
) -> ZeekBind:
    """Reference 'bind' phase shared by ``read_zeek`` and
    ``format("zeek")`` (ref src/zeek_scanner.cpp:439-609): glob, parse
    every header (a file that fails is skipped under
    ``ignore_file_errors``; none left raises), then resolve the schema.
    ``union_by_name`` unions every header by name; otherwise the first
    header is the schema and every other file must match it exactly —
    a mismatch names both files and the first difference
    (ref src/zeek_scanner.cpp:296-303), or drops the file under
    ``ignore_file_errors``.  ``glob`` and ``parse`` default to this
    module's functions; ``read_zeek`` passes the names it imported, the
    ones the benchmark ledger wraps."""
    files = glob(pattern)
    headers: list[ZeekHeader] = []
    for f in files:
        try:
            headers.append(parse(f))
        except Exception:
            if ignore_file_errors:
                continue
            raise
    if not headers:
        raise ZeekHeaderError(f"No valid Zeek log files found in pattern '{pattern}'")
    if union_by_name:
        return ZeekBind(files, headers, *resolve_union_schema(headers))
    first = headers[0]
    kept = [first]
    for h in headers[1:]:
        reason = same_schema(first, h)
        if reason is None:
            kept.append(h)
        elif not ignore_file_errors:
            raise ZeekHeaderError(
                f"Schema mismatch between '{first.source_file}' and "
                f"'{h.source_file}': {reason}"
            )
    return ZeekBind(files, kept, list(first.fields), list(first.types))
