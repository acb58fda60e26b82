"""WARC (Web ARChive) reader — the container Common Crawl and most
web crawlers ship, and the missing first hop of the crawl pipeline:
``read_warc`` -> ``htmlops.extract_text_html`` -> ``pipeline.
clean_corpus`` is the complete raw-crawl-to-training-text chain.

Format layout follows the public ISO 28500 / WARC 1.0-1.1
specification: a record is a ``WARC/1.x`` version line, named header
fields, a blank line, ``Content-Length`` payload octets, and a
``\\r\\n\\r\\n`` separator; a ``.warc.gz`` file is a sequence of gzip
MEMBERS (typically one per record — stdlib ``gzip`` reads concatenated
members transparently), and ``.warc.zst`` decodes through pyarrow's
bundled zstd codec.  For ``response`` records the payload is a raw
HTTP/1.x response; the HTTP head is parsed off (status, headers,
chunked transfer-encoding decoded) so ``body`` is the actual entity
bytes.  No third-party code.

Scale shape: ONE task per WARC file.  The reader is a path-based
Python DataSource whose partition reader OPENS the file through
``pyarrow.fs`` (:mod:`.filesystem`: local, ``file:``, ``s3://``,
``gs://``) and streams — file chunks -> incremental gunzip/zstd ->
incremental record parse -> bounded Arrow flushes — so task-resident
memory is ~(largest record + read chunk + flush batch) regardless of
file size and a legal >2 GiB uncompressed WARC ingests.  Everything
downstream (charset decode, HTML extraction, dedup) stays declarative;
zero shuffle.  Parsing is per-record Python (the inherent boundary —
WARC framing has no JVM/SQL form); at higher throughput inject a
native reader through the same composition seam.

The writer half (``encode_warc``) is the FIXTURE side, like
``encode_png``/``encode_avi_mjpeg``: build spec-compliant plain or
member-per-record-gzip WARC bytes so tests plant real crawl files
without fetching anything.
"""

from __future__ import annotations

import gzip
import io

# module-global so pandas_udf/mapInPandas stringized type hints resolve
import pandas as pd  # noqa: F401

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from zeek_duckdb_spark.header import ZSTD_MAGIC as _ZSTD_MAGIC, is_zstd as _is_zstd
from zeek_duckdb_spark.sources.datasource import (
    _opt_bool,
    register_datasource,
    register_once,
)
from zeek_duckdb_spark.sources.filesystem import (
    _filesystem,
    list_paths,
    open_path,
)

__all__ = [
    "parse_warc",
    "encode_warc",
    "read_warc",
    "read_warc_stream",
    "register_warc_datasource",
    "cdx_records",
    "cdx_records_stream",
    "read_warc_selected",
    "extract_warc",
    "resolve_revisits",
    "dedup_to_revisits",
    "write_cdx",
    "read_cdx",
    "compact_cdx",
    "write_wet",
    "write_warc",
    "warc_record_bytes_out",
    "wat_records",
    "write_wat",
    "wat_record_bytes",
    "wet_record_bytes",
    "wet_shard_bytes",
    "body_text_col",
]

_GZIP_MAGIC = b"\x1f\x8b"


_ZSTD_DICT_NOTE = (
    "an IIPC dictionary-bearing .warc.zst needs its shared dictionary "
    "loaded into the decoder — out of this reader's scope; "
    "pre-decompress upstream or inject a prepared reader"
)


def _decompress_container(buf: bytes, who: str) -> bytes:
    """Container decompression by magic: gzip (concatenated members —
    the crawl-standard .warc.gz layout), zstd (.warc.zst through
    pyarrow's bundled codec, the one ``header.open_zeek_text`` uses;
    skippable frames are tolerated, dictionary-COMPRESSED frames error
    naming the IIPC convention), else passthrough (plain .warc)."""
    if buf[:2] == _GZIP_MAGIC:
        import zlib

        try:
            return gzip.GzipFile(fileobj=io.BytesIO(buf)).read()
        except (EOFError, OSError, zlib.error) as exc:
            # keep the ring's single-exception contract: truncated
            # members raise EOFError and corrupt ones BadGzipFile
            # (OSError) from the stdlib — both must surface as the
            # documented ValueError (r14 fuzz find)
            raise ValueError(
                f"{who}: corrupt or truncated gzip container ({exc})"
            ) from None
    if _is_zstd(buf):
        try:
            return _pa_decompress(buf, "zstd")
        except OSError as exc:
            raise ValueError(
                f"{who}: zstd decode failed ({exc}); {_ZSTD_DICT_NOTE}"
            ) from None
    return buf


def _pa_decompress(body: bytes, codec: str) -> bytes:
    """Whole-buffer decode through pyarrow's bundled ``codec`` ('zstd'
    or 'brotli'), streamed so an unstated decoded size is not a
    problem.  Raises on a corrupt or truncated stream."""
    import pyarrow as pa

    return bytes(pa.CompressedInputStream(pa.BufferReader(body), codec).read())


def _decode_chunked(body: bytes, who: str) -> bytes:
    """RFC 9112 chunked transfer-encoding decode (hex size line,
    chunk, CRLF, ... , 0-size terminator; trailers ignored)."""
    out = bytearray()
    pos = 0
    while True:
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            raise ValueError(f"{who}: truncated chunked encoding (no size line)")
        size_tok = body[pos:nl].split(b";", 1)[0].strip()
        try:
            n = int(size_tok, 16)
        except ValueError:
            raise ValueError(
                f"{who}: bad chunk size line {size_tok[:16]!r}"
            ) from None
        pos = nl + 2
        if n == 0:
            return bytes(out)
        if pos + n > len(body):
            raise ValueError(f"{who}: truncated chunk body")
        out += body[pos : pos + n]
        pos += n + 2  # chunk CRLF


def _parse_http_response(payload: bytes, who: str):
    """Raw HTTP/1.x response bytes -> (status int, content_type str or
    None, body bytes, content_encoding_residual str or None).

    The QUARANTINE policy is uniform: any per-record decode failure
    yields a row with the raw still-encoded bytes in ``body`` and a
    residual naming what could not be undone, never an exception —
    one page must not kill a 100 TB ingest, and a raising record would
    wedge ``read_warc_stream`` forever (the checkpoint replays the
    same poison file every restart).  Residuals:

    - ``'chunked'`` — truncated/garbled chunked transfer-encoding
      framing (crawls cap record sizes, see WARC-Truncated — a capped
      mid-chunk response is the same real-world event as a truncated
      gzip entity and gets the same treatment); ``body`` keeps the raw
      still-chunk-framed bytes.
    - the Content-Encoding name (``'br'``/``'zstd'``/...) — the
      encoding is unsupported, or gzip/deflate whose decode FAILED
      (truncated entities).
    - (the caller adds ``'http'`` when this function raises — a record
      *claiming* application/http whose payload isn't parseable HTTP.)

    The only raises left are structural: a payload that does not even
    start with ``HTTP/`` or has no status line — callers gate on the
    WARC record's own Content-Type before calling (non-HTTP captures
    exist: DNS/FTP responses are legal WARC ``response`` records) and
    quarantine on the raise.  Filter ``content_encoding IS NULL``
    downstream for fully-decoded entities."""
    sep = payload.find(b"\r\n\r\n")
    if sep < 0 or not payload.startswith(b"HTTP/"):
        raise ValueError(f"{who}: response record payload is not HTTP")
    head = payload[:sep].decode("latin-1")
    body = payload[sep + 4 :]
    lines = head.split("\r\n")
    parts = lines[0].split(None, 2)
    if len(parts) < 2 or not parts[1].isdigit():
        raise ValueError(f"{who}: bad HTTP status line {lines[0]!r}")
    status = int(parts[1])
    ctype = None
    chunked = False
    cenc = None
    for ln in lines[1:]:
        k, _, v = ln.partition(":")
        k = k.strip().lower()
        if k == "content-type":
            ctype = v.strip()
        elif k == "transfer-encoding" and "chunked" in v.lower():
            chunked = True
        elif k == "content-encoding":
            cenc = v.strip().lower()
    if chunked:
        try:
            body = _decode_chunked(body, who)
        except ValueError:
            # capped/garbled chunk framing: quarantine with the raw
            # still-chunk-framed bytes (Content-Encoding, if any, is
            # beneath the broken framing and unreachable anyway)
            return status, ctype, body, "chunked"
    if cenc in (None, "", "identity"):
        return status, ctype, body, None
    if cenc in ("gzip", "x-gzip"):
        try:
            return status, ctype, gzip.decompress(body), None
        except Exception:
            return status, ctype, body, cenc  # truncated/corrupt: quarantine
    if cenc == "deflate":
        import zlib

        try:
            return status, ctype, zlib.decompress(body), None
        except zlib.error:
            try:
                return status, ctype, zlib.decompress(body, -15), None
            except zlib.error:
                return status, ctype, body, cenc
    if cenc in ("br", "zstd"):
        # real crawls carry br (any fetcher sending Accept-Encoding:
        # br) and RFC 8878 zstd; without this the pages' text is simply
        # absent from the corpus.  A corrupt or truncated stream ->
        # quarantine, same as every other residual.
        try:
            codec = "brotli" if cenc == "br" else "zstd"
            return status, ctype, _pa_decompress(body, codec), None
        except Exception:
            return status, ctype, body, cenc
    return status, ctype, body, cenc  # unknown encoding: quarantine


def parse_warc(payload: bytes, who: str = "parse_warc"):
    """WARC bytes (plain, gzip or zstd) -> generator of record dicts:
    ``{"headers": {lowercased-name: value}, "payload": bytes}``.
    Raises on a bad version line, missing Content-Length, or
    truncation — a lying crawl file fails loudly, not by yielding
    partial records."""
    if payload is None:
        raise ValueError(f"{who}: payload is None")
    buf = _decompress_container(bytes(payload), who)
    for _s, _e, rec in _record_spans(buf, who):
        yield rec


def _record_spans(buf: bytes, who: str):
    """Record loop over a DECOMPRESSED buffer: yields
    ``(start, end, record_dict)`` where [start, end) covers the
    version line through the payload's final byte (the plain-file
    random-access span).  parse_warc wraps this; cdx_records uses the
    spans."""
    pos = 0
    n = len(buf)
    while pos < n:
        # tolerate inter-record CRLF padding
        while pos < n and buf[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            return
        nl = buf.find(b"\r\n", pos)
        if nl < 0 or not buf[pos:nl].startswith(b"WARC/"):
            raise ValueError(
                f"{who}: expected WARC version line at offset {pos}"
            )
        hdr_end = buf.find(b"\r\n\r\n", nl)
        if hdr_end < 0:
            raise ValueError(f"{who}: truncated WARC header block")
        headers: dict = {}
        for ln in buf[nl + 2 : hdr_end].decode("latin-1").split("\r\n"):
            k, _, v = ln.partition(":")
            headers[k.strip().lower()] = v.strip()
        if "content-length" not in headers:
            raise ValueError(f"{who}: WARC record missing Content-Length")
        cl = headers["content-length"]
        # a negative/garbage length could move the cursor BACKWARD and
        # loop forever on a crafted file — reject before slicing
        # (int() not isdigit(): superscript digits pass isdigit but
        # would raise a context-free ValueError here)
        try:
            ln_ = int(cl)
        except ValueError:
            raise ValueError(
                f"{who}: bad WARC Content-Length {cl!r}"
            ) from None
        if ln_ < 0:
            raise ValueError(f"{who}: bad WARC Content-Length {cl!r}")
        body_start = hdr_end + 4
        if body_start + ln_ > n:
            raise ValueError(f"{who}: truncated WARC record payload")
        yield pos, body_start + ln_, {
            "headers": headers,
            "payload": buf[body_start : body_start + ln_],
        }
        pos = body_start + ln_


def encode_warc(records, compress="gz") -> bytes:
    """Fixture encoder: ``records`` is an iterable of (headers dict,
    payload bytes); emits spec-compliant WARC bytes.  ``compress``:
    ``'gz'``/True — one gzip member per record (the crawl-standard
    ``.warc.gz`` layout); ``'zst'`` — one zstd frame per record (the
    IIPC seekable ``.warc.zst`` layout, round-15); ``False`` —
    plain."""
    if compress is True:
        compress = "gz"
    if compress not in ("gz", "zst", False):
        raise ValueError("encode_warc: compress must be 'gz', 'zst' or False")
    out = bytearray()
    for headers, payload in records:
        head = [b"WARC/1.0"]
        for k, v in headers.items():
            head.append(f"{k}: {v}".encode("latin-1"))
        head.append(f"Content-Length: {len(payload)}".encode())
        rec = b"\r\n".join(head) + b"\r\n\r\n" + bytes(payload) + b"\r\n\r\n"
        if compress == "gz":
            # mtime=0: members are byte-stable across runs — the WET/
            # WAT re-export determinism contract flows through here
            out += gzip.compress(rec, mtime=0)
        elif compress == "zst":
            out += _zstd_compress_frame(rec)
        else:
            out += rec
    return bytes(out)


_WARC_SCHEMA = T.StructType(
    [
        T.StructField("warc_file", T.StringType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        # NULL = body is the fully-decoded entity; else the
        # still-encoded Content-Encoding name (quarantined record)
        T.StructField("content_encoding", T.StringType()),
        T.StructField("body", T.BinaryType()),
    ]
)

_WARC_TEXT_SCHEMA = T.StructType(
    _WARC_SCHEMA.fields + [T.StructField("body_text", T.StringType())]
)

# headers=True (round-15) appends both raw header maps — the WAT-style
# metadata surface (arbitrary-header filtering, Server/Set-Cookie/
# Link analytics) the fixed columns cannot carry
_HEADER_FIELDS = [
    T.StructField(
        "warc_headers", T.MapType(T.StringType(), T.StringType())
    ),
    T.StructField(
        "http_headers", T.MapType(T.StringType(), T.StringType())
    ),
]


def _reader_schema(decode_text: bool, headers: bool) -> T.StructType:
    """The reader schema for an option combination — ONE builder so
    the DataSource batch + stream readers and selected reads agree on
    column order."""
    base = _WARC_TEXT_SCHEMA if decode_text else _WARC_SCHEMA
    if not headers:
        return base
    return T.StructType(base.fields + _HEADER_FIELDS)


def _http_header_map(payload: bytes):
    """The parsed HTTP head as a lowercase-keyed map, or None when the
    payload carries no parseable head (non-HTTP captures, quarantined
    'http' residuals).  Duplicate field names combine with ", " (the
    RFC 9110 §5.2 list rule — Set-Cookie loses its multiplicity in a
    map, stated).  The status line is NOT a map entry (it is the
    ``http_status`` column).  Obs-fold continuation lines (RFC 9112
    §5.2: a line starting with SP/HTAB continues the previous field's
    value) append to the previously parsed key instead of being
    mis-parsed as a bogus key (r16, advice fix)."""
    if not payload.startswith(b"HTTP/"):
        return None
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        return None
    lines = payload[:sep].decode("latin-1").split("\r\n")
    out: dict = {}
    last_key = None
    for ln in lines[1:]:
        if ln[:1] in (" ", "\t"):
            cont = ln.strip()
            if last_key is not None and cont:
                out[last_key] = out[last_key] + " " + cont
            continue
        k, _, v = ln.partition(":")
        k = k.strip().lower()
        if not k:
            # malformed empty-key line: also reset last_key so a stray
            # obs-fold continuation after it is DROPPED rather than
            # appended to whatever field happened to parse earlier
            # (r17, advice fix)
            last_key = None
            continue
        v = v.strip()
        out[k] = out[k] + ", " + v if k in out else v
        last_key = k
    return out


def _charset_decode(raw: bytes, content_type) -> str:
    """Charset-aware entity decode — the shared policy of
    :func:`body_text_col` and ``read_warc(decode_text=True)``: use the
    charset named in Content-Type when it is a REAL text encoding
    (``codecs.lookup`` also resolves bytes transforms like hex/base64/
    zlib, which would raise at str-decode time — a lying header must
    not kill the batch), else utf-8; undecodable bytes become U+FFFD
    replacements."""
    import codecs
    import re

    enc = "utf-8"
    if content_type:
        m = re.search(r"charset=[\"']?([\w.:-]+)", content_type, re.I)
        if m:
            try:
                info = codecs.lookup(m.group(1))
                if getattr(info, "_is_text_encoding", True):
                    enc = m.group(1)
            except LookupError:
                pass
    try:
        return raw.decode(enc, errors="replace")
    except (LookupError, ValueError):
        return raw.decode("utf-8", errors="replace")


def _norm_record_types(record_types):
    """ONE canonical record-type filter for every entry point (r14
    review, twice): accepts None or ``'*'`` (everything), a bare
    WARC-Type string, a comma list in a string, or an iterable —
    normalized once, so the typed APIs and the DataSource option
    round-trip (which serializes as a comma list) agree.  Returns None for
    everything, else a tuple of type tokens (empty tuple = match
    nothing)."""
    if record_types is None:
        return None
    items = (
        [record_types]
        if isinstance(record_types, str)
        else list(record_types)
    )
    toks: list = []
    for t in items:
        toks.extend(x.strip() for x in str(t).split(",") if x.strip())
    if "*" in toks:
        return None
    return tuple(toks)


def _parse_record_types_option(rt):
    """Record-type filter -> lowercased wanted set (None = everything)
    — THE one conversion (r14 review, twice): every DataSource option
    string comes through here, so matching semantics cannot drift."""
    norm = _norm_record_types(rt)
    return None if norm is None else {t.lower() for t in norm}


def _record_types_option(record_types) -> str:
    """Serialization twin of :func:`_parse_record_types_option`:
    canonical filter -> the DataSource option string (``'*'`` =
    everything) — one copy for the warc batch, warc stream, and cdx
    loads (r14 review: three inline joins were the same drift class
    the parse helper closed)."""
    norm = _norm_record_types(record_types)
    return "*" if norm is None else ",".join(norm)


def _fs_seams(opener, lister, path: str, who: str):
    """Normalize the filesystem seams (round-15).  Without them the
    path must resolve through ``pyarrow.fs`` — checked HERE, on the
    driver, so an unservable scheme (``hdfs://`` without libhdfs,
    ``s3a://``) fails naming itself before any job runs.  An opener
    with no lister on a literal (metacharacter-free) path implies the
    single-file listing; a glob needs a real lister.  Returns
    (opener, lister)."""
    if opener is None and lister is None:
        try:
            _filesystem(path)
        except ValueError as exc:
            raise ValueError(f"{who}: {exc}") from None
        return None, None
    if opener is None:
        raise ValueError(
            f"{who}: lister= without opener= — executors need "
            "opener(path) to read the listed files"
        )
    if lister is None:
        if any(c in path for c in "*?["):
            raise ValueError(
                f"{who}: opener= on a glob path needs lister= too — "
                "only a literal file path implies its own listing"
            )
        lister = _literal_lister
    return opener, lister


def _literal_lister(path: str) -> list:
    """The implied lister for a literal remote file path (module-level
    so it pickles by reference, not closure)."""
    return [path]


def read_warc(
    spark: SparkSession,
    path: str,
    record_types: "tuple | str | None" = ("response",),
    decode_text: bool = False,
    opener=None,
    lister=None,
    headers: bool = False,
) -> DataFrame:
    """Read WARC files (plain, .warc.gz or .warc.zst) into one row per record:
    (warc_file, record_id, warc_type, target_uri, warc_date string,
    http_status, content_type, content_encoding, body binary
    [, body_text string]).

    ``record_types`` filters on WARC-Type (default: the ``response``
    records that carry page content; pass ``("response", "request",
    "metadata", ...)``, a bare string — one type or a comma list —
    or ``None``/``"*"`` for everything).  For response
    records the HTTP head is parsed off — ``http_status`` /
    ``content_type`` come from it and ``body`` is the entity bytes
    (chunked transfer-encoding decoded; gzip/deflate Content-Encoding
    decompressed).  ``content_encoding`` is the QUARANTINE column:
    NULL means ``body`` is the fully-decoded entity; a non-NULL value
    means ``body`` kept the raw still-encoded bytes, because one
    poison page must not kill the job or wedge the checkpointed
    stream.  Residual values: a Content-Encoding name (br/zstd, or
    gzip/deflate whose decode failed — truncated entities are real in
    crawls), ``'chunked'`` (capped/garbled chunked framing, the same
    WARC-Truncated event), or ``'http'`` (a record claiming
    application/http whose payload isn't parseable HTTP).  Non-HTTP
    ``response`` captures (DNS/FTP — legal per ISO 28500, gated on the
    record's Content-Type) and other record types pass through raw
    with content_type from the WARC header and NULL residual.

    ``decode_text=True`` adds ``body_text``: the charset-aware decode
    (Content-Type charset, utf-8-replace policy — see
    :func:`body_text_col`) done INSIDE the expansion map, where body
    and content_type are already Python objects, so the hottest column
    crosses Arrow once; quarantined records get NULL.  Feed it to
    ``htmlops.extract_text_html`` for pages.

    The reader is the path-based ``warc`` DataSource: one task per
    file that OPENS the path (:func:`.filesystem.open_path` — local,
    ``file:``, ``s3://``, ``gs://``; ``hdfs://`` where libhdfs loads)
    and streams chunks -> incremental decompress -> incremental record
    parse -> bounded Arrow flushes.  Task memory is ~(largest record +
    read chunk + flush batch) regardless of file size, and there is no
    file-size limit — a >2 GiB uncompressed daily WARC (legal; the
    spec caps nothing) ingests.  Zero shuffle.  ``path`` is a file, a
    directory (its non-hidden files) or a glob
    (:func:`.filesystem.list_paths`).

    ``opener``/``lister`` (round-15): filesystem seams for stores
    ``pyarrow.fs`` cannot resolve — ``opener(path) -> file-like``
    (ranged reads) and ``lister(path) -> file paths`` (listing/glob
    expansion), both pickled to where they run.  The same
    bounded-memory watermark holds through them.

    ``headers=True`` (round-15) appends two ``map<string,string>``
    columns — ``warc_headers`` (every WARC header, lowercase keys, as
    parsed) and ``http_headers`` (the parsed HTTP head; NULL for
    non-HTTP captures and 'http'-residual quarantines; duplicate
    field names combine with ", " per RFC 9110 §5.2) — the WAT-style
    metadata surface for arbitrary-header filtering and analytics
    (Server/Set-Cookie/Link studies) without re-parsing bodies.
    Identical on :func:`read_warc_selected`."""
    opener, lister = _fs_seams(opener, lister, path, "read_warc")
    fmt = _warc_format(spark, opener, lister)
    rt = _record_types_option(record_types)
    return (
        spark.read.format(fmt)
        .option("record_types", rt)
        .option("decode_text", str(decode_text).lower())
        .option("headers", str(headers).lower())
        .load(path)
    )


def _http_gate(h: dict, payload: bytes, who: str):
    """The shared HTTP-or-passthrough decision of the reader and the
    CDX builder (ONE implementation so the r13 quarantine fixes cannot
    drift apart): returns (status, ctype, body, cenc).  Declared
    application/http OR a payload sniffing as ``HTTP/`` parses the
    head off; a declared record that won't parse quarantines under
    ``'http'``; an undeclared sniff that won't parse passes through
    clean; non-HTTP captures pass through raw."""
    ctype = h.get("content-type")
    declared = "application/http" in (ctype or "").lower()
    if not (declared or payload[:5] == b"HTTP/"):
        return None, ctype, payload, None
    try:
        return _parse_http_response(payload, who=who)
    except ValueError:
        return None, ctype, payload, ("http" if declared else None)


def _append_record_row(
    rows: dict, fpath, rec: dict, decode_text: bool, who: str,
    headers: bool = False,
) -> int:
    """Assemble ONE reader-schema row from a parsed record (the shared
    body of the ``warc`` DataSource and read_warc_selected — one copy
    of the gate/quarantine/decode policy).  Returns the body length for
    the caller's flush accounting."""
    h = rec["headers"]
    wtype = h.get("warc-type", "")
    if wtype.lower() == "response":
        status, ctype, body, cenc = _http_gate(h, rec["payload"], who=who)
    else:
        status, cenc = None, None
        ctype, body = h.get("content-type"), rec["payload"]
    rows["warc_file"].append(fpath)
    rows["record_id"].append(h.get("warc-record-id"))
    rows["warc_type"].append(wtype)
    rows["target_uri"].append(h.get("warc-target-uri"))
    rows["warc_date"].append(h.get("warc-date"))
    rows["http_status"].append(status)
    rows["content_type"].append(ctype)
    rows["content_encoding"].append(cenc)
    rows["body"].append(body)
    if decode_text:
        rows["body_text"].append(
            None if cenc is not None else _charset_decode(body, ctype)
        )
    if headers:
        # the parser's dict is reused for its next record bookkeeping
        # nowhere, but copy anyway: the row must own its map
        rows["warc_headers"].append(dict(h))
        rows["http_headers"].append(_http_header_map(rec["payload"]))
    return len(body) if body is not None else 0


# per-flush bounds of the record readers: a real crawl WARC is ~1 GiB
# whose decoded bodies are another 1-3 GiB of Python objects —
# accumulating a whole file's rows before yielding would hold all of
# it per task simultaneously.  Flushing every N records / M expanded
# bytes keeps rows-in-flight bounded at ~the flush size regardless of
# file size.
_FLUSH_RECORDS = 2048
_FLUSH_BYTES = 64 << 20


# ---------------------------------------------------------------------
# Path-based STREAMING reader (round-14): the partition body of
# read_warc/read_warc_stream/cdx_records.  It opens the PATH on the
# executor and streams: file -> _READ_CHUNK-sized reads -> incremental
# gunzip/zstd -> an incremental record parser whose buffer is bounded
# by (largest record + chunk), -> bounded Arrow batch flushes.
# Task-resident memory is ~max(record) + _READ_CHUNK + flush batch,
# independent of file size.

_READ_CHUNK = 4 << 20  # bytes per disk read / decompressed chunk
# a single record IS a row: it must fit in memory (and in an Arrow
# binary cell), so a lying Content-Length must not make the parser
# buffer without bound — cap it loudly (crawlers cap records far
# below this; Common Crawl truncates at 1 MiB)
_MAX_RECORD_BYTES = (1 << 31) - 1
# a WARC header block is named fields, bytes each; a stream that never
# terminates one is an attack or corruption, not a crawl
_MAX_HEADER_BYTES = 1 << 20
_COMPACT_BYTES = 1 << 20  # consumed-prefix size that triggers compaction


def _gunzip_chunks(chunks, who: str):
    """Incrementally decompress a stream of CONCATENATED gzip members
    (the crawl-standard member-per-record ``.warc.gz`` layout) from an
    iterator of compressed chunks — never holding more than one chunk's
    worth of compressed input.  Errors name the corrupt / truncated
    member and its offset."""
    import zlib

    d = zlib.decompressobj(wbits=31)
    member_start = 0  # compressed offset of the current member
    pos = 0           # compressed bytes consumed overall
    in_member = False
    for chunk in chunks:
        data = chunk
        while data:
            try:
                # max_length caps each inflate step: deflate expands up
                # to ~1032:1, so an uncapped call on a 4 MiB hostile
                # chunk could yield a ~4 GiB object — the exact bound
                # this engine exists to enforce (r14 review)
                out = d.decompress(data, _READ_CHUNK)
            except zlib.error as exc:
                raise ValueError(
                    f"{who}: corrupt gzip member at offset "
                    f"{member_start} ({exc})"
                ) from None
            in_member = True
            if out:
                yield out
            if d.eof:
                rest = d.unused_data
                pos += len(data) - len(rest)
                member_start = pos
                d = zlib.decompressobj(wbits=31)
                in_member = False
                data = rest
            else:
                tail = d.unconsumed_tail
                pos += len(data) - len(tail)
                data = tail
    if in_member:
        raise ValueError(
            f"{who}: truncated gzip member at offset {member_start}"
        )


def _gunzip_members_from_chunks(chunks, who: str):
    """Member iteration for the crawl-standard one-record-per-member
    ``.warc.gz`` layout: yields ``(offset, compressed_length,
    decompressed member bytes)`` per gzip member from an iterator of
    COMPRESSED chunks — the (offset, length) pair IS the CDX
    random-access contract (seek to offset, read length bytes, gunzip,
    get the record), without the whole-file blob.  One member
    is held at a time (record-sized in the crawl-standard layout);
    each inflate step is capped at ``_READ_CHUNK`` and the
    accumulated member at ``_MAX_RECORD_BYTES`` — a gzip bomb aborts
    loudly instead of OOMing the executor (r14 review, second pass),
    and a legal whole-file single-member gz past the cap is told to
    index the plain form instead."""
    import zlib

    d = zlib.decompressobj(wbits=31)
    member_start = 0
    pos = 0
    out = bytearray()
    in_member = False
    for chunk in chunks:
        data = chunk
        while data:
            try:
                got = d.decompress(data, _READ_CHUNK)
            except zlib.error as exc:
                raise ValueError(
                    f"{who}: corrupt gzip member at offset "
                    f"{member_start} ({exc})"
                ) from None
            in_member = True
            if got:
                out += got
                if len(out) > _MAX_RECORD_BYTES:
                    raise ValueError(
                        f"{who}: gzip member at offset {member_start} "
                        f"inflates past the {_MAX_RECORD_BYTES}-byte "
                        "member cap — not the member-per-record crawl "
                        "layout; pre-decompress and index the plain "
                        "form for whole-file-member archives"
                    )
            if d.eof:
                rest = d.unused_data
                pos += len(data) - len(rest)
                yield member_start, pos - member_start, bytes(out)
                out = bytearray()
                member_start = pos
                d = zlib.decompressobj(wbits=31)
                in_member = False
                data = rest
            else:
                tail = d.unconsumed_tail
                pos += len(data) - len(tail)
                data = tail
    if in_member:
        raise ValueError(
            f"{who}: truncated gzip member at offset {member_start}"
        )


def _zstd_stream_chunks(fh, who: str):
    """Streaming ``.warc.zst`` decode through pyarrow's bundled codec
    (skippable IIPC dictionary frames tolerated).  Dictionary-compressed
    frames error naming the IIPC convention, same as
    :func:`_decompress_container`."""
    import pyarrow as pa

    try:
        stream = pa.CompressedInputStream(pa.PythonFile(fh, mode="r"), "zstd")
        while True:
            c = stream.read(_READ_CHUNK)
            if not c:
                return
            yield bytes(c)
    except Exception as exc:
        raise ValueError(
            f"{who}: zstd decode failed ({exc}); {_ZSTD_DICT_NOTE}"
        ) from None


class _ZstdStructureError(ValueError):
    """The byte stream is not a sequence of whole zstd frames — the
    STRUCTURAL failure class of :func:`_zstd_frame_spans` (truncated
    header/block, bad magic, reserved bits).  Distinct from decode-time
    failures (:func:`_zstd_decompress_frame`'s bomb caps, dictionary
    frames, corrupt entropy data) so the span-read paths can convert
    exactly the "this span is a decompressed-stream slice, not frames"
    case into re-index guidance without mislabeling a genuinely corrupt
    frame (r17, advice fix).  Subclasses ValueError, so every existing
    broad handler keeps working."""


def _zstd_frame_spans(fh, who: str):
    """STRUCTURAL walk of a zstd container: yields ``(offset, length,
    kind, dict_id, content_size)`` per top-level frame — kind
    'skippable' or 'data' — WITHOUT entropy-decoding anything.  The
    zstd format (RFC 8878 §3.1) makes this possible: the frame header
    states its own field widths and every block header carries its
    compressed size, so frame boundaries resolve from a few header
    bytes per block.  This is what turns the IIPC seekable
    ``.warc.zst`` layout (one data frame per record, optional leading
    skippable dictionary frame) into CDX-addressable spans:
    ``cdx_records`` indexes COMPRESSED frame spans and
    ``read_warc_selected`` ranged-reads + decodes one frame per hit.
    ``content_size`` is the frame-header FCS when stated else None;
    ``dict_id`` nonzero means the frame needs the shared dictionary
    (out of this reader's scope — loud downstream)."""
    fh.seek(0, 2)
    file_end = fh.tell()
    fh.seek(0)
    pos = 0

    def need(n: int, what: str) -> bytes:
        b = fh.read(n)
        if len(b) != n:
            raise _ZstdStructureError(f"{who}: truncated zstd {what} at {pos}")
        return b

    while pos < file_end:
        fh.seek(pos)
        magic = int.from_bytes(need(4, "frame magic"), "little")
        if 0x184D2A50 <= magic <= 0x184D2A5F:
            size = int.from_bytes(need(4, "skippable frame size"), "little")
            if pos + 8 + size > file_end:
                raise _ZstdStructureError(
                    f"{who}: truncated zstd skippable frame at {pos}"
                )
            yield pos, 8 + size, "skippable", None, None
            pos += 8 + size
            continue
        if magic != int.from_bytes(_ZSTD_MAGIC, "little"):
            raise _ZstdStructureError(
                f"{who}: bad zstd frame magic {magic:#x} at {pos}"
            )
        fhd = need(1, "frame header descriptor")[0]
        if fhd & 0x08:
            raise _ZstdStructureError(
                f"{who}: reserved zstd frame-header bit set at {pos}"
            )
        fcs_flag, single = fhd >> 6, (fhd >> 5) & 1
        has_checksum, did_flag = (fhd >> 2) & 1, fhd & 3
        if not single:
            need(1, "window descriptor")
        did_bytes = (0, 1, 2, 4)[did_flag]
        dict_id = (
            int.from_bytes(need(did_bytes, "dictionary id"), "little")
            if did_bytes else 0
        )
        fcs_bytes = (1 if single else 0, 2, 4, 8)[fcs_flag]
        content_size = None
        if fcs_bytes:
            content_size = int.from_bytes(
                need(fcs_bytes, "frame content size"), "little"
            )
            if fcs_bytes == 2:
                content_size += 256  # RFC 8878: 2-byte FCS is offset
        cur = fh.tell()
        while True:
            bh = int.from_bytes(need(3, "block header"), "little")
            last, btype, bsize = bh & 1, (bh >> 1) & 3, bh >> 3
            if btype == 3:
                raise _ZstdStructureError(
                    f"{who}: reserved zstd block type at {cur}"
                )
            # RLE blocks store ONE byte; bsize is the regenerated size
            content = 1 if btype == 1 else bsize
            cur = fh.tell() + content
            if cur > file_end:
                raise _ZstdStructureError(f"{who}: truncated zstd block at {pos}")
            fh.seek(cur)
            if last:
                break
        if has_checksum:
            need(4, "content checksum")
            cur += 4
        yield pos, cur - pos, "data", dict_id, content_size
        pos = cur


def _zstd_decompress_frame(data: bytes, who: str) -> bytes:
    """ONE zstd frame -> bytes, capped at ``_MAX_RECORD_BYTES`` — the
    per-span decoder of the seekable path, through pyarrow's bundled
    codec.  A frame stating a past-cap content size dies before any
    decode; otherwise the stream is read for at most (stated size, or
    the cap for an unsized frame) + 1 bytes, so neither a lying header
    nor an unsized bomb inflates unbounded.  Dictionary frames error
    with the IIPC note."""
    import pyarrow as pa

    _off, _ln, _kind, dict_id, fcs = next(
        _zstd_frame_spans(io.BytesIO(data), who)
    )
    if dict_id:
        raise ValueError(f"{who}: {_ZSTD_DICT_NOTE}")
    if fcs is not None and fcs > _MAX_RECORD_BYTES:
        raise ValueError(
            f"{who}: zstd frame states {fcs} content bytes — past the "
            f"{_MAX_RECORD_BYTES}-byte record cap"
        )
    limit = _MAX_RECORD_BYTES if fcs is None else fcs
    try:
        stream = pa.CompressedInputStream(pa.BufferReader(data), "zstd")
        parts, total = [], 0
        while total <= limit:
            c = stream.read(min(_READ_CHUNK, limit + 1 - total))
            if not c:
                break
            parts.append(bytes(c))
            total += len(c)
        out = b"".join(parts)
    except OSError as exc:
        raise ValueError(
            f"{who}: zstd frame decode failed ({exc}); "
            f"{_ZSTD_DICT_NOTE}"
        ) from None
    if fcs is not None and len(out) != fcs:
        raise ValueError(
            f"{who}: zstd frame decoded to {len(out)} bytes, "
            f"header stated {fcs}"
        )
    if len(out) > _MAX_RECORD_BYTES:
        raise ValueError(
            f"{who}: unsized zstd frame decodes past the "
            f"{_MAX_RECORD_BYTES}-byte record cap"
        )
    return out


def _zstd_compress_frame(data: bytes) -> bytes:
    """bytes -> ONE standalone zstd frame (the seekable layout's unit)
    through pyarrow's bundled codec, which states the content size so
    :func:`_zstd_decompress_frame` can cap it."""
    import pyarrow as pa

    return bytes(pa.Codec("zstd").compress(data))


def _decompressed_chunks(path: str, who: str, opener=None):
    """Open ``path`` and yield DECOMPRESSED byte chunks — container
    routed by magic exactly like :func:`_decompress_container`, but
    streamed: gzip members incrementally, zstd through pyarrow's
    streaming codec, plain files in ``_READ_CHUNK`` reads.

    ``opener`` (round-15): ``opener(path) -> file-like`` with
    ``seek``/``read``/``close`` — the filesystem seam (default
    :func:`.filesystem.open_path`).  The whole reader downstream of
    here is chunk-iterator-shaped, so a ranged-GET reader gets the
    same bounded-memory watermark as a local file."""
    fh = (opener or open_path)(path)
    try:
        head = fh.read(4)
        fh.seek(0)
        if head[:2] == _GZIP_MAGIC:
            yield from _gunzip_chunks(
                iter(lambda: fh.read(_READ_CHUNK), b""), who
            )
        elif len(head) >= 4 and _is_zstd(head):
            yield from _zstd_stream_chunks(fh, who)
        else:
            while True:
                c = fh.read(_READ_CHUNK)
                if not c:
                    return
                yield c
    finally:
        fh.close()


def _records_from_chunks(
    chunks, who: str, mem: "dict | None" = None, with_spans: bool = False
):
    """Incremental twin of :func:`_record_spans` over a decompressed
    CHUNK stream: yields the same record dicts with the same error
    wording (version line / truncated header / Content-Length /
    truncated payload, offsets absolute into the decompressed stream),
    but holds only the current record plus one read chunk — the
    consumed prefix compacts away, so a 100 GiB file parses in
    ~``_MAX_RECORD_BYTES``-bounded memory.  ``mem`` (tests): a dict
    whose ``peak_buffered`` key records the buffer high-water mark.
    ``with_spans``: yield ``(start, end, record)`` with absolute
    offsets into the decompressed stream (the :func:`_record_spans`
    span contract — the CDX builder's unit)."""
    it = iter(chunks)
    buf = bytearray()
    pos = 0   # parse cursor into buf
    base = 0  # absolute decompressed offset of buf[0]
    eof = False

    def fill() -> bool:
        nonlocal eof
        while not eof:
            try:
                c = next(it)
            except StopIteration:
                eof = True
                return False
            if c:
                buf.extend(c)
                if mem is not None and len(buf) > mem.get("peak_buffered", 0):
                    mem["peak_buffered"] = len(buf)
                return True
        return False

    while True:
        if pos >= _COMPACT_BYTES:
            base += pos
            del buf[:pos]
            pos = 0
        # inter-record CRLF padding (whole pairs only); compaction
        # runs INSIDE this loop too — a multi-GiB all-padding stream
        # must not accumulate in buf (r14 review)
        while True:
            while len(buf) - pos < 2 and fill():
                pass
            if buf[pos : pos + 2] == b"\r\n":
                pos += 2
                if pos >= _COMPACT_BYTES:
                    base += pos
                    del buf[:pos]
                    pos = 0
            else:
                break
        if pos >= len(buf) and eof:
            return
        # version line
        scan = pos
        while True:
            nl = buf.find(b"\r\n", scan)
            if nl >= 0:
                break
            scan = max(pos, len(buf) - 1)
            if len(buf) - pos > _MAX_HEADER_BYTES:
                raise ValueError(
                    f"{who}: WARC header block exceeds "
                    f"{_MAX_HEADER_BYTES} bytes"
                )
            if not fill():
                raise ValueError(
                    f"{who}: expected WARC version line at offset "
                    f"{base + pos}"
                )
        if not buf[pos:nl].startswith(b"WARC/"):
            raise ValueError(
                f"{who}: expected WARC version line at offset {base + pos}"
            )
        # header block terminator
        scan = nl
        while True:
            hdr_end = buf.find(b"\r\n\r\n", scan)
            if hdr_end >= 0:
                break
            scan = max(nl, len(buf) - 3)
            if len(buf) - pos > _MAX_HEADER_BYTES:
                raise ValueError(
                    f"{who}: WARC header block exceeds "
                    f"{_MAX_HEADER_BYTES} bytes"
                )
            if not fill():
                raise ValueError(f"{who}: truncated WARC header block")
        headers: dict = {}
        for ln in bytes(buf[nl + 2 : hdr_end]).decode("latin-1").split("\r\n"):
            k, _, v = ln.partition(":")
            headers[k.strip().lower()] = v.strip()
        if "content-length" not in headers:
            raise ValueError(f"{who}: WARC record missing Content-Length")
        cl = headers["content-length"]
        try:
            ln_ = int(cl)
        except ValueError:
            raise ValueError(
                f"{who}: bad WARC Content-Length {cl!r}"
            ) from None
        if ln_ < 0:
            raise ValueError(f"{who}: bad WARC Content-Length {cl!r}")
        if ln_ > _MAX_RECORD_BYTES:
            raise ValueError(
                f"{who}: WARC Content-Length {ln_} exceeds the "
                f"{_MAX_RECORD_BYTES}-byte record cap"
            )
        body_start = hdr_end + 4
        while len(buf) < body_start + ln_:
            if not fill():
                raise ValueError(f"{who}: truncated WARC record payload")
        rec = {
            "headers": headers,
            "payload": bytes(buf[body_start : body_start + ln_]),
        }
        if with_spans:
            yield base + pos, base + body_start + ln_, rec
        else:
            yield rec
        pos = body_start + ln_


def _path_record_batches(
    path: str, wanted, decode_text: bool, who=None, opener=None,
    headers: bool = False,
):
    """One WARC file path -> Arrow RecordBatches in the reader schema:
    the per-partition body of the ``warc`` DataSource (batch AND
    stream).  Row assembly (``_append_record_row``) and the flush
    bounds (``_FLUSH_RECORDS`` / ``_FLUSH_BYTES``) are shared with
    :func:`read_warc_selected`."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = _reader_schema(decode_text, headers)
    cols = schema.fieldNames()
    pa_schema = to_arrow_schema(schema)
    who = who or f"read_warc({path})"
    rows = {c: [] for c in cols}
    pending = 0

    def flush():
        return pa.RecordBatch.from_pydict(rows, schema=pa_schema)

    for rec in _records_from_chunks(
        _decompressed_chunks(path, who, opener), who
    ):
        wtype = rec["headers"].get("warc-type", "")
        if wanted is not None and wtype.lower() not in wanted:
            continue
        pending += _append_record_row(
            rows, path, rec, decode_text, who=who, headers=headers,
        )
        if len(rows["body"]) >= _FLUSH_RECORDS or pending >= _FLUSH_BYTES:
            yield flush()
            rows = {c: [] for c in cols}
            pending = 0
    if rows[cols[0]]:
        yield flush()


def _glob_warc_paths(path: str, lister=None) -> list:
    """Deterministic file listing for the ``warc``/``cdx`` DataSources:
    :func:`.filesystem.list_paths` on the path's ``pyarrow.fs``
    filesystem (directory, literal file, or glob; ``.``/``_`` names
    hidden from expansion), spelled back the way the path was given —
    bare for local and ``file:`` paths, scheme-qualified for URIs.

    ``lister`` (round-15): ``lister(path) -> iterable of file paths``
    — the filesystem seam.  An injected lister owns its expansion
    semantics; only the deterministic sort is applied here."""
    if lister is not None:
        return sorted(lister(path))
    fs, p, prefix = _filesystem(path)
    return [prefix + f for f in list_paths(fs, p)]


from pyspark.sql.datasource import (  # noqa: E402 (after helpers they use)
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)


class WarcFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _parse_max_files_option(options, who: str):
    """``max_files_per_trigger`` DataSource option -> int or None
    (round-15 admission control, shared by the warc and cdx
    sources)."""
    raw = options.get("max_files_per_trigger")
    if raw is None or str(raw).strip() in ("", "none"):
        return None
    try:
        n = int(str(raw))
    except ValueError:
        raise ValueError(
            f"{who}: max_files_per_trigger must be an integer, got "
            f"{raw!r}"
        ) from None
    if n < 1:
        raise ValueError(f"{who}: max_files_per_trigger must be >= 1")
    return n


def _fs_datasource(base, fmt_name: str, opener, lister):
    """Derive a DataSource class carrying object-store callables as
    class state (round-15).  String-only ``.option()``s cannot ship a
    callable, and module-level classes pickle BY REFERENCE (executors
    re-import them, losing any session-registered state) — but a class
    created at runtime is serialized BY VALUE by cloudpickle,
    opener/lister included, so the planning worker and every executor
    see the exact callables the session supplied.  Registered under
    ``fmt_name`` (last registration wins per session; the typed APIs
    register immediately before ``.load()``, so concurrent same-session
    loads with DIFFERENT openers must serialize — stated)."""
    return type(
        base.__name__ + "Fs",
        (base,),
        {
            "_opener": staticmethod(opener) if opener is not None else None,
            "_lister": staticmethod(lister) if lister is not None else None,
            "name": classmethod(lambda cls: fmt_name),
        },
    )


class WarcDataSource(DataSource):
    """``spark.read.format("warc")`` / ``spark.readStream.format
    ("warc")`` — the path-based streaming WARC reader (see the
    round-14 note above ``_READ_CHUNK``).  One InputPartition per
    file; the partition reader streams records from the path with
    bounded memory and no 2 GiB file limit.

    Options: ``path``; ``record_types`` — comma-separated WARC-Type
    list, ``*`` for everything (default ``response``);
    ``decode_text`` — add the charset-decoded ``body_text`` column;
    ``headers`` — add the ``warc_headers``/``http_headers`` map
    columns (round-15); ``max_files_per_trigger`` (stream only,
    round-15) — admit at most N new files per micro-batch.
    ``read_warc`` / ``read_warc_stream`` are the typed API.
    ``_opener``/``_lister`` are the filesystem seams, populated only on
    :func:`_fs_datasource`-derived classes — this base class lists and
    opens through ``pyarrow.fs``."""

    _opener = None
    _lister = None

    @classmethod
    def name(cls) -> str:
        return "warc"

    def _parsed_options(self):
        wanted = _parse_record_types_option(
            str(self.options.get("record_types", "response"))
        )
        decode_text = _opt_bool(self.options, "decode_text", False)
        headers = _opt_bool(self.options, "headers", False)
        return wanted, decode_text, headers

    def schema(self) -> T.StructType:
        _w, decode_text, headers = self._parsed_options()
        return _reader_schema(decode_text, headers)

    def reader(self, schema: T.StructType) -> "WarcBatchReader":
        path = self.options.get("path")
        if not path:
            raise ValueError("warc datasource requires a path (load(path))")
        files = _glob_warc_paths(path, self._lister)
        if not files:
            raise ValueError(f"read_warc: no WARC files match '{path}'")
        wanted, decode_text, headers = self._parsed_options()
        return WarcBatchReader(
            files, wanted, decode_text, self._opener, headers=headers
        )

    def streamReader(self, schema: T.StructType) -> "WarcStreamReader":
        path = self.options.get("path")
        if not path:
            raise ValueError("warc datasource requires a path (load(path))")
        wanted, decode_text, headers = self._parsed_options()
        return WarcStreamReader(
            path, wanted, decode_text,
            lister=self._lister, opener=self._opener,
            max_files=_parse_max_files_option(self.options, "read_warc_stream"),
            headers=headers,
        )


class WarcBatchReader(DataSourceReader):
    """One partition per WARC file (the reference-scan task shape);
    each partition streams Arrow batches from its path (through the
    injected opener on object stores — the reader instance is
    cloudpickled to executors with the callable aboard)."""

    def __init__(self, files, wanted, decode_text, opener=None,
                 headers=False):
        self._files = files
        self._wanted = wanted
        self._decode_text = decode_text
        self._opener = opener
        self._headers = headers

    def partitions(self):
        return [WarcFilePartition(f) for f in self._files]

    def read(self, partition: WarcFilePartition):
        yield from _path_record_batches(
            partition.path, self._wanted, self._decode_text,
            opener=self._opener, headers=self._headers,
        )


class _FileSetStreamReader(DataSourceStreamReader):
    """Shared streaming machinery: offsets are the set of files
    already planned, serialized DIRECTORY-GROUPED (round-15:
    ``{"d": {dirname: [sorted basenames]}}`` — each directory name is
    checkpointed once instead of once per file, which at the stated
    100k-file archive scale is the difference between a ~1 MiB and a
    multi-MiB offset JSON written per batch; a path whose
    dirname/basename split does not round-trip exactly — e.g. a
    double-slash — lands verbatim under the ``""`` key).  Both older
    formats still deserialize: the r14 ``{"files": {path: 1}}`` dict
    and the interim sorted list.  Each microbatch plans one partition
    per NEW file.

    ``max_files`` (round-15 admission control): ``latestOffset``
    admits at most N not-yet-seen files, sorted, per trigger — a first
    trigger against a year-old archive plans N files, not the whole
    directory.  After a checkpoint restart the in-memory seen-set
    starts empty, so the first ``latestOffset`` may spend its
    admission slots re-admitting files the restored start offset
    already covers; ``partitions`` diffs them away (no re-read, no
    duplicate rows) and seeds the seen-set from the start offset, so
    the ramp lasts exactly one trigger (pinned by the restart test).

    ``lister`` is the listing seam (None = ``pyarrow.fs`` listing)."""

    def __init__(self, path: str, lister=None, max_files=None):
        self._path = path
        self._lister = lister
        self._max_files = max_files
        self._seen: set = set()

    def initialOffset(self) -> dict:
        return {"files": []}

    @staticmethod
    def _offset_files(off: dict) -> set:
        import posixpath

        if "d" in off:  # r15 directory-grouped form
            return {
                posixpath.join(d, n) if d else n
                for d, names in off["d"].items()
                for n in names
            }
        # interim r15 list or r14 {path: 1} dict: iterating a dict
        # yields its keys, so one expression covers both
        return set(off.get("files", []))

    @staticmethod
    def _serialize_files(seen: set) -> dict:
        import posixpath

        groups: dict = {}
        for p in seen:
            d, n = posixpath.dirname(p), posixpath.basename(p)
            # verbatim fallback when the split doesn't round-trip
            if not d or posixpath.join(d, n) != p:
                d, n = "", p
            groups.setdefault(d, []).append(n)
        return {"d": {d: sorted(ns) for d, ns in sorted(groups.items())}}

    def latestOffset(self) -> dict:
        new = sorted(
            set(_glob_warc_paths(self._path, self._lister)) - self._seen
        )
        if self._max_files is not None:
            new = new[: self._max_files]
        self._seen.update(new)  # monotone even if files rotate away
        return self._serialize_files(self._seen)

    def partitions(self, start: dict, end: dict):
        done = self._offset_files(start)
        # restart seeding: the checkpointed start offset is the
        # authoritative already-planned set — fold it into the
        # in-memory view so later latestOffset calls stop re-admitting
        self._seen.update(done)
        new = sorted(self._offset_files(end) - done)
        return [WarcFilePartition(f) for f in new]

    def commit(self, end: dict) -> None:
        # second seeding point: Spark calls commit(end) after a batch
        # lands AND (on restart) for the recovered committed offset —
        # without this, a restarted capped stream whose first
        # latestOffset runs before any partitions() call would spend
        # admission slots re-admitting done files every trigger
        self._seen.update(self._offset_files(end))


class WarcStreamReader(_FileSetStreamReader):
    """Streaming twin of WarcBatchReader: rotated-in WARC files become
    exactly-once record micro-batches with the batch reader's memory
    bounds, per-trigger admission control (round-15), and the
    opener/lister seams."""

    def __init__(
        self, path, wanted, decode_text,
        lister=None, opener=None, max_files=None, headers=False,
    ):
        super().__init__(path, lister=lister, max_files=max_files)
        self._wanted = wanted
        self._decode_text = decode_text
        self._opener = opener
        self._headers = headers

    def read(self, partition: WarcFilePartition):
        yield from _path_record_batches(
            partition.path, self._wanted, self._decode_text,
            opener=self._opener, headers=self._headers,
        )


def register_warc_datasource(spark: SparkSession) -> None:
    register_once(spark, WarcDataSource)


def _warc_format(spark: SparkSession, opener, lister) -> str:
    """Register and name the ``warc`` format variant for this load:
    the plain ``pyarrow.fs`` class (once per session), or a
    :func:`_fs_datasource`-derived ``warc_fs`` carrying the session's
    opener/lister by value (registered per load, since the callables
    may differ between loads)."""
    if opener is None and lister is None:
        return register_once(spark, WarcDataSource)
    register_datasource(
        spark, _fs_datasource(WarcDataSource, "warc_fs", opener, lister)
    )
    return "warc_fs"


def read_warc_stream(
    spark: SparkSession,
    path: str,
    record_types: "tuple | str | None" = ("response",),
    max_files_per_trigger: int | None = None,
    decode_text: bool = False,
    opener=None,
    lister=None,
    headers: bool = False,
) -> DataFrame:
    """Streaming :func:`read_warc`: one row per record over a file
    stream, for the daily-crawl shape — new WARC files rotated into
    ``path`` become micro-batches, with the source checkpoint
    guaranteeing each crawl file is parsed exactly once across
    restarts.  Compose downstream exactly like the batch form
    (``extract_text_html`` and the cleaning gates are all stream-safe
    maps; feed ``pipeline.incremental_clean_ingest_stream`` for the
    dedup-against-standing-indexes loop).

    The source is the ``warc`` DataSource stream reader (bounded task
    memory, no file-size limit; listing and opening as in
    :func:`read_warc`, ``opener``/``lister`` included).  Its
    checkpoint holds file-set offsets; a checkpoint written by the
    former binaryFile file stream does not resume here.

    ``max_files_per_trigger`` bounds a micro-batch (a crawl file is
    ~1 GiB; the default processes everything available).  Round-15:
    the DataSource's ``latestOffset`` admits at most N new sorted files
    per trigger, so a first trigger against a deep archive plans N
    files, not the whole directory (a NOTE for restarts: the first
    trigger after one may admit-and-skip already-done files — see
    ``_FileSetStreamReader``)."""
    if max_files_per_trigger is not None and max_files_per_trigger < 1:
        raise ValueError(
            "read_warc_stream: max_files_per_trigger must be >= 1"
        )
    opener, lister = _fs_seams(opener, lister, path, "read_warc_stream")
    fmt = _warc_format(spark, opener, lister)
    rt = _record_types_option(record_types)
    reader = (
        spark.readStream.format(fmt)
        .option("record_types", rt)
        .option("decode_text", str(decode_text).lower())
        .option("headers", str(headers).lower())
    )
    if max_files_per_trigger is not None:
        reader = reader.option(
            "max_files_per_trigger", str(max_files_per_trigger)
        )
    return reader.load(path)


_CDX_SCHEMA = T.StructType(
    [
        T.StructField("urlkey", T.StringType()),
        T.StructField("cdx_ts", T.StringType()),       # 14-digit
        T.StructField("url", T.StringType()),
        # WARC-Record-ID: the RECORD identity selected reads key on —
        # a URI is not identity (request/response pairs and re-crawls
        # share it inside one member)
        T.StructField("record_id", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("digest", T.StringType()),       # sha1, base32
        T.StructField("length", T.LongType()),
        T.StructField("offset", T.LongType()),
        T.StructField("warc_file", T.StringType()),
    ]
)


def _stored_payload(payload: bytes) -> bytes:
    """The STORED payload bytes a WARC-Payload-Digest covers (warcio's
    convention, what Common Crawl / Wayback CDXes hash): for an HTTP
    message, everything after the header block AS STORED — transfer
    framing and Content-Encoding untouched; for anything else the
    whole record payload."""
    if payload[:5] == b"HTTP/":
        sep = payload.find(b"\r\n\r\n")
        if sep >= 0:
            return payload[sep + 4 :]
    return payload


def _append_cdx_row(
    rows: dict, fpath, off: int, length: int, rec: dict,
    digest_mode: str, who: str,
) -> None:
    """Assemble ONE CDX row from a parsed record + its span (the row body
    of the ``cdx`` DataSource). ``digest_mode``: 'decoded' hashes
    the fully-decoded entity (transfer/content codings undone — two
    captures of identical content match across framings); 'stored'
    hashes the stored payload bytes (interoperates with external CDX
    tooling and WARC-Payload-Digest headers)."""
    import base64
    import hashlib

    h = rec["headers"]
    wtype = h.get("warc-type", "").lower()
    if digest_mode == "stored":
        body = _stored_payload(rec["payload"])
        status = ctype = None
        if wtype in ("response", "revisit"):
            status, ctype, _b, _c = _http_gate(h, rec["payload"], who=who)
        else:
            ctype = h.get("content-type")
    elif wtype in ("response", "revisit"):
        status, ctype, body, _cenc = _http_gate(h, rec["payload"], who=who)
    else:
        status = None
        ctype, body = h.get("content-type"), rec["payload"]
    digest = base64.b32encode(hashlib.sha1(body).digest()).decode()
    mime_override = None
    if wtype == "revisit":
        # the external CDX convention for revisit records (pywb /
        # Common Crawl): mime is the literal 'warc/revisit' marker and
        # digest is the ORIGINAL payload's digest from the
        # WARC-Payload-Digest header (the whole point of the record —
        # its own payload is just the re-fetch's HTTP head), so
        # resolve_revisits can equi-join it back to the capture that
        # stored the content.  Header absent -> own-payload hash, as
        # for any other record (a row that then matches nothing).
        mime_override = "warc/revisit"
        hd = h.get("warc-payload-digest")
        if hd:
            digest = hd.split(":", 1)[-1].strip()
    wdate = h.get("warc-date") or ""
    cdx_ts = "".join(c for c in wdate if c.isdigit())[:14]
    mime = mime_override or (ctype or "").split(";", 1)[0].strip() or None
    rows["urlkey"].append(None)  # filled JVM-side
    rows["cdx_ts"].append(cdx_ts or None)
    rows["url"].append(h.get("warc-target-uri"))
    rows["record_id"].append(h.get("warc-record-id"))
    rows["mime"].append(mime)
    rows["http_status"].append(status)
    rows["digest"].append(digest)
    rows["length"].append(length)
    rows["offset"].append(off)
    rows["warc_file"].append(fpath)


def _path_cdx_spans(path: str, who: str, opener=None):
    """(offset, length, record) spans streamed from a WARC file PATH:
    per-member spans for .warc.gz (via the streaming member iterator),
    per-record decompressed-stream spans otherwise, bounded memory.
    ``opener`` is the filesystem seam (default
    :func:`.filesystem.open_path`)."""
    with (opener or open_path)(path) as fh:
        head = fh.read(4)
        fh.seek(0)
        if head[:2] == _GZIP_MAGIC:
            for off, clen, data in _gunzip_members_from_chunks(
                iter(lambda: fh.read(_READ_CHUNK), b""), who
            ):
                for _s, _e, rec in _record_spans(data, who):
                    yield off, clen, rec
        elif len(head) >= 4 and _is_zstd(head):
            # structural frame walk first (header bytes only): TWO OR
            # MORE data frames = the IIPC seekable layout — index
            # COMPRESSED frame spans so read_warc_selected can
            # ranged-read + decode one frame per hit (round-15).  A
            # single whole-file frame keeps the r14 behavior:
            # decompressed-stream spans (selected reads refuse them).
            frames = [
                f for f in _zstd_frame_spans(fh, who) if f[2] == "data"
            ]
            # ...and only when every frame is record-cap-sized: a
            # 2-frame 100 GB split is NOT the record-per-frame
            # convention, and reading one such frame whole would
            # reintroduce the blob memory model
            if len(frames) >= 2 and all(
                f[1] <= _MAX_RECORD_BYTES for f in frames
            ):
                for off, clen, _kind, _did, _fcs in frames:
                    fh.seek(off)
                    data = _zstd_decompress_frame(fh.read(clen), who)
                    try:
                        recs = list(_record_spans(data, who))
                    except ValueError as exc:
                        raise ValueError(
                            f"{who}: multi-frame .warc.zst is not "
                            "record-aligned — the seekable IIPC "
                            "layout needs whole records per frame "
                            f"({exc})"
                        ) from None
                    for _s, _e, rec in recs:
                        yield off, clen, rec
            else:
                fh.seek(0)
                for s, e, rec in _records_from_chunks(
                    _zstd_stream_chunks(fh, who), who, with_spans=True
                ):
                    yield s, e - s, rec
        else:
            def plain_chunks():
                while True:
                    c = fh.read(_READ_CHUNK)
                    if not c:
                        return
                    yield c

            for s, e, rec in _records_from_chunks(
                plain_chunks(), who, with_spans=True
            ):
                yield s, e - s, rec


def _path_cdx_batches(path: str, wanted, digest_mode: str, opener=None):
    """One WARC file path -> CDX-schema Arrow batches (urlkey NULL,
    filled JVM-side) — the per-partition body of the ``cdx``
    DataSource."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    cols = _CDX_SCHEMA.fieldNames()
    pa_schema = to_arrow_schema(_CDX_SCHEMA)
    who = f"cdx_records({path})"
    rows = {c: [] for c in cols}

    def flush():
        return pa.RecordBatch.from_pydict(rows, schema=pa_schema)

    for off, length, rec in _path_cdx_spans(path, who, opener):
        wtype = rec["headers"].get("warc-type", "").lower()
        if wanted is not None and wtype not in wanted:
            continue
        _append_cdx_row(rows, path, off, length, rec, digest_mode, who)
        if len(rows["url"]) >= _FLUSH_RECORDS:
            yield flush()
            rows = {c: [] for c in cols}
    if rows["url"]:
        yield flush()


class CdxDataSource(DataSource):
    """``spark.read.format("cdx")`` — the path-based CDX index builder
    (``cdx_records`` is the typed API): one partition per WARC file,
    streamed spans, bounded memory, no 2 GiB file limit.  Options:
    ``path``, ``record_types`` (comma list / ``*``), ``digest``
    ('decoded'|'stored'), ``max_files_per_trigger`` (stream only,
    round-15 admission control).  ``_opener``/``_lister`` are the
    filesystem seams (populated on :func:`_fs_datasource`-derived
    classes only)."""

    _opener = None
    _lister = None

    @classmethod
    def name(cls) -> str:
        return "cdx"

    def schema(self) -> T.StructType:
        return _CDX_SCHEMA

    def _parsed_options(self):
        """ONE copy of the option parsing for batch and stream (r14
        review: two in-class copies drifted the moment either grew),
        validating digest so a raw ``.option("digest", typo)`` cannot
        silently fall through to 'decoded' hashing."""
        path = self.options.get("path")
        if not path:
            raise ValueError("cdx datasource requires a path (load(path))")
        wanted = _parse_record_types_option(
            str(self.options.get("record_types", "response"))
        )
        digest_mode = str(self.options.get("digest", "decoded"))
        if digest_mode not in ("decoded", "stored"):
            raise ValueError(
                f"cdx: digest must be 'decoded' or 'stored', got "
                f"{digest_mode!r}"
            )
        return path, wanted, digest_mode

    def reader(self, schema: T.StructType):
        path, wanted, digest_mode = self._parsed_options()
        files = _glob_warc_paths(path, self._lister)
        if not files:
            raise ValueError(f"cdx_records: no WARC files match '{path}'")
        return CdxBatchReader(files, wanted, digest_mode, self._opener)

    def streamReader(self, schema: T.StructType) -> "CdxStreamReader":
        path, wanted, digest_mode = self._parsed_options()
        return CdxStreamReader(
            path, wanted, digest_mode,
            lister=self._lister, opener=self._opener,
            max_files=_parse_max_files_option(
                self.options, "cdx_records_stream"
            ),
        )


class CdxBatchReader(DataSourceReader):
    def __init__(self, files, wanted, digest_mode, opener=None):
        self._files = files
        self._wanted = wanted
        self._digest = digest_mode
        self._opener = opener

    def partitions(self):
        return [WarcFilePartition(f) for f in self._files]

    def read(self, partition: WarcFilePartition):
        yield from _path_cdx_batches(
            partition.path, self._wanted, self._digest, self._opener
        )


class CdxStreamReader(_FileSetStreamReader):
    """Streaming twin of CdxBatchReader — the daily index-maintenance
    shape: WARC files rotated into the path become exactly-once CDX
    micro-batches (``cdx_records_stream`` is the typed API; land them
    with ``write_cdx(mode='append')`` in ``foreachBatch``)."""

    def __init__(
        self, path, wanted, digest_mode,
        lister=None, opener=None, max_files=None,
    ):
        super().__init__(path, lister=lister, max_files=max_files)
        self._wanted = wanted
        self._digest = digest_mode
        self._opener = opener

    def read(self, partition: WarcFilePartition):
        yield from _path_cdx_batches(
            partition.path, self._wanted, self._digest, self._opener
        )


def cdx_records(
    spark: SparkSession,
    path: str,
    record_types: "tuple | str | None" = ("response",),
    digest: str = "decoded",
    opener=None,
    lister=None,
) -> DataFrame:
    """Build a CDX(J)-style index of WARC files — the standard
    web-archive random-access index (the format Common Crawl and
    Wayback ship): one row per record with (urlkey SURT sort key,
    14-digit timestamp, url, record_id — the WARC record identity
    :func:`read_warc_selected` keys on, mime, http_status, sha1-base32
    digest of the decoded entity, length, offset, warc_file).

    Random-access contract, per container:
    - ``.warc.gz`` (the crawl-standard member-per-record layout):
      ``offset``/``length`` are the COMPRESSED gzip-member byte span —
      seek, read ``length`` bytes, gunzip, parse one record (pinned by
      the round-trip test).  A member holding several records yields
      that many rows sharing the member span.
    - plain ``.warc``: the record's direct byte span.
    - ``.warc.zst`` (round-15): a MULTI-FRAME container (the IIPC
      seekable frame-per-record convention, detected by a structural
      header walk — no decode) indexes COMPRESSED frame spans, the
      exact gz-member contract; a single whole-file frame keeps the
      r14 behavior — spans into the DECOMPRESSED stream (still a
      valid lookup table after pre-decompression; selected reads
      refuse it loudly).  Dictionary-compressed frames stay out of
      scope (stated, errors name the IIPC note).

    ``urlkey`` is :func:`textops.surt_key` applied JVM-side AFTER the
    expansion — one SURT implementation serves the frontier ops and
    this index.  ``digest`` (round-14): ``'decoded'`` (default) hashes
    the fully-decoded entity (chunked/gzip/br undone), so two captures
    of identical content match even when transfer framing differed;
    ``'stored'`` hashes the payload bytes AS STORED (the HTTP entity
    after the header block, codings untouched) — the convention
    external CDX tooling and ``WARC-Payload-Digest`` headers use, for
    cross-matching existing web-archive indexes.  Quarantined records
    hash their raw bytes either way; the quarantine policy is the
    reader's: no record raises.

    The index comes from the path-based ``cdx`` DataSource — one task
    per file streaming spans from the path with bounded memory and no
    file size limit (the member iterator holds one gzip member at a time);
    listing, opening and ``opener``/``lister`` as in :func:`read_warc`.
    Zero shuffle; emit order is file order. A CDX FILE is sorted by
    (urlkey, cdx_ts): add ``.orderBy("urlkey", "cdx_ts")`` before
    writing — the sort is a real shuffle, priced only when the artifact
    needs it (or land it pruned with :func:`write_cdx`)."""
    if digest not in ("decoded", "stored"):
        raise ValueError("cdx_records: digest must be 'decoded' or 'stored'")
    opener, lister = _fs_seams(opener, lister, path, "cdx_records")
    return _cdx_frame(
        spark, path, record_types, digest, streaming=False,
        opener=opener, lister=lister,
    )


def cdx_records_stream(
    spark: SparkSession,
    path: str,
    record_types: "tuple | str | None" = ("response",),
    digest: str = "decoded",
    max_files_per_trigger: int | None = None,
    opener=None,
    lister=None,
) -> DataFrame:
    """Streaming :func:`cdx_records` — the daily index-maintenance
    loop: WARC files rotated into ``path`` become exactly-once CDX
    micro-batches (file-set offsets, checkpointed), so the standing
    archive index GROWS with the crawl instead of being rebuilt.
    Compose with the pruned landing::

        q = (cdx_records_stream(spark, "crawl/*.warc.gz")
             .writeStream.foreachBatch(
                 lambda df, _id: write_cdx(df, "idx/", mode="append"))
             .option("checkpointLocation", ck).start())

    — each day's index rows append into the host-hash directories
    :func:`read_cdx` prunes, and a replayed micro-batch after restart
    re-lands the same rows (foreachBatch is at-least-once; CDX rows
    are idempotent facts keyed by (warc_file, record_id), so dedup on
    read or accept duplicates, stated).

    ``max_files_per_trigger`` (round-15): admit at most N new WARC
    files per micro-batch — bounds first-trigger planning on a deep
    archive.  Listing, opening and ``opener``/``lister`` as in
    :func:`read_warc`."""
    if digest not in ("decoded", "stored"):
        raise ValueError(
            "cdx_records_stream: digest must be 'decoded' or 'stored'"
        )
    if max_files_per_trigger is not None and max_files_per_trigger < 1:
        raise ValueError(
            "cdx_records_stream: max_files_per_trigger must be >= 1"
        )
    opener, lister = _fs_seams(opener, lister, path, "cdx_records_stream")
    return _cdx_frame(
        spark, path, record_types, digest, streaming=True,
        opener=opener, lister=lister,
        max_files_per_trigger=max_files_per_trigger,
    )


def _cdx_frame(
    spark: SparkSession, path: str, record_types, digest: str,
    streaming: bool, opener=None, lister=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Shared builder of the batch and streaming ``cdx`` loads (one
    copy of the option wiring + JVM-side urlkey, so the daily
    maintenance index cannot drift from the batch rebuild — r14
    review)."""
    from zeek_duckdb_spark.operators.textops import surt_key
    from pyspark.sql import functions as F

    if opener is None and lister is None:
        fmt = register_once(spark, CdxDataSource)
    else:
        fmt = "cdx_fs"
        register_datasource(
            spark, _fs_datasource(CdxDataSource, "cdx_fs", opener, lister)
        )
    rt = _record_types_option(record_types)
    reader = spark.readStream if streaming else spark.read
    src = (
        reader.format(fmt)
        .option("record_types", rt)
        .option("digest", digest)
    )
    if max_files_per_trigger is not None:
        src = src.option(
            "max_files_per_trigger", str(max_files_per_trigger)
        )
    out = src.load(path)
    return out.withColumn("urlkey", surt_key(F.col("url")))


def read_warc_selected(
    spark: SparkSession,
    cdx_df: DataFrame,
    decode_text: bool = False,
    task_bytes: int = 64 << 20,
    opener=None,
    headers: bool = False,
) -> DataFrame:
    """Random-access read of SELECTED records via their CDX spans —
    the payoff of :func:`cdx_records`: re-reading one domain's pages
    (or one dedup cluster's members) out of a 100 TB archive touches
    only the indexed byte ranges instead of re-parsing every file.

    ``cdx_df`` is any subset of a :func:`cdx_records` result (filter
    it by urlkey prefix / mime / status first); the consumed columns
    are (warc_file, offset, length) plus whichever identity columns
    exist: ``record_id`` is the PREFERRED sub-selection key inside
    multi-record gzip members (a URI is not record identity —
    request/response pairs and same-URL re-crawls share it), with
    ``url`` as the fallback for rows/indexes without record ids
    (pre-r13 persisted indexes, external CDXJ conversions).  With
    neither column the whole span emits (span-level selection only).
    Returns the same schema as :func:`read_warc`.

    Scale shape: rows REPARTITION BY (warc_file, offset-range bucket)
    and sort by offset within the partition, so each task reads ITS
    byte range of a file in strictly-forward seeks (the one
    intentional shuffle here — it converts random record access into
    sequential reads; for a selectivity near 100% just use
    ``read_warc``).  ``task_bytes`` (round-14) sets the bucket width:
    a selection concentrated in ONE archive — the SURT-clustered
    "re-read this domain" case — splits into ~file_size/task_bytes
    parallel tasks instead of serializing onto one (r13 verdict item
    3); cross-file selections behave as before.  Each span is read
    independently: gzip-member spans gunzip in isolation (the CDX
    contract), plain-file spans re-parse directly, and seekable
    ``.warc.zst`` frame spans (round-15) decode through the capped
    zstd frame decoder — single-frame zst indexes (decompressed-stream
    spans, see cdx_records) still error loudly.

    ``opener`` (round-14): ``opener(path) -> file-like`` with
    ``seek``/``read``, pickled to executors; default
    :func:`.filesystem.open_path` (local, ``file:``, ``s3://``,
    ``gs://`` — seekable, so each span is one ranged read).  Inject
    any client wrapper for other stores; the span arithmetic and row
    assembly are reader-independent."""
    from pyspark.sql import functions as F

    if task_bytes < 1:
        raise ValueError("read_warc_selected: task_bytes must be >= 1")

    # ONE read per distinct span: multi-record members (whole-file
    # single-member .warc.gz is legal) share (offset, length) across
    # their CDX rows — group the requested identities per span so the
    # read dedupes AND exactly the requested records re-emit.
    # Identity resolution per row: record_id when present, else url
    # (collect_set drops NULLs, so a null-id row contributes its url
    # to the fallback set); _want_all marks a row with NEITHER, which
    # can only select the whole span.
    cols_avail = set(cdx_df.columns)
    rid_col = (
        F.col("record_id") if "record_id" in cols_avail
        else F.lit(None).cast("string")
    )
    url_col_ = (
        F.col("url") if "url" in cols_avail else F.lit(None).cast("string")
    )
    sel = (
        cdx_df.withColumn("_rid", rid_col)
        .withColumn("_url", url_col_)
        .groupBy("warc_file", "offset", "length")
        .agg(
            F.collect_set("_rid").alias("_want_ids"),
            F.collect_set(
                F.when(F.col("_rid").isNull(), F.col("_url"))
            ).alias("_want_urls"),
            F.max(
                F.col("_rid").isNull() & F.col("_url").isNull()
            ).alias("_want_all"),
        )
        # offset-range bucket: contiguous task_bytes slices of a file
        # land in the same task, so a one-archive selection fans out
        # over ~size/task_bytes tasks while keeping each task's reads
        # sequential (within a bucket offsets still sort ascending)
        .withColumn(
            "_bucket", F.floor(F.col("offset") / F.lit(int(task_bytes)))
        )
        .repartition(F.col("warc_file"), F.col("_bucket"))
        .sortWithinPartitions("warc_file", "_bucket", "offset")
    )
    open_fn = opener or open_path
    schema = _reader_schema(decode_text, headers)
    cols = schema.fieldNames()

    def fetch(it):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        pa_schema = to_arrow_schema(schema)
        cur_path = None
        fh = None
        rows = {c: [] for c in cols}
        pending = 0

        try:
            for batch in it:
                for fpath, off, length, want_ids, want_urls, want_all in zip(
                    *(batch.column(c).to_pylist() for c in (
                        "warc_file", "offset", "length",
                        "_want_ids", "_want_urls", "_want_all",
                    ))
                ):
                    local = str(fpath)
                    if local != cur_path:
                        if fh is not None:
                            fh.close()
                        fh = open_fn(local)
                        cur_path = local
                    fh.seek(int(off))
                    span = fh.read(int(length))
                    if span[:2] == _GZIP_MAGIC:
                        # through the CAPPED member iterator, not bare
                        # gzip.decompress — and the TOTAL across a
                        # multi-member span is capped too: external/
                        # converted indexes can point spans at bomb
                        # members, single or stacked (r14 review)
                        parts, total = [], 0
                        for _o, _l, m in _gunzip_members_from_chunks(
                            iter([span]), f"read_warc_selected({fpath})"
                        ):
                            total += len(m)
                            if total > _MAX_RECORD_BYTES:
                                raise ValueError(
                                    f"read_warc_selected({fpath}): span "
                                    f"at offset {off} inflates past the "
                                    f"{_MAX_RECORD_BYTES}-byte cap"
                                )
                            parts.append(m)
                        span = b"".join(parts)
                        del parts
                    elif _is_zstd(span):
                        # seekable .warc.zst span (round-15): one or
                        # more whole zstd frames — decode each through
                        # the capped frame decoder; skippable frames (the
                        # IIPC dictionary carrier) contribute no bytes.
                        # A decompressed-stream span that happens to
                        # start at offset 0 of a single-frame container
                        # ALSO begins with the zstd magic — convert the
                        # frame walk's STRUCTURAL failure into the
                        # re-index guidance (r16 advice fix; r17: typed
                        # _ZstdStructureError so a genuinely corrupt
                        # frame's decode/bomb-cap error propagates
                        # verbatim instead of being mislabeled)
                        try:
                            parts, total = [], 0
                            for (
                                _o2, _l2, kind, _did, _fcs,
                            ) in _zstd_frame_spans(
                                io.BytesIO(span),
                                f"read_warc_selected({fpath})",
                            ):
                                if kind != "data":
                                    continue
                                data = _zstd_decompress_frame(
                                    span[_o2:_o2 + _l2],
                                    f"read_warc_selected({fpath})",
                                )
                                total += len(data)
                                if total > _MAX_RECORD_BYTES:
                                    raise ValueError(
                                        f"read_warc_selected({fpath}): "
                                        f"span at offset {off} inflates "
                                        f"past the "
                                        f"{_MAX_RECORD_BYTES}-byte cap"
                                    )
                                parts.append(data)
                        except _ZstdStructureError as exc:
                            if local.endswith(".zst"):
                                raise ValueError(
                                    "read_warc_selected: this .warc.zst "
                                    "span did not decode as whole zstd "
                                    f"frames ({exc}) — if the index was "
                                    "built against the decompressed "
                                    "stream (single-frame container), "
                                    "re-index a seekable frame-per-"
                                    "record layout, pre-decompress, or "
                                    "use gz/plain containers"
                                ) from exc
                            raise
                        span = b"".join(parts)
                        del parts
                    elif local.endswith(".zst"):
                        raise ValueError(
                            "read_warc_selected: this .warc.zst span "
                            "indexes the decompressed stream (single-"
                            "frame container) — re-index a seekable "
                            "frame-per-record layout, pre-decompress, "
                            "or use gz/plain containers"
                        )
                    wanted_ids = set(want_ids)
                    wanted_urls = set(want_urls)
                    for _s, _e, rec in _record_spans(
                        span, f"read_warc_selected({fpath})"
                    ):
                        rid = rec["headers"].get("warc-record-id")
                        uri = rec["headers"].get("warc-target-uri")
                        picked = (
                            bool(want_all)
                            or (rid is not None and rid in wanted_ids)
                            or (uri is not None and uri in wanted_urls)
                        )
                        if not picked:
                            continue  # co-member record nobody asked for
                        pending += _append_record_row(
                            rows, fpath, rec, decode_text,
                            who=f"read_warc_selected({fpath})",
                            headers=headers,
                        )
                        if (
                            len(rows["body"]) >= _FLUSH_RECORDS
                            or pending >= _FLUSH_BYTES
                        ):
                            yield pa.RecordBatch.from_pydict(
                                rows, schema=pa_schema
                            )
                            rows = {c: [] for c in cols}
                            pending = 0
            yield pa.RecordBatch.from_pydict(rows, schema=pa_schema)
        finally:
            if fh is not None:
                fh.close()

    return sel.mapInArrow(fetch, schema)


def extract_warc(
    spark: SparkSession,
    cdx_df: DataFrame,
    out_dir: str,
    task_bytes: int = 64 << 20,
    opener=None,
    warcinfo: bool = False,
) -> dict:
    """BYTE-EXACT archive subsetting — the web-archive "extraction"
    operation (what warcio/pywb's extract does, distributed): copy the
    RAW container bytes of CDX-selected spans into a new
    member-per-record ``part-NNNNN.warc.gz`` archive, without ever
    decoding record payloads.  The pipeline shape it serves: index a
    100 TB crawl once (:func:`cdx_records` -> :func:`write_cdx`),
    then materialize any slice — one domain, one dedup cluster's
    keepers, one language — as a standalone archive every
    WARC-consuming tool can read, touching only the selected byte
    ranges.

    Byte fidelity per source container: ``.warc.gz`` member spans and
    seekable ``.warc.zst`` frame spans copy VERBATIM after
    transcoding-free validation (gz members re-land as-is — a
    concatenation of gzip members IS a legal .warc.gz; zst frames
    re-compress member-per-record gz so ONE output container serves
    mixed sources); plain-file record spans gzip into fresh members
    (record bytes exact, container changed — stated).  Selection is
    SPAN-granular: a multi-record gz member copies whole (the CDX
    span contract; per-record sub-selection is
    :func:`read_warc_selected`'s job).

    Scale shape: the same one-intentional-shuffle layout as
    :func:`read_warc_selected` — spans dedupe, repartition by
    (warc_file, offset-bucket) and sort, so each task reads its byte
    range in forward seeks and stages ONE output shard; the driver
    renames staged dot-tmps after the job (all-or-nothing: a died job
    leaves no visible shard) and returns a manifest dict
    ``{"files": n, "records_spans": n, "bytes": n}``.  ``opener`` is
    the READ seam (default :func:`.filesystem.open_path`); the sink is
    POSIX/NFS-scope like the zeek/WET writers.

    ``warcinfo=True`` prepends each shard with a deterministic
    ``warcinfo`` record member naming this engine (the Common Crawl /
    warcio shard convention — some consumers expect it first); default
    False keeps shards to exactly the copied spans."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from zeek_duckdb_spark.sources.staged import StagedDir

    if task_bytes < 1:
        raise ValueError("extract_warc: task_bytes must be >= 1")
    shards = StagedDir(out_dir, "extract_warc")
    sel = (
        cdx_df.select("warc_file", "offset", "length")
        .distinct()
        .withColumn(
            "_bucket", F.floor(F.col("offset") / F.lit(int(task_bytes)))
        )
        .repartition(F.col("warc_file"), F.col("_bucket"))
        .sortWithinPartitions("warc_file", "_bucket", "offset")
    )
    open_fn = opener or open_path
    run_tag = _uuid.uuid4().hex[:8]

    def fill(it, open_tmp, final):
        import gzip as _gzip

        fh = None
        cur_path = None
        spans = wrote = 0
        try:
            for pdf in it:
                for fpath, off, length in zip(
                    pdf["warc_file"], pdf["offset"], pdf["length"]
                ):
                    local = str(fpath)
                    if local != cur_path:
                        if fh is not None:
                            fh.close()
                        fh = open_fn(local)
                        cur_path = local
                    fh.seek(int(off))
                    span = fh.read(int(length))
                    who = f"extract_warc({fpath})"
                    if len(span) != int(length):
                        if local.endswith(".zst"):
                            raise ValueError(
                                f"{who}: span at {off} reads short "
                                f"({len(span)}/{length} bytes) — this "
                                ".warc.zst index addresses the "
                                "decompressed stream (single-frame "
                                "container): re-index a seekable "
                                "frame-per-record layout or "
                                "pre-decompress"
                            )
                        raise ValueError(
                            f"{who}: span at {off} truncated "
                            f"({len(span)}/{length} bytes)"
                        )
                    if span[:2] == _GZIP_MAGIC:
                        # validate via the capped member walk (one
                        # member inflated at a time — bounded); the
                        # COMPRESSED bytes then copy verbatim
                        end = 0
                        for _o, _l, _m in _gunzip_members_from_chunks(
                            iter([span]), who
                        ):
                            end = _o + _l
                        if end != len(span):
                            raise ValueError(
                                f"{who}: span at {off} is not "
                                "member-aligned — re-index the archive"
                            )
                        out_bytes = span
                    elif _is_zstd(span):
                        # seekable-zst frame span: decode through the
                        # capped frame decoder, re-land as one gz member per
                        # record so mixed sources share one container.
                        # Same decompressed-stream-span error
                        # conversion as read_warc_selected (r16; r17
                        # typed — structural walk failures only)
                        try:
                            parts, total = [], 0
                            for _o, _l, kind, _d, _f in _zstd_frame_spans(
                                io.BytesIO(span), who
                            ):
                                if kind != "data":
                                    continue
                                data = _zstd_decompress_frame(
                                    span[_o:_o + _l], who
                                )
                                total += len(data)
                                if total > _MAX_RECORD_BYTES:
                                    raise ValueError(
                                        f"{who}: span at {off} inflates "
                                        f"past the {_MAX_RECORD_BYTES}-"
                                        "byte cap"
                                    )
                                parts.append(data)
                        except _ZstdStructureError as exc:
                            if local.endswith(".zst"):
                                raise ValueError(
                                    f"{who}: this .warc.zst span did "
                                    "not decode as whole zstd frames "
                                    f"({exc}) — if the index was built "
                                    "against the decompressed stream "
                                    "(single-frame container), re-index "
                                    "a seekable layout or pre-decompress"
                                ) from exc
                            raise
                        out_bytes = _gzip.compress(b"".join(parts), mtime=0)
                    elif local.endswith(".zst"):
                        raise ValueError(
                            "extract_warc: this .warc.zst span indexes "
                            "the decompressed stream (single-frame "
                            "container) — re-index a seekable layout "
                            "or pre-decompress"
                        )
                    else:
                        # plain record span: exact record bytes into a
                        # fresh deterministic gz member (the walk is
                        # the loud not-a-record check).  A span may
                        # exclude the record's trailing CRLF pair (the
                        # span contract ends at the payload) — restore
                        # the spec framing
                        if not span.endswith(b"\r\n\r\n"):
                            span = span + b"\r\n\r\n"
                        for _ in _record_spans(span, who):
                            pass
                        out_bytes = _gzip.compress(span, mtime=0)
                    out = open_tmp()
                    if spans == 0 and warcinfo:
                        import hashlib

                        body = (
                            b"software: zeek-duckdb-spark "
                            b"extract_warc\r\nformat: WARC File "
                            b"Format 1.0\r\n"
                        )
                        rid = hashlib.sha1(
                            final.encode() + body
                        ).hexdigest()
                        info = _gzip.compress(encode_warc([(
                            {"WARC-Type": "warcinfo",
                             "WARC-Record-ID": f"<urn:sha1:{rid}>",
                             "WARC-Filename": final,
                             "Content-Type":
                                 "application/warc-fields"},
                            body,
                        )], compress=False), mtime=0)
                        out.write(info)
                        wrote += len(info)
                    out.write(out_bytes)
                    spans += 1
                    wrote += len(out_bytes)
        finally:
            if fh is not None:
                fh.close()
        return {"spans": spans, "bytes": wrote}

    def stage(it):
        import pandas as pd

        m = shards.stage(lambda pid: f"part-{pid:05d}.warc.gz",
                         lambda p: open(p, "wb"),
                         lambda open_tmp, final: fill(it, open_tmp, final),
                         tag=f"{run_tag}-")
        if m.tmp is None:
            return iter(())
        return iter([pd.DataFrame(
            {"tmp": [m.tmp], "final": [m.final],
             "spans": [m.spans], "bytes": [m.bytes]}
        )])

    manifest = sel.mapInPandas(
        stage, "tmp string, final string, spans long, bytes long"
    ).collect()  # one row per non-empty task — bounded, the sink commit
    shards.publish(manifest)
    return {
        "files": len(manifest),
        "record_spans": int(sum(m.spans for m in manifest)),
        "bytes": int(sum(m.bytes for m in manifest)),
    }


_REVISIT_MIME = "warc/revisit"


def resolve_revisits(
    cdx_df: DataFrame,
    on_unmatched: str = "drop",
    cross_url: bool = True,
) -> DataFrame:
    """Resolve WARC ``revisit`` records to the capture that STORED the
    content — the web-archive dedup join (ISO 28500 §6.7.2
    identical-payload-digest profile; what pywb's self-redundant
    lookup and Common Crawl consumers do before reading payloads).  A
    crawler that re-fetches an unchanged page writes a tiny revisit
    record carrying only the original payload's digest; a corpus read
    that ignores them silently loses every re-crawled page, and one
    that reads them gets empty bodies.

    Input: a :func:`cdx_records` frame indexed with revisits included
    (``record_types=('response', 'revisit')``) — revisit rows carry
    ``mime='warc/revisit'`` and the ORIGINAL's digest (the external
    CDX convention; use ``digest='stored'`` so header digests and
    computed response digests share one convention).  Output: the same
    schema; non-revisit rows pass through; each resolved revisit keeps
    its CAPTURE identity (urlkey, cdx_ts, url, http_status) while its
    content fields (mime, length, offset, warc_file, record_id) become
    the matched original's — so :func:`read_warc_selected` /
    :func:`extract_warc` materialize the real payload at the revisit's
    place in history.

    Match preference, per revisit: (1) same urlkey, LATEST original at
    cdx_ts <= the revisit's (ties: the original wins, then record_id);
    (2) same urlkey, earliest original overall (archives are not
    written in time order across segments); (3) ``cross_url=True``:
    earliest original anywhere with that digest (the spec's
    WARC-Refers-To-Target-URI recommendation makes same-URL the
    common case, but cross-URL duplicates are legal).  ``on_unmatched``:
    ``'drop'`` (default — the training-corpus posture: no span, no
    row), ``'keep'`` (pass the revisit row through untouched, still
    ``warc/revisit``-marked), ``'error'`` (fail the JOB at execution
    time naming the first unmatched urlkey).

    Scale shape (the 100 TB posture): rank-1/2 resolve in ONE window
    pass over rows shuffled by (digest, urlkey) — an as-of join with
    NO candidate explosion: a hyper-duplicated digest (the empty-page
    digest a million captures share) costs a sort of its group, never
    a quadratic join.  The cross-url fallback pre-aggregates originals
    to ONE row per digest before its equi-join, so it cannot explode
    either; it joins only the (typically tiny) still-unmatched rest.
    No driver-side materialization; no UDF."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if on_unmatched not in ("drop", "keep", "error"):
        raise ValueError(
            "resolve_revisits: on_unmatched must be 'drop', 'keep' or "
            "'error'"
        )
    out_cols = _CDX_SCHEMA.fieldNames()
    missing = [c for c in out_cols if c not in cdx_df.columns]
    if missing:
        raise ValueError(
            f"resolve_revisits: input is missing CDX columns {missing} "
            "— pass a cdx_records()/read_cdx()/read_cdxj() frame"
        )

    # null-SAFE test: a NULL mime is an ordinary (non-revisit) row —
    # plain == would null out the passthrough filter and silently drop
    # every null-mime original (caught in the r15 plan audit)
    is_rev = F.col("mime").eqNullSafe(F.lit(_REVISIT_MIME))
    # the fields a match supplies (digest is the join key — same on
    # both sides by construction)
    span = F.struct(
        F.col("mime").alias("mime"),
        F.col("length").alias("length"),
        F.col("offset").alias("offset"),
        F.col("warc_file").alias("warc_file"),
        F.col("record_id").alias("record_id"),
    )
    tagged = cdx_df.select(*out_cols).withColumn(
        "__rev", is_rev.cast("int")
    ).withColumn(
        "__orig",
        F.when(~is_rev & F.col("digest").isNotNull(), span),
    )
    # original-before-revisit at equal cdx_ts: __rev breaks the tie so
    # the running last() sees it; record_id makes the order total
    order = [
        F.coalesce(F.col("cdx_ts"), F.lit("")).asc(),
        F.col("__rev").asc(),
        F.coalesce(F.col("record_id"), F.lit("")).asc(),
    ]
    w_run = (
        Window.partitionBy("digest", "urlkey")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = (
        Window.partitionBy("digest", "urlkey")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    matched = F.coalesce(
        F.last("__orig", ignorenulls=True).over(w_run),   # rank 1
        F.first("__orig", ignorenulls=True).over(w_all),  # rank 2
    )
    wdf = tagged.withColumn(
        "__m", F.when(F.col("__rev") == 1, matched)
    )
    passthrough = wdf.filter(F.col("__rev") == 0).select(*out_cols)
    rev = wdf.filter(F.col("__rev") == 1)

    if cross_url:
        # rank 3: ONE candidate per digest, aggregated BEFORE the join
        best_any = (
            tagged.filter(
                (F.col("__rev") == 0) & F.col("__orig").isNotNull()
            )
            .groupBy("digest")
            .agg(
                F.min(
                    F.struct(
                        F.coalesce(F.col("cdx_ts"), F.lit("")).alias("ts"),
                        F.coalesce(F.col("record_id"), F.lit("")).alias(
                            "rid"
                        ),
                        F.col("__orig").alias("o"),
                    )
                ).alias("__b")
            )
            .select("digest", F.col("__b.o").alias("__m2"))
        )
        unres = rev.filter(F.col("__m").isNull()).drop("__m").join(
            best_any, "digest", "left"
        ).withColumnRenamed("__m2", "__m")
        rev = rev.filter(F.col("__m").isNotNull()).unionByName(
            unres.select(*rev.columns)
        )

    resolved = rev.filter(F.col("__m").isNotNull()).select(
        "urlkey", "cdx_ts", "url",
        F.col("__m.record_id").alias("record_id"),
        F.col("__m.mime").alias("mime"),
        "http_status", "digest",
        F.col("__m.length").alias("length"),
        F.col("__m.offset").alias("offset"),
        F.col("__m.warc_file").alias("warc_file"),
    ).select(*out_cols)

    unmatched = rev.filter(F.col("__m").isNull())
    if on_unmatched == "drop":
        extra = None
    elif on_unmatched == "keep":
        extra = unmatched.select(*out_cols)
    else:  # 'error' — lazy: the job fails at execution, not at plan
        boom = F.raise_error(
            F.concat(
                F.lit(
                    "resolve_revisits: no original found for revisit "
                    "urlkey "
                ),
                F.coalesce(F.col("urlkey"), F.lit("<null>")),
                F.lit(" digest "),
                F.coalesce(F.col("digest"), F.lit("<null>")),
            )
        ).cast("string")
        extra = unmatched.select(
            *(boom.alias(c) if c == "urlkey" else F.col(c)
              for c in out_cols)
        )

    out = passthrough.unionByName(resolved)
    if extra is not None:
        out = out.unionByName(extra)
    return out


_REVISIT_PROFILE = (
    "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"
)


def dedup_to_revisits(df: DataFrame) -> DataFrame:
    """The INVERSE of :func:`resolve_revisits` — write-time archive
    deduplication, what a wayback-style crawler's dedup module does
    (ISO 28500 §6.7.2): among ``response`` rows with identical payload
    bytes, the EARLIEST capture keeps its content and every later one
    becomes a ``revisit`` row — empty body, ``WARC-Profile``
    identical-payload-digest, ``WARC-Payload-Digest`` naming the
    shared content, ``WARC-Refers-To``(+Target-URI/-Date) naming the
    original.  Feed :func:`write_warc`: storage collapses to one copy
    per distinct payload while every capture stays in the record; the
    output re-indexes with :func:`cdx_records` and
    :func:`resolve_revisits` restores the full corpus (the round trip
    is pinned).

    Input/output: the :func:`read_warc` schema (``headers=True`` maps
    carried through and extended when present).  Non-response rows,
    NULL bodies and the first capture of each payload pass through
    unchanged; duplicate detection is over the exact body bytes
    (decoded entities, this engine's digest convention — quarantined
    rows dedup over their raw bytes, which is still exact).

    Scale shape: the payload digest is computed ENTIRELY in the JVM —
    ``sha1(body)`` natively, then the base32 re-encode as pure string
    expressions (RFC 4648 base32 of the 20-byte digest == ``conv(hex
    chunk, 16, 32)`` per 5-byte group under a digit-alphabet
    ``translate``; 4 chunks of 40 bits each stay inside conv's 64-bit
    arithmetic) — bodies never cross the JVM↔Python boundary and the
    plan has no Python node at all (r16; the r15 shape shipped every
    response body through Arrow to a pandas sha1).  Then ONE window
    pass over rows shuffled by (digest, salt, warc_type) — rank and
    first-capture identity in the same frame, no self-join, no
    explosion: a million identical pages cost a group sort.  The salt
    key is 0 for every digest-bearing row (grouping unchanged) and a
    deterministic per-row hash for NULL-digest passthrough rows, whose
    window values are discarded anyway — without it every
    request/metadata/warcinfo row of a type lands in ONE window
    partition and a 100 TB ``record_types='*'`` pass sorts that whole
    remainder on a single task.  The maps edit is JVM-side
    (``map_filter`` + ``map_concat``)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    need = [
        "record_id", "warc_type", "target_uri", "warc_date",
        "http_status", "content_type", "content_encoding", "body",
    ]
    missing = [c for c in need if c not in df.columns]
    if missing:
        raise ValueError(
            f"dedup_to_revisits: input is missing {missing} — pass a "
            "read_warc() frame"
        )
    cols = df.columns
    has_wh = "warc_headers" in cols

    def _b32sha1(col):
        """RFC 4648 base32 of the raw sha1 digest, in JVM expressions:
        sha1() yields 40 hex chars = 4 chunks of 10 (40 bits — inside
        conv's 64-bit math); conv(chunk, 16, 32) emits the SAME 5-bit
        groups base32 does, in the digit alphabet 0-9A-V, which maps
        1:1 onto A-Z2-7 via translate.  20 bytes = exactly 32 base32
        chars, no padding.  Bit-equality with base64.b32encode(sha1())
        is pinned by tests/test_dedup_to_revisits.py (digest asserts)
        and a dedicated property test."""
        hx = F.sha1(col)
        chunks = [
            F.lpad(
                F.conv(F.substring(hx, 1 + 10 * i, 10), 16, 32), 8, "0"
            )
            for i in range(4)
        ]
        return F.translate(
            F.concat(*chunks),
            "0123456789ABCDEFGHIJKLMNOPQRSTUV",
            "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567",
        )

    is_resp = F.col("warc_type") == F.lit("response")
    gated = F.when(is_resp & F.col("body").isNotNull(), F.col("body"))
    d = df.withColumn("__dg", _b32sha1(gated))

    order = [
        F.coalesce(F.col("warc_date"), F.lit("")).asc(),
        F.coalesce(F.col("record_id"), F.lit("")).asc(),
    ]
    # NULL-digest rows never use their window values (is_dup requires a
    # digest), so spread them across deterministic salt buckets instead
    # of letting a whole record type pile into one sorted partition;
    # digest-bearing rows keep salt=0 and group exactly as before
    salt = F.when(
        F.col("__dg").isNotNull(), F.lit(0)
    ).otherwise(
        F.pmod(
            F.xxhash64(
                F.col("record_id"), F.col("target_uri"), F.col("warc_date")
            ),
            F.lit(65536),
        )
    )
    w = Window.partitionBy("__dg", salt, "warc_type").orderBy(*order)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d = d.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__first",
        F.first(
            F.struct(
                F.col("record_id").alias("rid"),
                F.col("target_uri").alias("uri"),
                F.col("warc_date").alias("dt"),
            )
        ).over(w_run),
    )
    is_dup = F.col("__dg").isNotNull() & (F.col("__rn") > 1)

    # the revisit header entries, null-valued ones dropped (a NULL
    # header value must not serialize as the string 'None')
    entries = F.filter(
        F.array(
            F.struct(
                F.lit("warc-profile").alias("key"),
                F.lit(_REVISIT_PROFILE).alias("value"),
            ),
            F.struct(
                F.lit("warc-payload-digest").alias("key"),
                F.concat(F.lit("sha1:"), F.col("__dg")).alias("value"),
            ),
            F.struct(
                F.lit("warc-refers-to").alias("key"),
                F.col("__first.rid").alias("value"),
            ),
            F.struct(
                F.lit("warc-refers-to-target-uri").alias("key"),
                F.col("__first.uri").alias("value"),
            ),
            F.struct(
                F.lit("warc-refers-to-date").alias("key"),
                F.col("__first.dt").alias("value"),
            ),
        ),
        lambda x: x.value.isNotNull(),
    )
    base_map = (
        F.col("warc_headers") if has_wh
        else F.lit(None).cast("map<string,string>")
    )
    ours = (
        "warc-profile", "warc-payload-digest", "warc-refers-to",
        "warc-refers-to-target-uri", "warc-refers-to-date",
        "warc-block-digest", "content-length",
    )
    cleaned = F.map_filter(
        F.coalesce(base_map, F.expr("map()")),
        lambda k, _v: ~F.lower(k).isin(*ours),
    )
    rev_map = F.map_concat(cleaned, F.map_from_entries(entries))

    out_exprs = []
    for c in cols:
        if c == "warc_type":
            e = F.when(is_dup, F.lit("revisit")).otherwise(F.col(c))
        elif c == "body":
            e = F.when(is_dup, F.lit(b"")).otherwise(F.col(c))
        elif c in ("content_encoding", "body_text"):
            # the emptied body has no encoding residual and no text —
            # a revisit row keeping its pre-dedup body_text would lie
            e = F.when(is_dup, F.lit(None).cast("string")).otherwise(
                F.col(c)
            )
        elif c == "warc_headers":
            e = F.when(is_dup, rev_map).otherwise(F.col(c))
        else:
            e = F.col(c)
        out_exprs.append(e.alias(c))
    if not has_wh:
        # no maps in the input: the revisit headers must still exist
        # for write_warc to land them — the output grows the column
        # (NULL on every untouched row; stated)
        out_exprs.append(F.when(is_dup, rev_map).alias("warc_headers"))
    return d.select(*out_exprs)


def write_cdx(
    cdx_df: DataFrame,
    path: str,
    pfx_mod: int = 256,
    mode: str = "append",
) -> None:
    """Land a CDX index PARTITIONED for pruned lookups — the
    band-index pattern (``dedup.write_band_index``) applied to the
    web-archive index: the directory key is ``pfx = pmod(xxhash64
    (surt host part), pfx_mod)``, so the standing "which spans hold
    domain X" probe (:func:`read_cdx` -> :func:`read_warc_selected`)
    reads ONE directory instead of scanning the full index — the role
    Common Crawl's cluster.idx plays for its sorted CDX shards.

    Why hash-of-host and not a raw urlkey prefix: SURT keys lead with
    the TLD (``com,``...), so fixed-length prefixes collapse most of
    the web into one directory; the host hash is uniform by
    construction and bounded at ``pfx_mod`` directories.  Rows sort by
    (urlkey, cdx_ts) within each partition file — the CDX-file order,
    which also tightens parquet row-group stats for within-partition
    skipping.  ``mode='append'`` is the growth shape: each crawl's
    index appends into the same directories; compact with the band-
    index maintenance pattern when small files accumulate.

    ``pfx_mod`` is part of the INDEX FORMAT — probes must pass the
    same value (exactly like the band-index parameters)."""
    from pyspark.sql import functions as F

    if pfx_mod < 1:
        raise ValueError("write_cdx: pfx_mod must be >= 1")
    if mode not in ("append", "overwrite"):
        raise ValueError("write_cdx: mode must be 'append' or 'overwrite'")
    (
        cdx_df.withColumn(
            "pfx",
            F.pmod(
                F.xxhash64(F.substring_index(F.col("urlkey"), ")", 1)),
                F.lit(pfx_mod),
            ),
        )
        # co-locate each pfx into one task before partitionBy (the
        # write_band_index lesson: without it every task writes into
        # every directory — tasks x pfx_mod tiny files)
        .repartition(F.col("pfx"))
        .sortWithinPartitions("pfx", "urlkey", "cdx_ts")
        .write.mode(mode)
        .partitionBy("pfx")
        .parquet(path)
    )


def read_cdx(
    spark: SparkSession,
    path: str,
    urlkey_prefix=None,
    pfx_mod: int = 256,
) -> DataFrame:
    """Read a :func:`write_cdx` landing, PARTITION-PRUNED to the host
    directories when ``urlkey_prefix`` is given — ONE prefix string or
    a LIST of them (the probe shape: ``read_cdx(spark, idx,
    ["com,example)/", "org,site)"])`` -> ``read_warc_selected``; the
    list form is the batch-of-domains lookup, pruned to <= len(list)
    directories).  Each prefix must reach host granularity — include
    the ``)`` (``"com,example)"`` or deeper) so the host part is
    complete; if ANY prefix is shallower the probe falls back to the
    full scan with the same filter (correct, just unpruned).
    ``pfx_mod`` must match the write."""
    import functools
    import operator

    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    if urlkey_prefix is None:
        return df.drop("pfx")
    prefixes = (
        [urlkey_prefix]
        if isinstance(urlkey_prefix, str)
        else list(urlkey_prefix)
    )
    if not prefixes:
        return df.filter(F.lit(False)).drop("pfx")
    filtered = df.filter(
        functools.reduce(
            operator.or_,
            [F.col("urlkey").startswith(p) for p in prefixes],
        )
    )
    if any(")" not in p for p in prefixes):
        return filtered.drop("pfx")  # a host part incomplete: full scan
    hosts = sorted({p.split(")", 1)[0] for p in prefixes})
    # resolve the directory keys to LITERALS on the driver (one tiny
    # job), so Catalyst prunes against the file index at planning time
    vals = [
        int(r.p)
        for r in spark.createDataFrame([(h,) for h in hosts], "h string")
        .select(F.pmod(F.xxhash64(F.col("h")), F.lit(pfx_mod)).alias("p"))
        .collect()
    ]
    return filtered.filter(F.col("pfx").isin(vals)).drop("pfx")


def compact_cdx(
    spark: SparkSession, path: str, target_file_bytes: int = 128 << 20
) -> dict:
    """Small-file maintenance for a :func:`write_cdx` landing — the
    standing job of the daily index loop: every
    ``cdx_records_stream -> write_cdx(mode='append')`` micro-batch
    adds one file per touched ``pfx`` directory, so after a year each
    pruned probe pays ~365 file opens per directory, metadata-bound
    long before IO-bound.  Delegates to
    ``sources.sink.compact_landing`` (per-partition file targets,
    atomic swap) with the ``pfx=*`` layout preserved — `read_cdx`
    pruning is unchanged and later appends keep landing in the same
    directories, and the within-file (urlkey, cdx_ts) sort is
    RE-ESTABLISHED in the rewrite (``sort_cols`` — the row-group-stats
    skipping ``write_cdx`` set up survives compaction).  Returns the
    stats dict."""
    from zeek_duckdb_spark.sources.sink import compact_landing

    return compact_landing(
        spark, path, target_file_bytes, partition_col=["pfx"],
        sort_cols=["urlkey", "cdx_ts"],
    )


def write_wet(
    df: DataFrame,
    path: str,
    url_col: str = "url",
    date_col: str = "warc_date",
    text_col: str = "text",
    mode: str = "overwrite",
) -> None:
    """WET export — the Common Crawl derived-text artifact: write
    extracted page text as WARC ``conversion`` records (WARC-Type:
    conversion, Content-Type: text/plain, WARC-Target-URI/WARC-Date
    from the row, a DETERMINISTIC sha1-urn record id so re-exports are
    byte-stable), one member-per-record ``part-NNNNN.warc.gz`` shard
    per partition.  The closing arc of the crawl chain: ``read_warc ->
    extract_text_html -> clean_corpus -> write_wet`` re-lands cleaned
    text in the same container the raw crawl arrived in, so any
    WARC-consuming tool (including :func:`read_warc` itself — the
    round-trip is pinned) can read the corpus.

    Scale shape: the same per-partition staged sink as ``write_zeek``
    (sources/staged.py; retried attempts can't interleave) — control
    ``files via df.repartition(n)``; rows with NULL url or text are
    skipped (nothing to index a record by).  ``mode``: 'overwrite'
    clears prior ``part-*`` shards, 'error' refuses a non-empty dir."""
    if mode not in ("overwrite", "error"):
        raise ValueError("write_wet: mode must be 'overwrite' or 'error'")
    from pyspark.sql import functions as F

    from zeek_duckdb_spark.sources.datasource import WetDataSource

    register_once(df.sparkSession, WetDataSource)
    out = df.select(
        F.col(url_col).cast("string").alias("url"),
        F.col(date_col).cast("string").alias("warc_date"),
        F.col(text_col).cast("string").alias("text"),
    )
    (
        out.write.format("wet")
        .mode("overwrite" if mode == "overwrite" else "append")
        .save(path)
    )


def wet_record_bytes(url, wdate, text) -> "bytes | None":
    """ONE (url, warc_date, text) row -> one gzip-member WET
    conversion record (None for NULL url/text — nothing to index a
    record by).  Deterministic: the record id is a sha1 urn of
    (url, date, text).  The streaming unit of :func:`write_wet`'s
    sink: shards are written record-by-record, never materializing a
    partition's text in memory."""
    import hashlib

    if url is None or text is None:
        return None
    payload = text.encode("utf-8")
    rid = hashlib.sha1(
        (url + "\x00" + (wdate or "") + "\x00").encode("utf-8") + payload
    ).hexdigest()
    headers = {
        "WARC-Type": "conversion",
        "WARC-Record-ID": f"<urn:sha1:{rid}>",
        "WARC-Target-URI": url,
        "Content-Type": "text/plain",
    }
    if wdate:
        headers["WARC-Date"] = wdate
    return encode_warc([(headers, payload)], compress=True)


def wet_shard_bytes(rows) -> bytes:
    """(url, warc_date, text) tuples -> one member-per-record WET
    ``.warc.gz`` shard (test/custom-sink convenience over
    :func:`wet_record_bytes`; the Spark sink streams the records
    instead of joining them)."""
    return b"".join(
        m for m in (wet_record_bytes(*r) for r in rows) if m is not None
    )


def wat_records(df: DataFrame, links: bool = True) -> DataFrame:
    """Build WAT metadata rows from a ``read_warc(..., headers=True)``
    frame — the Common Crawl derived-metadata artifact (WARC/WET/WAT
    triple): per record, a JSON envelope with the WARC header map, the
    parsed HTTP header map + status + entity length, and (``links=``)
    the harvested ``a[href]`` targets of HTML pages.  Returns
    (url, warc_date, refers_to, wat) — feed :func:`write_wat` to land
    it as WARC ``metadata`` records external WAT consumers read.

    Envelope (a documented SUBSET of Common Crawl's, same shape)::

        {"Envelope": {"Format": "WARC",
                      "WARC-Header-Metadata": {...lowercase keys...},
                      "Payload-Metadata": {
                        "Actual-Content-Type": ...,
                        "HTTP-Response-Metadata": {
                          "Headers": {...}, "Status-Code": ...,
                          "Entity-Length": ...,
                          "HTML-Metadata": {"Links":
                            [{"path": "A@/href", "url": ...}, ...]}}}},
         "Container": {"Filename": ...}}

    Deviations, stated: header keys are lowercase (the parser's
    canonical form; CC preserves wire case), duplicate HTTP fields
    combine with ", ", and no Gzip-Metadata/offset container fields
    (span-free reader rows).  NULL branches drop from the JSON
    (``ignoreNullFields``), so non-HTTP records carry no
    HTTP-Response-Metadata and non-HTML pages no HTML-Metadata.

    Scale shape: the envelope is ONE native ``to_json`` over built-in
    expressions — zero shuffle, zero Python for the default columns;
    only link harvesting (``links=True``) runs an Arrow-batched
    pandas_udf, gated to rows whose content_type says text/html."""
    from pyspark.sql import functions as F

    need = ("warc_headers", "http_headers")
    missing = [c for c in need if c not in df.columns]
    if missing:
        raise ValueError(
            f"wat_records: input is missing {missing} — read with "
            "read_warc(..., headers=True)"
        )

    is_html = F.lower(F.coalesce(F.col("content_type"), F.lit(""))).contains(
        "text/html"
    )
    if links:
        import pandas as _pd  # noqa: F401

        @F.pandas_udf(
            "array<struct<path:string,url:string>>"
        )
        def _links(body: pd.Series, ctype: pd.Series) -> pd.Series:
            from zeek_duckdb_spark.operators.htmlops import extract_links

            out = []
            for raw, ct in zip(body, ctype):
                if raw is None:
                    out.append(None)
                    continue
                try:
                    hrefs = extract_links(
                        _charset_decode(bytes(raw), ct)
                    )
                except Exception:
                    hrefs = []
                out.append([("A@/href", h) for h in hrefs] or None)
            return pd.Series(out, dtype="object")

        # gate at the INPUT: a Python UDF inside when() is still
        # extracted to a projection that runs on every row, so null
        # the body for non-HTML/quarantined rows instead — the UDF
        # sees None and skips
        gated_body = F.when(
            is_html & F.col("content_encoding").isNull(), F.col("body")
        )
        links_col = _links(gated_body, F.col("content_type"))
        html_meta = F.when(
            links_col.isNotNull(), F.struct(links_col.alias("Links"))
        )
    else:
        html_meta = F.lit(None).cast(
            "struct<Links:array<struct<path:string,url:string>>>"
        )

    http_meta = F.when(
        F.col("http_headers").isNotNull(),
        F.struct(
            F.col("http_headers").alias("Headers"),
            F.col("http_status").alias("Status-Code"),
            F.length(F.col("body")).alias("Entity-Length"),
            html_meta.alias("HTML-Metadata"),
        ),
    )
    envelope = F.struct(
        F.struct(
            F.lit("WARC").alias("Format"),
            F.col("warc_headers").alias("WARC-Header-Metadata"),
            F.struct(
                F.col("content_type").alias("Actual-Content-Type"),
                http_meta.alias("HTTP-Response-Metadata"),
            ).alias("Payload-Metadata"),
        ).alias("Envelope"),
        F.struct(F.col("warc_file").alias("Filename")).alias("Container"),
    )
    return df.select(
        F.col("target_uri").alias("url"),
        F.col("warc_date").alias("warc_date"),
        F.col("record_id").alias("refers_to"),
        F.to_json(envelope, {"ignoreNullFields": "true"}).alias("wat"),
    )


def wat_record_bytes(url, wdate, refers_to, wat) -> "bytes | None":
    """ONE (url, warc_date, refers_to, wat_json) row -> one gzip-member
    WARC ``metadata`` record (None for NULL wat — nothing to carry).
    Deterministic sha1-urn record id, same convention as
    :func:`wet_record_bytes`."""
    import hashlib

    if wat is None:
        return None
    payload = wat.encode("utf-8")
    rid = hashlib.sha1(
        ((url or "") + "\x00" + (wdate or "") + "\x00").encode("utf-8")
        + payload
    ).hexdigest()
    headers = {
        "WARC-Type": "metadata",
        "WARC-Record-ID": f"<urn:sha1:{rid}>",
        "Content-Type": "application/json",
    }
    if url:
        headers["WARC-Target-URI"] = url
    if wdate:
        headers["WARC-Date"] = wdate
    if refers_to:
        headers["WARC-Refers-To"] = refers_to
    return encode_warc([(headers, payload)], compress=True)


def write_wat(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
) -> None:
    """WAT export: land a :func:`wat_records` frame (or any
    (url, warc_date, refers_to, wat) frame) as member-per-record
    ``part-NNNNN.warc.gz`` shards of WARC ``metadata`` records —
    ``read_warc(path, record_types=('metadata',))`` round-trips it,
    and external WAT consumers read the same container Common Crawl
    ships.  Same staged all-or-nothing per-partition sink as
    :func:`write_wet` (control shard count via ``df.repartition(n)``);
    rows with NULL wat are skipped."""
    if mode not in ("overwrite", "error"):
        raise ValueError("write_wat: mode must be 'overwrite' or 'error'")
    from pyspark.sql import functions as F

    from zeek_duckdb_spark.sources.datasource import WatDataSource

    register_once(df.sparkSession, WatDataSource)
    out = df.select(
        F.col("url").cast("string").alias("url"),
        F.col("warc_date").cast("string").alias("warc_date"),
        F.col("refers_to").cast("string").alias("refers_to"),
        F.col("wat").cast("string").alias("wat"),
    )
    (
        out.write.format("wat")
        .mode("overwrite" if mode == "overwrite" else "append")
        .save(path)
    )


def _warc_case(k: str) -> str:
    """Canonical WARC/HTTP header casing from the parser's lowercase
    form: ``warc-target-uri`` -> ``WARC-Target-URI`` (spec headers are
    case-insensitive; canonical casing keeps external tools and humans
    comfortable)."""
    special = {"warc": "WARC", "id": "ID", "uri": "URI", "ip": "IP"}
    return "-".join(
        special.get(p, p.capitalize()) for p in k.split("-")
    )


def warc_record_bytes_out(
    url, wdate, record_id, wtype, status, ctype, cenc, body,
    warc_headers, http_headers, compress="gz",
) -> "bytes | None":
    """ONE reader-schema row -> one WARC record's container bytes (a
    gzip member, a zstd frame, or plain) — the streaming unit of
    :func:`write_warc`.  None for NULL body (nothing to land).

    HTTP reconstruction: when ``status`` is present the payload gets a
    rebuilt head — the ``http_headers`` map's fields in order (reason
    phrase is not preserved; stated), with Content-Length recomputed
    from the body and, for DECODED rows (``cenc`` NULL),
    Transfer-Encoding/Content-Encoding dropped so the record stays
    self-consistent (the body IS the decoded entity).  Quarantined
    rows (``cenc`` non-NULL) keep those fields verbatim — their body
    kept the raw still-encoded bytes, so the head must keep saying so.
    No map + no ``ctype`` -> a minimal valid head.

    WARC headers: the ``warc_headers`` map (canonical casing restored)
    with Content-Length / WARC-Block-Digest dropped (recomputed /
    stale after decode) and WARC-Payload-Digest recomputed in the
    stored convention (sha1-base32 of the bytes after the head — the
    ``cdx_records(digest='stored')`` cross-match); the explicit
    columns override map entries for identity fields.  EXCEPTION:
    ``revisit`` records KEEP the map's WARC-Payload-Digest — it names
    the ORIGINAL payload's digest (the record's whole point; its own
    payload is just the re-fetch head) and must not be replaced by a
    hash of the empty body.  Without a map, a minimal conformant
    header set synthesizes (deterministic sha1 urn when ``record_id``
    is NULL)."""
    import base64
    import hashlib

    if body is None:
        return None
    body = bytes(body)
    wtype = wtype or "response"

    if status is not None:
        head = [f"HTTP/1.1 {int(status)} OK"]
        skip = {"content-length"}
        if cenc is None:
            skip |= {"transfer-encoding", "content-encoding"}
        kept_te = False
        if http_headers:
            for k, v in http_headers.items():
                if k.lower() in skip:
                    continue
                if k.lower() == "transfer-encoding":
                    kept_te = True
                head.append(f"{_warc_case(k)}: {v}")
        elif ctype is not None:
            head.append(f"Content-Type: {ctype}")
        # a head that keeps Transfer-Encoding (quarantined rows keep it
        # verbatim) must NOT also carry Content-Length — RFC 9112 §6.3
        # forbids the pair and strict replayers reject or mis-frame it
        # (r16, advice fix); the WARC record's own Content-Length still
        # frames the block
        if not kept_te:
            head.append(f"Content-Length: {len(body)}")
        payload = (
            "\r\n".join(head).encode("latin-1") + b"\r\n\r\n" + body
        )
        rec_ctype = "application/http; msgtype=response"
    else:
        payload = body
        rec_ctype = ctype

    digest = base64.b32encode(
        hashlib.sha1(_stored_payload(payload)).digest()
    ).decode()

    headers: dict = {}
    if warc_headers:
        for k, v in warc_headers.items():
            lk = k.lower()
            if lk in ("content-length", "warc-block-digest"):
                continue
            if lk == "warc-payload-digest" and wtype != "revisit":
                continue  # stale after decode; recomputed below
            headers[_warc_case(lk)] = v
    headers["WARC-Type"] = wtype
    if record_id:
        headers["WARC-Record-ID"] = record_id
    elif "WARC-Record-ID" not in headers:
        rid = hashlib.sha1(
            ((url or "") + "\x00" + (wdate or "") + "\x00").encode()
            + payload
        ).hexdigest()
        headers["WARC-Record-ID"] = f"<urn:sha1:{rid}>"
    if url:
        headers["WARC-Target-URI"] = url
    if wdate:
        headers["WARC-Date"] = wdate
    if rec_ctype:
        headers["Content-Type"] = rec_ctype
    if not (wtype == "revisit" and "WARC-Payload-Digest" in headers):
        headers["WARC-Payload-Digest"] = f"sha1:{digest}"
    return encode_warc([(headers, payload)], compress=compress)


def write_warc(
    df: DataFrame,
    path: str,
    compress: "str | bool" = "gz",
    mode: str = "overwrite",
) -> None:
    """General WARC export — the write half of :func:`read_warc`: land
    reader-schema rows (any subset of the columns; ``body`` required,
    ``headers=True`` maps used when present for faithful head/header
    reconstruction) as member-per-record WARC shards.  ``compress``:
    ``'gz'`` (the crawl-standard layout), ``'zst'`` (one frame per
    record — the IIPC SEEKABLE layout, so ``cdx_records`` indexes the
    output's compressed frame spans directly), or ``False`` (plain).

    Closes the container round trip: ``read_warc(headers=True)`` ->
    transform/filter -> ``write_warc`` re-lands a derived archive any
    WARC consumer (including this reader, the CDX ring and
    ``extract_warc``) can use; re-exports are byte-stable
    (deterministic ids, mtime=0 members).  Reconstruction semantics
    (reason phrase, decoded-entity head rewriting, digest recompute):
    see :func:`warc_record_bytes_out`.  Same staged all-or-nothing
    per-partition sink as WET/WAT; control shard count via
    ``df.repartition(n)``."""
    if compress is True:
        compress = "gz"
    if compress not in ("gz", "zst", False):
        raise ValueError("write_warc: compress must be 'gz', 'zst' or False")
    if mode not in ("overwrite", "error"):
        raise ValueError("write_warc: mode must be 'overwrite' or 'error'")
    from pyspark.sql import functions as F

    from zeek_duckdb_spark.sources.datasource import (
        _WARCOUT_COLS,
        WarcOutDataSource,
    )

    if "body" not in df.columns:
        raise ValueError("write_warc: input needs a body binary column")
    cols = set(df.columns)
    alias = {"url": "target_uri"}  # reader schema names target_uri
    sel = []
    for c in _WARCOUT_COLS:
        src = c if c in cols else alias.get(c)
        src = src if src in cols else None
        typ = (
            "binary" if c == "body"
            else "int" if c == "http_status"
            else "map<string,string>" if c.endswith("_headers")
            else "string"
        )
        sel.append(
            (F.col(src) if src else F.lit(None)).cast(typ).alias(c)
        )
    register_once(df.sparkSession, WarcOutDataSource)
    (
        df.select(*sel)
        .write.format("warcout")
        .option("compress", "false" if compress is False else compress)
        .mode("overwrite" if mode == "overwrite" else "append")
        .save(path)
    )


def body_text_col(
    body=None, content_type=None
):
    """Charset-aware entity decode: ``body_text_col()`` -> a Column
    decoding the ``body`` bytes with the charset named in
    ``content_type`` (``text/html; charset=ISO-8859-1``), utf-8 when
    absent.  Crawl-reality policy, stated: undecodable BYTES become
    U+FFFD replacements and an unknown/garbage charset NAME falls back
    to utf-8-replace — a 100 TB ingest must not die on one page's
    lying header; route suspect pages out afterwards with the quality
    gates (mojibake scores terribly) rather than crashing the job.
    Zero shuffle, NULL body -> NULL text.

    Scale shape (r16): the dominant crawl case — a body that is VALID
    utf-8 under an absent/utf-8 charset header — decodes entirely in
    the JVM (``is_valid_utf8`` gate + ``decode(body, 'UTF-8')``, both
    lazy under the CASE), bit-identical to Python's
    ``bytes.decode('utf-8')`` on valid input.  Only rows that fail the
    gate (named non-utf8 charset, or malformed bytes, where Python's
    per-byte U+FFFD replacement policy is the contract) cross into the
    Arrow-batched pandas UDF — the gate feeds the UDF NULL for
    fast-path rows, so their bytes never ride the JVM→Python boundary.
    The charset token is extracted with the SAME regex as
    :func:`_charset_decode`; an alias outside the known utf-8 set
    falls to Python (slower, never wrong — Python then resolves it via
    ``codecs.lookup``).  Differential-pinned against the pure-Python
    policy on valid/malformed/charset-bearing rows in
    tests/test_warc.py."""
    import pandas as _pd  # noqa: F401 (pandas_udf hint resolution)

    from pyspark.sql import functions as F

    body = F.col("body") if body is None else body
    content_type = F.col("content_type") if content_type is None else content_type

    @F.pandas_udf("string")
    def _dec(b: pd.Series, ct: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if raw is None else _charset_decode(bytes(raw), c)
                for raw, c in zip(b, ct)
            ],
            dtype="object",
        )

    cs = F.lower(
        F.regexp_extract(
            F.coalesce(content_type, F.lit("")),
            r"(?i)charset=[\"']?([\w.:-]+)",
            1,
        )
    )
    # python codec aliases that resolve to utf_8; anything else (or a
    # token the ASCII-only Java \w truncated differently — all python
    # codec names are ASCII, so a truncated token either matches this
    # list with the same utf-8 outcome or falls through to Python)
    utf8_cs = cs.isin("", "utf-8", "utf8", "utf_8", "u8", "utf", "cp65001")
    fast = body.isNotNull() & utf8_cs & F.is_valid_utf8(body)
    return F.when(fast, F.decode(body, "UTF-8")).otherwise(
        _dec(F.when(~fast, body), content_type)
    )
