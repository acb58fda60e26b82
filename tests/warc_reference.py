"""Whole-blob reference readers for the WARC/CDX parity tests: read each
file's bytes at once, split them with ``parse_warc`` (or a whole-buffer
gzip member walk for CDX spans) and assemble rows through the package's
own ``_append_record_row`` / ``_append_cdx_row``.  The path-based
``warc``/``cdx`` DataSources stream the same files chunk by chunk, so
agreement pins the incremental decompress, record split, span
arithmetic and Arrow flush against an independent whole-buffer parse."""

import glob
import zlib

from pyspark.sql import functions as F

from zeek_duckdb_spark.operators.textops import surt_key
from zeek_duckdb_spark.sources.warc import (
    _CDX_SCHEMA,
    _append_cdx_row,
    _append_record_row,
    _decompress_container,
    _parse_record_types_option,
    _reader_schema,
    _record_spans,
    parse_warc,
)


def _frame(spark, rows, schema):
    cols = schema.fieldNames()
    return spark.createDataFrame(list(zip(*(rows[c] for c in cols))), schema)


def reference_read_warc(spark, path, record_types=("response",),
                        decode_text=False, headers=False):
    """``read_warc`` rows from whole-file ``parse_warc``."""
    wanted = _parse_record_types_option(record_types)
    schema = _reader_schema(decode_text, headers)
    rows = {c: [] for c in schema.fieldNames()}
    for fpath in sorted(glob.glob(path)):
        with open(fpath, "rb") as fh:
            blob = fh.read()
        who = f"read_warc({fpath})"
        for rec in parse_warc(blob, who=who):
            wtype = rec["headers"].get("warc-type", "")
            if wanted is None or wtype.lower() in wanted:
                _append_record_row(rows, fpath, rec, decode_text, who=who,
                                   headers=headers)
    return _frame(spark, rows, schema)


def _gzip_members(buf, who):
    """(offset, compressed length, inflated bytes) per gzip member of a
    whole buffer."""
    pos = 0
    while pos < len(buf):
        d = zlib.decompressobj(wbits=31)
        out = d.decompress(buf[pos:])
        assert d.eof, f"{who}: truncated gzip member at offset {pos}"
        used = len(buf) - pos - len(d.unused_data)
        yield pos, used, out
        pos += used


def reference_cdx_records(spark, path, record_types=("response",),
                          digest="decoded"):
    """``cdx_records`` rows from whole-file spans: gzip member spans
    for ``.warc.gz``, record spans of the decompressed buffer
    otherwise."""
    wanted = _parse_record_types_option(record_types)
    rows = {c: [] for c in _CDX_SCHEMA.fieldNames()}
    for fpath in sorted(glob.glob(path)):
        with open(fpath, "rb") as fh:
            raw = fh.read()
        who = f"cdx_records({fpath})"
        if raw[:2] == b"\x1f\x8b":
            spans = [
                (off, clen, rec)
                for off, clen, data in _gzip_members(raw, who)
                for _s, _e, rec in _record_spans(data, who)
            ]
        else:
            spans = [
                (s, e - s, rec) for s, e, rec in
                _record_spans(_decompress_container(raw, who), who)
            ]
        for off, length, rec in spans:
            wtype = rec["headers"].get("warc-type", "").lower()
            if wanted is None or wtype in wanted:
                _append_cdx_row(rows, fpath, off, length, rec, digest, who)
    return _frame(spark, rows, _CDX_SCHEMA).withColumn(
        "urlkey", surt_key(F.col("url"))
    )
