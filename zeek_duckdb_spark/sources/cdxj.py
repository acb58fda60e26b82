"""CDXJ text-format interop — the sorted web-archive index format
external tooling (pywb, OpenWayback, Common Crawl's index pipeline)
actually ships, as write/read siblings of the parquet-native
:func:`zeek_duckdb_spark.sources.warc.write_cdx` landing.

Format (the public convention, stated here so the golden tests can
pin it):

- A CDXJ **line** is ``<urlkey> <14-digit timestamp> <json>`` where
  the json object carries string-valued fields in this key order:
  ``url``, ``mime``, ``status``, ``digest``, ``length``, ``offset``,
  ``filename`` — plus the non-standard ``record_id`` (this engine's
  sub-member selection key, see warc.py's _CDX_SCHEMA note) appended
  last when present; json-consuming tools ignore unknown keys.  Keys
  with no value are omitted.  Lines sort bytewise, which equals
  (urlkey, timestamp) order because a SURT key never contains a
  space.
- A **shard** (``cdx-NNNNN.gz``) is a concatenation of gzip members
  ("zipnum" blocks), each member holding up to ``lines_per_block``
  lines; shards are globally range-ordered (every key in shard N ≤
  every key in shard N+1).
- ``cluster.idx`` is the plain-text secondary index, one line per
  block: ``<urlkey> <timestamp>\\t<shard>\\t<offset>\\t<length>\\t<seq>``
  where (urlkey, timestamp) is the block's FIRST line's key, offset/
  length the byte span of the gzip member inside the shard, and seq
  the global block number.  A prefix probe binary-searches this file
  and ranged-reads only the covered blocks — the role the parquet
  landing's ``pfx=`` directories play for :func:`...warc.read_cdx`.

Scale shape: :func:`write_cdxj` range-partitions by (urlkey, cdx_ts)
— one shuffle, the global sort every CDX consumer requires — and each
task streams its shard block-by-block (one block of lines in memory
at a time); cluster.idx rows ride back to the driver in the task
commit messages (1 per ``lines_per_block`` rows — bounded, the same
justified driver-side materialization as read_cdx's directory-key
resolution).  :func:`read_cdxj` reads cluster.idx driver-side (small
by construction), prunes blocks against the probe prefix, and fans
the surviving (shard, offset, length) spans over executors as ranged
reads — an import of a 100 TB crawl's index touches only the probed
blocks.  The sink uses the same staged dot-tmp + driver-rename
discipline as the WET/zeek writers (all-or-nothing: cluster.idx is
written LAST, so a reader never sees an index naming unpublished
shards); POSIX/NFS scope for writes, ``opener=`` seam for reads.
"""

from __future__ import annotations

import gzip
import json
import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceWriter

from zeek_duckdb_spark.sources.datasource import register_once
from zeek_duckdb_spark.sources.staged import StagedDir

__all__ = ["write_cdxj", "read_cdxj"]

# json key order of a written line (the documented convention above);
# record_id appended last when present
_JSON_KEYS = (
    ("url", "url"),
    ("mime", "mime"),
    ("status", "http_status"),
    ("digest", "digest"),
    ("length", "length"),
    ("offset", "offset"),
    ("filename", "warc_file"),
)

# write-side input contract: the typed API selects exactly these, in
# this order, so the raw writer can index rows positionally
_WRITE_COLS = (
    "urlkey", "cdx_ts", "url", "record_id", "mime", "http_status",
    "digest", "length", "offset", "warc_file",
)

_DEFAULT_LINES_PER_BLOCK = 3000


def _cdxj_line(row) -> str:
    """One _WRITE_COLS-ordered row -> one CDXJ line (no newline).
    Loud on a row that cannot be a legal line: null/whitespace urlkey,
    null/non-digit timestamp, or a missing span field (url, offset,
    length, filename are what makes an index row actionable)."""
    key, ts = row[0], row[1]
    if key is None or key == "" or any(c in key for c in " \t\r\n"):
        raise ValueError(
            f"write_cdxj: urlkey {key!r} cannot key a CDXJ line "
            "(null/empty/whitespace) — filter or repair the index "
            "rows first"
        )
    if ts is None or not (ts.isdigit() and len(ts) == 14):
        raise ValueError(
            f"write_cdxj: cdx_ts {ts!r} for urlkey {key!r} is not a "
            "14-digit CDX timestamp — filter or repair first"
        )
    d = dict(zip(_WRITE_COLS, row))
    for jkey in ("url", "offset", "length", "warc_file"):
        if d[jkey] is None:
            raise ValueError(
                f"write_cdxj: row for urlkey {key!r} has no {jkey} — "
                "a CDXJ line without its span is unusable; filter or "
                "repair first"
            )
    obj = {}
    for jname, col in _JSON_KEYS:
        v = d[col]
        if v is not None:
            obj[jname] = str(v)  # all-string values, the convention
    if d["record_id"] is not None:
        obj["record_id"] = str(d["record_id"])
    return f"{key} {ts} {json.dumps(obj)}"


def _parse_cdxj_line(line: str, who: str):
    """One CDXJ line -> a _CDX_SCHEMA-ordered tuple.  Tolerates the
    field variance of external producers: unknown json keys ignored,
    absent optional keys -> NULL, numeric fields arriving as json
    numbers OR the conventional strings."""
    parts = line.split(" ", 2)
    if len(parts) != 3:
        raise ValueError(f"{who}: malformed CDXJ line (no json): {line[:80]!r}")
    key, ts, blob = parts
    try:
        obj = json.loads(blob)
    except ValueError as exc:
        raise ValueError(
            f"{who}: malformed CDXJ json for urlkey {key!r} ({exc})"
        ) from None

    def _num(name):
        v = obj.get(name)
        return None if v in (None, "-", "") else int(v)

    def _s(name):
        v = obj.get(name)
        return None if v in (None, "-", "") else str(v)

    return (
        key,
        None if ts in ("-", "") else ts,
        _s("url"),
        _s("record_id"),
        _s("mime"),
        _num("status"),
        _s("digest"),
        _num("length"),
        _num("offset"),
        _s("filename"),
    )


class CdxjDataSource(DataSource):
    """Write half of the CDXJ export (:func:`write_cdxj` is the typed
    API — it owns the range partition + sort this raw writer
    verifies)."""

    @classmethod
    def name(cls) -> str:
        return "cdxj"

    def writer(self, schema: T.StructType, overwrite: bool):
        names = tuple(f.name for f in schema.fields)
        if names != _WRITE_COLS:
            raise ValueError(
                "cdxj writer expects exactly the CDX columns "
                f"{list(_WRITE_COLS)} — use zeek_duckdb_spark.sources."
                "cdxj.write_cdxj(cdx_df, path, ...) for the typed API"
            )
        return CdxjShardWriter(self.options, overwrite)


def _is_cdxj_file(name: str) -> bool:
    return (name.startswith("cdx-") and name.endswith(".gz")) or name == "cluster.idx"


class CdxjShardWriter(DataSourceWriter):
    """Per-partition zipnum shard sink.  All-or-nothing through the
    staged-file protocol (sources/staged.py): the driver renames the
    staged shards at commit() and writes cluster.idx LAST — a job that
    dies mid-write leaves no visible shard and no index naming one.
    Each task's commit message carries its block index entries
    ``[(urlkey, ts, offset, length), ...]``."""

    def __init__(self, options: dict, overwrite: bool):
        self._dir = StagedDir(options.get("path"), "write_cdxj")
        lpb = options.get("lines_per_block", str(_DEFAULT_LINES_PER_BLOCK))
        self._lines_per_block = int(lpb)
        if self._lines_per_block < 1:
            raise ValueError("write_cdxj: lines_per_block must be >= 1")
        self._dir.claim(
            _is_cdxj_file, overwrite,
            f"write_cdxj: '{self._dir.path}' already contains a CDXJ "
            "export (mode='error'); use mode='overwrite'",
        )

    def write(self, iterator):
        def fill(open_tmp, _final):
            entries = []  # (first urlkey, first ts, offset, length)
            offset = 0
            block: list = []
            block_key = None
            prev = None

            def flush():
                nonlocal offset, block, block_key
                if not block:
                    return
                # mtime=0: byte-stable re-exports (the WET writer's
                # determinism contract applied here)
                member = gzip.compress("".join(block).encode("utf-8"), mtime=0)
                open_tmp().write(member)
                entries.append((block_key[0], block_key[1], offset, len(member)))
                offset += len(member)
                block, block_key = [], None

            for row in iterator:
                line = _cdxj_line(row)
                key = (row[0], row[1])
                if prev is not None and key < prev:
                    raise ValueError(
                        "write_cdxj: rows are not sorted by (urlkey, "
                        f"cdx_ts) within the partition ({key} after "
                        f"{prev}) — use the typed write_cdxj API, "
                        "which owns the range partition + sort"
                    )
                prev = key
                if block_key is None:
                    block_key = key
                block.append(line + "\n")
                if len(block) >= self._lines_per_block:
                    flush()
            flush()
            return {"entries": entries}

        return self._dir.stage(lambda pid: f"cdx-{pid:05d}.gz",
                               lambda p: open(p, "wb"), fill)

    def commit(self, messages):
        # publish shards first, cluster.idx LAST: the index is the
        # reader's entry point, so its existence implies every shard
        # it names is final
        staged = [m for m in messages if m is not None and m.tmp is not None]
        self._dir.publish(staged)
        # shards are range-ordered by partition id; entries within a
        # shard are in written order — sorting messages by shard name
        # yields the global (urlkey, ts) order cluster.idx requires
        lines = []
        seq = 0
        for m in sorted(staged, key=lambda m: m.final):
            for key, ts, off, ln in m.entries:
                lines.append(f"{key} {ts}\t{m.final}\t{off}\t{ln}\t{seq}\n")
                seq += 1
        self._dir.publish_file("cluster.idx", "".join(lines))

    def abort(self, messages):
        self._dir.discard(messages)


def write_cdxj(
    cdx_df: DataFrame,
    path: str,
    shards: int = 16,
    lines_per_block: int = _DEFAULT_LINES_PER_BLOCK,
    mode: str = "overwrite",
) -> None:
    """Export a :func:`...warc.cdx_records` result as the standard
    sorted-CDXJ layout external web-archive tooling consumes:
    range-ordered ``cdx-NNNNN.gz`` zipnum shards plus ``cluster.idx``
    (format pinned in the module docstring).  Use
    ``cdx_records(digest='stored')`` when the export must cross-match
    digests with records' WARC-Payload-Digest headers (the pywb /
    Common Crawl convention).

    One shuffle — the ``repartitionByRange(shards)`` + within-
    partition sort that IS the format's global order; each task then
    streams its shard one block at a time (bounded memory at any
    shard size).  All-or-nothing via staged tmps; ``mode``:
    'overwrite' clears a prior export, 'error' refuses one.  POSIX/
    NFS-scope sink (the zeek/WET writers' stated scope).  Rows must
    carry a non-null urlkey and 14-digit cdx_ts and their span fields
    — the writer errors loudly naming the first offender."""
    from pyspark.sql import functions as F

    if shards < 1:
        raise ValueError("write_cdxj: shards must be >= 1")
    if lines_per_block < 1:
        raise ValueError("write_cdxj: lines_per_block must be >= 1")
    if mode not in ("overwrite", "error"):
        raise ValueError("write_cdxj: mode must be 'overwrite' or 'error'")
    cols = set(cdx_df.columns)
    sel = [
        (F.col(c) if c in cols else F.lit(None)).cast(
            "int" if c == "http_status"
            else "long" if c in ("length", "offset")
            else "string"
        ).alias(c)
        for c in _WRITE_COLS
    ]
    register_once(cdx_df.sparkSession, CdxjDataSource)
    (
        cdx_df.select(*sel)
        .repartitionByRange(shards, "urlkey", "cdx_ts")
        .sortWithinPartitions("urlkey", "cdx_ts")
        .write.format("cdxj")
        .option("lines_per_block", str(lines_per_block))
        .mode("overwrite" if mode == "overwrite" else "append")
        .save(path)
    )


def _select_blocks(keys: list, prefix: str) -> list:
    """Indices of cluster.idx blocks that can hold a urlkey starting
    with ``prefix``.  ``keys`` is the sorted list of block-leading
    urlkeys; block i's keys lie in the CLOSED interval
    [keys[i], keys[i+1]] (its last key can equal the next block's
    first — same-key runs may straddle a block boundary), so a block
    is kept unless the next block starts strictly before the prefix
    or this block starts strictly past the prefix's match range.
    Pure function, unit-pinned."""
    if not keys:
        return []
    out = []
    for i, k in enumerate(keys):
        nxt = keys[i + 1] if i + 1 < len(keys) else None
        # block can contain >= prefix unless the NEXT block starts
        # strictly before it (then everything here is < prefix)
        if nxt is not None and nxt < prefix:
            continue
        # block starts past every possible prefix-match
        if not (k < prefix or k.startswith(prefix)):
            # k > prefix and doesn't match: no line here or later in
            # this block can match only if k already exceeds the
            # prefix's range — since lines are sorted and k is the
            # SMALLEST key in the block
            continue
        out.append(i)
    return out


def read_cdxj(
    spark: SparkSession,
    path: str,
    prefix: "str | None" = None,
    opener=None,
) -> DataFrame:
    """Import a CDXJ export (this module's or any external tool's
    zipnum layout) back into the ``cdx_records`` schema — the other
    half of the interop contract: an index built by pywb/Common-Crawl
    tooling drives :func:`...warc.read_warc_selected` directly.

    ``prefix`` prunes at the BLOCK level through cluster.idx before
    any executor reads a byte (the format's whole point): only gzip
    members whose key range can hold the prefix are ranged-read, then
    the exact ``startswith`` filter applies JVM-side.  cluster.idx is
    read driver-side — it is small by construction (one line per
    ``lines_per_block`` index rows).  ``opener`` is the filesystem
    seam (``opener(path) -> file-like``; default
    :func:`.filesystem.open_path`), applied to cluster.idx and shards
    alike."""
    from pyspark.sql import functions as F

    from zeek_duckdb_spark.sources.filesystem import open_path
    from zeek_duckdb_spark.sources.warc import (
        _CDX_SCHEMA,
        _gunzip_members_from_chunks,
    )

    open_fn = opener or open_path
    idx_path = posixpath.join(path, "cluster.idx")
    try:
        with open_fn(idx_path) as fh:
            idx_text = fh.read().decode("utf-8")
    except (OSError, FileNotFoundError) as exc:
        raise ValueError(
            f"read_cdxj: cannot read '{idx_path}' ({exc}) — the "
            "zipnum layout requires cluster.idx next to the shards"
        ) from None

    blocks = []  # (urlkey, shard, offset, length)
    for ln in idx_text.splitlines():
        if not ln.strip():
            continue
        try:
            keypart, shard, off, length, _seq = ln.split("\t")
            key = keypart.split(" ", 1)[0]
            blocks.append((key, shard, int(off), int(length)))
        except ValueError:
            raise ValueError(
                f"read_cdxj: malformed cluster.idx line: {ln[:80]!r}"
            ) from None

    if prefix is not None:
        picked = _select_blocks([b[0] for b in blocks], prefix)
        blocks = [blocks[i] for i in picked]

    if not blocks:
        return spark.createDataFrame([], _CDX_SCHEMA)

    spans = spark.createDataFrame(
        [(posixpath.join(path, s), o, ln) for _k, s, o, ln in blocks],
        "shard string, offset long, length long",
    )

    def fetch(it):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        cols = _CDX_SCHEMA.fieldNames()
        pa_schema = to_arrow_schema(_CDX_SCHEMA)
        for batch in it:
            for shard, off, length in zip(
                *(batch.column(c).to_pylist()
                  for c in ("shard", "offset", "length"))
            ):
                who = f"read_cdxj({shard})"
                with open_fn(str(shard)) as fh:
                    fh.seek(int(off))
                    span = fh.read(int(length))
                # through the CAPPED member iterator: external shards
                # can point spans at bomb members
                text = b"".join(
                    m for _o, _l, m in
                    _gunzip_members_from_chunks(iter([span]), who)
                ).decode("utf-8")
                rows = {c: [] for c in cols}
                for line in text.splitlines():
                    if not line.strip():
                        continue
                    for c, v in zip(cols, _parse_cdxj_line(line, who)):
                        rows[c].append(v)
                yield pa.RecordBatch.from_pydict(rows, schema=pa_schema)

    out = spans.mapInArrow(fetch, _CDX_SCHEMA)
    if prefix is not None:
        out = out.filter(F.col("urlkey").startswith(prefix))
    return out
