"""Path-based streaming WARC DataSource (round-14): the incremental
parser is differential-tested against parse_warc (same records, same
error wording), its buffer is proven bounded at the high-water mark,
a >2 GiB plain WARC ingests end-to-end, and the stream reader keeps
exactly-once across restarts."""

import gzip
import os

import pytest
from warc_reference import reference_cdx_records, reference_read_warc

from zeek_duckdb_spark.sources.warc import (
    _records_from_chunks,
    encode_warc,
    parse_warc,
    read_warc,
)


def _http(body: bytes, ctype="text/html", status=200) -> bytes:
    return (
        f"HTTP/1.1 {status} OK\r\nContent-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body


def _resp(uri: str, body: bytes, **kw):
    return (
        {"WARC-Type": "response", "WARC-Record-ID": f"<urn:{uri}>",
         "WARC-Target-URI": uri, "WARC-Date": "2026-08-16T00:00:00Z",
         "Content-Type": "application/http; msgtype=response"},
        _http(body, **kw),
    )


def _chunked(blob: bytes, n: int):
    return [blob[i : i + n] for i in range(0, len(blob), n)]


def test_incremental_parser_differential():
    """_records_from_chunks must agree with parse_warc record-for-
    record at EVERY chunk boundary — the two parsers share the file
    format, not the code, so drift is caught here."""
    recs = [
        ({"WARC-Type": "warcinfo"}, b"software: test\r\n"),
        _resp("http://a.org/x", b"<p>hello</p>" * 40),
        ({"WARC-Type": "request", "WARC-Target-URI": "http://a.org/x"},
         b"GET /x HTTP/1.1\r\n\r\n"),
        _resp("http://a.org/y", b""),  # zero-length payload
    ]
    plain = encode_warc(recs, compress=False)
    want = list(parse_warc(plain))
    for n in (1, 3, 7, 64, 1 << 16):
        got = list(_records_from_chunks(iter(_chunked(plain, n)), "t"))
        assert got == want, f"chunk size {n}"
    # extra inter-record CRLF padding tolerated identically
    padded = plain.replace(b"\r\n\r\nWARC/", b"\r\n\r\n\r\n\r\nWARC/")
    assert list(_records_from_chunks(iter([padded]), "t")) == want


def test_incremental_parser_error_parity():
    """Same loud errors as _record_spans, at stream end instead of
    buffer end."""
    ok = encode_warc([_resp("http://a.org/", b"x" * 50)], compress=False)
    for n in (1, 9, 1 << 12):
        with pytest.raises(ValueError, match="truncated WARC record payload"):
            list(_records_from_chunks(iter(_chunked(ok[:-60], n)), "t"))
    with pytest.raises(ValueError, match="expected WARC version line"):
        list(_records_from_chunks(iter([b"NOT A WARC\r\n\r\n"]), "t"))
    with pytest.raises(ValueError, match="expected WARC version line"):
        # trailing junk after a good record
        list(_records_from_chunks(iter([ok + b"junk tail"]), "t"))
    no_len = b"WARC/1.0\r\nWARC-Type: metadata\r\n\r\nbody\r\n\r\n"
    with pytest.raises(ValueError, match="missing Content-Length"):
        list(_records_from_chunks(iter([no_len]), "t"))
    bad = no_len.replace(b"metadata\r\n", b"metadata\r\nContent-Length: -4\r\n")
    with pytest.raises(ValueError, match="bad WARC Content-Length"):
        list(_records_from_chunks(iter([bad]), "t"))
    trunc_hdr = b"WARC/1.0\r\nWARC-Type: metadata\r\nContent-L"
    with pytest.raises(ValueError, match="truncated WARC header block"):
        list(_records_from_chunks(iter([trunc_hdr]), "t"))


def test_incremental_parser_hostile_caps():
    """Bounded-memory guarantees under hostile input: a lying
    Content-Length and an unterminated header block must abort loudly
    instead of buffering without bound."""
    lying = (b"WARC/1.0\r\nWARC-Type: resource\r\n"
             b"Content-Length: 99999999999999\r\n\r\n")
    with pytest.raises(ValueError, match="record cap"):
        list(_records_from_chunks(iter([lying]), "t"))

    def endless_header():
        yield b"WARC/1.0\r\n"
        while True:  # a header block that never terminates
            yield b"X-Filler: " + b"a" * 1000 + b"\r\n"

    with pytest.raises(ValueError, match="header block exceeds"):
        list(_records_from_chunks(endless_header(), "t"))


def test_incremental_parser_bounded_buffer():
    """The high-water mark of the parse buffer stays ~(compact
    threshold + chunk), independent of total stream size: 40 MiB of
    small records through 1 MiB chunks must never buffer more than a
    few MiB (the whole point of the round-14 reader)."""
    one = encode_warc([_resp("http://m.org/p", b"z" * 2000)],
                      compress=False)
    n_copies = (40 << 20) // len(one) + 1

    def chunks():
        buf = bytearray()
        for _ in range(n_copies):
            buf += one
            while len(buf) >= (1 << 20):
                yield bytes(buf[: 1 << 20])
                del buf[: 1 << 20]
        if buf:
            yield bytes(buf)

    mem = {}
    count = sum(1 for _ in _records_from_chunks(chunks(), "t", mem=mem))
    assert count == n_copies
    total = n_copies * len(one)
    assert total > (40 << 20)
    # compact threshold (1 MiB) + one chunk (1 MiB) + slack
    assert mem["peak_buffered"] < (4 << 20), mem


def test_gunzip_chunks_bounded_against_bomb():
    """r14 review find: the streaming gunzip must cap each inflate
    step — a ~60 KiB gzip member of 64 MiB zeros (deflate's ~1000:1)
    must come out as _READ_CHUNK-bounded chunks, never one multi-GiB
    object."""
    from zeek_duckdb_spark.sources.warc import _READ_CHUNK, _gunzip_chunks

    bomb = gzip.compress(b"\0" * (64 << 20), 9)
    assert len(bomb) < (1 << 17)
    total = 0
    for c in _gunzip_chunks(iter([bomb]), "t"):
        assert len(c) <= _READ_CHUNK
        total += len(c)
    assert total == 64 << 20


def test_gunzip_member_iterator_bounded_against_bomb():
    """Second-pass review find: the CDX path's member iterator needs
    the same inflate caps — a bomb member aborts at the member cap
    instead of OOMing, and legit members still span correctly."""
    from zeek_duckdb_spark.sources import warc as W

    members = [gzip.compress(f"member {i} ".encode() * 50)
               for i in range(3)]
    got = list(W._gunzip_members_from_chunks(
        iter(_chunked(b"".join(members), 11)), "t"))
    assert len(got) == 3
    assert [m[2] for m in got] == [
        f"member {i} ".encode() * 50 for i in range(3)]
    # spans tile the compressed stream
    assert got[0][0] == 0
    assert all(got[i][0] + got[i][1] == got[i + 1][0] for i in range(2))

    bomb = gzip.compress(b"\0" * (8 << 20), 9)
    try:
        W._MAX_RECORD_BYTES, saved = (1 << 20), W._MAX_RECORD_BYTES
        with pytest.raises(ValueError, match="member cap"):
            list(W._gunzip_members_from_chunks(iter([bomb]), "t"))
    finally:
        W._MAX_RECORD_BYTES = saved


def test_explicit_hidden_path_honored(spark, tmp_path):
    """Second-pass review find: a metacharacter-free path the user
    pointed at directly is honored even with a '_'/'.' basename — the
    hidden-file rule applies to pattern EXPANSION only."""
    f = tmp_path / "_rescued.warc"
    f.write_bytes(encode_warc([_resp("http://r.org/x", b"ok")],
                              compress=False))
    got = read_warc(spark, str(f)).collect()
    assert [r.target_uri for r in got] == ["http://r.org/x"]


def test_padding_run_stays_bounded():
    """r14 review find: a long inter-record CRLF padding run must
    compact out of the parse buffer, not accumulate."""
    from zeek_duckdb_spark.sources.warc import _records_from_chunks

    rec = encode_warc([_resp("http://p.org/x", b"ok")], compress=False)
    pad_mib = 8

    def chunks():
        yield rec
        for _ in range(pad_mib):
            yield b"\r\n" * (1 << 19)  # 1 MiB of padding pairs
        yield rec

    mem = {}
    got = list(_records_from_chunks(chunks(), "t", mem=mem))
    assert len(got) == 2
    assert mem["peak_buffered"] < (4 << 20), mem


def test_engine_scheme_routing(spark):
    """Every path routes through pyarrow.fs: bare and ``file:`` paths
    land on LocalFileSystem and are spelled back bare; a URI keeps its
    scheme; a scheme pyarrow cannot serve errors on the driver naming
    it and the opener=/lister= way out, instead of scanning nothing."""
    from pyarrow import fs as pafs

    from zeek_duckdb_spark.sources.filesystem import _filesystem

    for p in ("/a/b.warc.gz", "file:/a/b.warc.gz", "file:///a/b.warc.gz"):
        fs, fp, prefix = _filesystem(p)
        assert isinstance(fs, pafs.LocalFileSystem), p
        assert (fp, prefix) == ("/a/b.warc.gz", ""), p
    # glob metacharacters stay out of the URI parse ('?' is no query)
    fs, fp, prefix = _filesystem("mock:///bucket/crawl/day?.warc.gz")
    assert isinstance(fs, pafs._MockFileSystem)
    assert prefix + fp == "mock:///bucket/crawl/day?.warc.gz"
    with pytest.raises(ValueError, match="s3a://.*opener=/lister="):
        read_warc(spark, "s3a://bucket/crawl/*.warc.gz")


def test_streaming_gunzip_members_and_errors():
    """Concatenated gzip members decode incrementally with the member
    error wording of _iter_gzip_members."""
    from zeek_duckdb_spark.sources.warc import _gunzip_chunks

    members = [gzip.compress(f"rec {i} ".encode() * 10) for i in range(5)]
    blob = b"".join(members)
    want = b"".join(f"rec {i} ".encode() * 10 for i in range(5))
    for n in (1, 13, 1 << 10):
        got = b"".join(_gunzip_chunks(iter(_chunked(blob, n)), "t"))
        assert got == want
    with pytest.raises(ValueError, match="truncated gzip member"):
        list(_gunzip_chunks(iter(_chunked(blob[:-5], 7)), "t"))
    with pytest.raises(ValueError, match="corrupt gzip member"):
        list(_gunzip_chunks(iter([blob[:10] + b"\xff" * 30]), "t"))


@pytest.mark.slow
def test_read_warc_engines_row_identical(spark, tmp_path):
    """The streaming reader matches the whole-blob parse_warc reference
    row for row: the full row set is identical on a mixed fixture
    (quarantined chunked record, non-HTTP capture, gz + plain
    containers)."""
    capped = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
              b"Transfer-Encoding: chunked\r\n\r\nff\r\nshort")
    recs = [
        _resp("http://e.org/a", b"<p>page a</p>"),
        ({"WARC-Type": "response", "WARC-Record-ID": "<urn:cap>",
          "WARC-Target-URI": "http://e.org/capped",
          "Content-Type": "application/http; msgtype=response"}, capped),
        ({"WARC-Type": "response", "WARC-Record-ID": "<urn:dns>",
          "WARC-Target-URI": "dns:e.org", "Content-Type": "text/dns"},
         b"A 192.0.2.1\n"),
        ({"WARC-Type": "metadata", "WARC-Target-URI": "http://e.org/a"},
         b"via: test\r\n"),
    ]
    (tmp_path / "m.warc.gz").write_bytes(encode_warc(recs[:2]))
    (tmp_path / "p.warc").write_bytes(encode_warc(recs[2:], compress=False))
    glob = str(tmp_path / "*.warc*")

    def rowset(reader, **kw):
        read = read_warc if reader == "stream" else reference_read_warc
        return {
            (r.record_id, r.warc_type, r.target_uri, r.http_status,
             r.content_type, r.content_encoding,
             None if r.body is None else bytes(r.body),
             getattr(r, "body_text", None))
            for r in read(spark, glob, **kw).collect()
        }

    for kw in ({}, {"decode_text": True}, {"record_types": None},
               {"record_types": ("metadata",)},
               # string forms must survive the DataSource option
               # round-trip (r14 review: '*' and comma strings used to
               # diverge there)
               {"record_types": "*"},
               {"record_types": "response,metadata"},
               {"record_types": "metadata"}):
        assert rowset("stream", **kw) == rowset("reference", **kw), kw
    assert len(rowset("stream", record_types="*")) == 4
    assert len(rowset("stream", record_types="response,metadata")) == 4
    assert len(rowset("stream", record_types="metadata")) == 1
    assert len(rowset("stream", record_types="response")) == 3

    from zeek_duckdb_spark.sources.warc import _norm_record_types

    assert _norm_record_types(None) is None
    assert _norm_record_types("*") is None
    assert _norm_record_types(("a", "*")) is None
    assert _norm_record_types("response") == ("response",)
    assert _norm_record_types("a, b") == ("a", "b")
    assert _norm_record_types(()) == ()

    # schema identical too
    a = read_warc(spark, glob, decode_text=True)
    b = reference_read_warc(spark, glob, decode_text=True)
    assert a.schema == b.schema


def test_read_warc_stream_engine_error_surfaces(spark, tmp_path):
    """Zero-match globs error loudly at load time; directory listings
    hide dot/underscore files (staged tmps must never be read)."""
    d = tmp_path / "dir"
    d.mkdir()
    (d / "a.warc").write_bytes(
        encode_warc([_resp("http://d.org/a", b"x")], compress=False))
    (d / ".part-0.warc.gz.tmp-1").write_bytes(b"garbage mid-write")
    (d / "_hidden.warc").write_bytes(b"also hidden")
    got = read_warc(spark, str(d)).collect()
    assert [r.target_uri for r in got] == ["http://d.org/a"]
    # the GLOB branch applies the same hidden-file rule (r14 review:
    # '/out/*' must skip Spark job markers like _committed_*)
    got = read_warc(spark, str(d / "*")).collect()
    assert [r.target_uri for r in got] == ["http://d.org/a"]
    with pytest.raises(Exception, match="no WARC files match"):
        read_warc(spark, str(tmp_path / "nope-*.warc.gz")).collect()


@pytest.mark.slow
def test_warc_datasource_stream_exactly_once(spark, tmp_path):
    """The DataSource STREAM engine: rotated-in files become
    micro-batches; a second availableNow run from the same checkpoint
    parses only the new file; rows match the batch reader."""
    from zeek_duckdb_spark.sources.warc import read_warc_stream

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    out, ck = str(tmp_path / "landed"), str(tmp_path / "ck")

    def day(i):
        return encode_warc([
            _resp(f"http://d{i}.org/a", b"<p>a</p>"),
            _resp(f"http://d{i}.org/b", b"<p>b</p>"),
        ])

    (crawl / "day0.warc.gz").write_bytes(day(0))

    def drain():
        q = (
            read_warc_stream(spark, str(crawl / "*.warc.gz"))
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    drain()
    assert {r.target_uri for r in spark.read.parquet(out).collect()} == {
        "http://d0.org/a", "http://d0.org/b",
    }
    (crawl / "day1.warc.gz").write_bytes(day(1))
    drain()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 4  # day0 not re-parsed
    batch = {(r.target_uri, bytes(r.body), r.http_status)
             for r in read_warc(spark, str(crawl / "*.warc.gz")).collect()}
    assert {(r.target_uri, bytes(r.body), r.http_status)
            for r in rows} == batch

    with pytest.raises(ValueError, match="must be >= 1"):
        read_warc_stream(spark, str(crawl), max_files_per_trigger=0)


@pytest.mark.slow
def test_warc_stream_admission_control(spark, tmp_path):
    """Round-15 ``max_files_per_trigger`` on the DataSource stream
    engine: with 3 files pre-existing and a cap of 1, each micro-batch
    admits exactly one sorted file.  Python DataSource streams fall
    back to SINGLE-BATCH execution under availableNow (Spark logs it),
    so each drain here is one trigger — the per-trigger cap shows up
    as one file per drain, and every drain is also a checkpoint
    RESTART, pinning that the restart ramp (seen-set re-seeding from
    the start offset) never re-reads or duplicates rows."""
    from zeek_duckdb_spark.sources.warc import read_warc_stream

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    out, ck = str(tmp_path / "landed"), str(tmp_path / "ck")
    for i in range(3):
        (crawl / f"day{i}.warc.gz").write_bytes(
            encode_warc([_resp(f"http://d{i}.org/a", b"<p>a</p>")])
        )

    def drain():
        q = (
            read_warc_stream(
                spark, str(crawl / "*.warc.gz"), max_files_per_trigger=1
            )
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return sorted(
            r.target_uri for r in spark.read.parquet(out).collect()
        )

    # one sorted file admitted per trigger (day0 < day1 < day2)
    assert drain() == ["http://d0.org/a"]
    # restart trigger 2: latestOffset runs on an empty in-memory seen
    # set and may spend its one admission slot on already-done day0 —
    # partitions() diffs it away (no duplicate), seeds the seen set,
    # and the NEXT admission picks day1.  Either way rows only grow
    # one file at a time with no duplicates.
    landed = drain()
    assert landed in (
        ["http://d0.org/a"],                      # slot spent re-admitting
        ["http://d0.org/a", "http://d1.org/a"],   # slot admitted day1
    )
    seen = set(landed)
    for _ in range(4):
        landed = drain()
        assert len(landed) == len(set(landed))  # exactly-once, always
        assert set(landed) >= seen
        seen = set(landed)
    assert landed == [
        "http://d0.org/a", "http://d1.org/a", "http://d2.org/a",
    ]


def test_warc_zst_container_stream_engine(spark, tmp_path):
    """.warc.zst through the streaming engine's zstd decode (pyarrow's
    bundled codec)."""
    import pyarrow as pa

    plain = encode_warc(
        [_resp("http://z.org/a", b"<p>zstd page</p>" * 50)],
        compress=False)
    buf = pa.BufferOutputStream()
    with pa.CompressedOutputStream(buf, "zstd") as outp:
        outp.write(plain)
    (tmp_path / "z.warc.zst").write_bytes(bytes(buf.getvalue()))
    got = read_warc(spark, str(tmp_path / "*.warc.zst")).collect()
    assert len(got) == 1 and got[0].target_uri == "http://z.org/a"
    assert bytes(got[0].body) == b"<p>zstd page</p>" * 50


def test_cdx_engines_and_digest_modes(spark, tmp_path):
    """cdx_records: the path-based reader emits the same index rows as
    the whole-blob span reference, and digest='stored' hashes the
    payload AS STORED (WARC-Payload-Digest / external-CDX interop, r13
    advice) while
    'decoded' (default) hashes the decoded entity."""
    import base64
    import hashlib

    from zeek_duckdb_spark.sources.warc import cdx_records

    body = b"<p>indexed content</p>" * 4
    chunks = [body[i : i + 7] for i in range(0, len(body), 7)]
    framed = b"".join(b"%x\r\n" % len(c) + c + b"\r\n" for c in chunks)
    framed += b"0\r\n\r\n"
    chunked_http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n" + framed
    )
    gz_entity = gzip.compress(body)
    gz_http = (
        f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        f"Content-Encoding: gzip\r\nContent-Length: {len(gz_entity)}\r\n"
        f"\r\n".encode() + gz_entity
    )
    recs = [
        _resp("http://c.org/plain", body),
        ({"WARC-Type": "response", "WARC-Record-ID": "<urn:ch>",
          "WARC-Target-URI": "http://c.org/chunked",
          "WARC-Date": "2026-08-16T00:00:01Z",
          "Content-Type": "application/http; msgtype=response"},
         chunked_http),
        ({"WARC-Type": "response", "WARC-Record-ID": "<urn:gz>",
          "WARC-Target-URI": "http://c.org/gz",
          "WARC-Date": "2026-08-16T00:00:02Z",
          "Content-Type": "application/http; msgtype=response"}, gz_http),
    ]
    (tmp_path / "c.warc.gz").write_bytes(encode_warc(recs))
    glob = str(tmp_path / "*.warc.gz")

    def b32(b):
        return base64.b32encode(hashlib.sha1(b).digest()).decode()

    def idx(reader, digest):
        build = cdx_records if reader == "stream" else reference_cdx_records
        return {
            r.url: r for r in
            build(spark, glob, digest=digest).collect()
        }

    dec = idx("stream", "decoded")
    # decoded: all three hash the same entity bytes
    assert {r.digest for r in dec.values()} == {b32(body)}
    sto = idx("stream", "stored")
    assert sto["http://c.org/plain"].digest == b32(body)
    assert sto["http://c.org/chunked"].digest == b32(framed)
    assert sto["http://c.org/gz"].digest == b32(gz_entity)
    # status/mime still parsed off the head in stored mode
    assert sto["http://c.org/gz"].http_status == 200
    assert sto["http://c.org/gz"].mime == "text/html"

    # reference parity on everything but the path spelling
    def key(rows):
        return {
            (r.url, r.record_id, r.offset, r.length, r.digest, r.mime,
             r.http_status, r.cdx_ts, r.urlkey)
            for r in rows.values()
        }

    for digest in ("decoded", "stored"):
        assert key(idx("stream", digest)) == key(idx("reference", digest))

    with pytest.raises(ValueError, match="digest must be"):
        cdx_records(spark, glob, digest="sha256")


def test_selected_reads_span_split_and_opener(spark, tmp_path):
    """r13 verdict items 2+3: a selection concentrated in ONE archive
    splits into offset-range buckets (parallel tasks) with rows
    identical to the unsplit read, and the opener= seam routes every
    span read through an injected ranged reader — each read is exactly
    one indexed span, never the whole file."""
    from pyspark.sql import functions as F

    # defined in-test so cloudpickle ships them BY VALUE (the tests/
    # module is not importable on executors); user openers live in
    # importable modules (a functools.partial over a module function)
    class _RangedFile:
        """Fake object-store file: real seek/read against the local
        file, every read LOGGED (offset, length) to a per-process
        file — executors are separate processes."""

        def __init__(self, path, log_dir):
            p = path[5:] if path.startswith("file:") else path
            self._fh = open(p, "rb")
            self._log_dir = log_dir

        def seek(self, off):
            return self._fh.seek(off)

        def read(self, n=-1):
            with open(os.path.join(self._log_dir,
                                   f"reads-{os.getpid()}.log"), "a") as lg:
                lg.write(f"{self._fh.tell()},{n}\n")
            return self._fh.read(n)

        def close(self):
            self._fh.close()

    class _RangedOpener:
        def __init__(self, log_dir):
            self._log_dir = log_dir

        def __call__(self, path):
            return _RangedFile(path, self._log_dir)

    from zeek_duckdb_spark.sources.warc import cdx_records, read_warc_selected

    recs = [
        _resp(f"https://one.org/p{i}", f"<p>page {i} body text</p>".encode())
        for i in range(6)
    ]
    f = tmp_path / "one.warc.gz"
    f.write_bytes(encode_warc(recs))
    idx = cdx_records(spark, str(f))
    spans = {(r.offset, r.length) for r in idx.collect()}
    assert len(spans) == 6

    def rowset(df):
        return {(r.target_uri, bytes(r.body)) for r in df.collect()}

    base = read_warc_selected(spark, idx)
    want = rowset(base)
    assert len(want) == 6

    # split: task_bytes=1 puts every span in its own bucket -> the
    # one-archive selection fans out over >1 shuffle partition.  AQE
    # rightly coalesces these test-sized partitions back together, so
    # pin the LAYOUT with coalescing off (at crawl scale the buckets
    # are task-sized and survive on their own).
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        split = read_warc_selected(spark, idx, task_bytes=1)
        pids = {
            r.pid for r in
            split.withColumn("pid", F.spark_partition_id()).collect()
        }
        assert len(pids) >= 2, pids
        assert rowset(split) == want
        # default width: one small file -> one bucket -> one partition
        one = {
            r.pid for r in
            base.withColumn("pid", F.spark_partition_id()).collect()
        }
        assert len(one) == 1
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        )

    with pytest.raises(ValueError, match="task_bytes"):
        read_warc_selected(spark, idx, task_bytes=0)

    # opener seam: injected ranged reader, byte-identical rows, and
    # every logged read is exactly one indexed span
    log_dir = tmp_path / "readlog"
    log_dir.mkdir()
    via = read_warc_selected(spark, idx, opener=_RangedOpener(str(log_dir)))
    assert rowset(via) == want
    logged = set()
    for lf in os.listdir(log_dir):
        for line in open(log_dir / lf):
            off, n = line.strip().split(",")
            logged.add((int(off), int(n)))
    assert logged == spans  # ranged: only the indexed spans were read


def test_write_cdx_pruned_lookup(spark, tmp_path):
    """r13 verdict item 8: the CDX landing partitioned by host-hash
    prefix — a domain lookup prunes to ONE directory (FileSourceScan
    numPartitions/numFiles pinned), probe rows identical to a
    full-scan filter, and the pruned rows feed read_warc_selected."""
    from pyspark.sql import functions as F

    from zeek_duckdb_spark.sources.warc import (
        cdx_records, read_cdx, read_warc_selected, write_cdx)

    recs = [
        _resp(f"https://d{i % 7}.org/p{i}", f"<p>doc {i}</p>".encode())
        for i in range(35)
    ]
    (tmp_path / "c.warc.gz").write_bytes(encode_warc(recs))
    idx = cdx_records(spark, str(tmp_path / "*.warc.gz"))
    land = str(tmp_path / "cdxidx")
    write_cdx(idx, land, pfx_mod=8)

    def scan_metrics(df):
        df.collect()
        leaf = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        m = leaf.metrics()
        return {k: m.apply(k).value() for k in ("numFiles", "numPartitions")}

    full = scan_metrics(read_cdx(spark, land))
    probe = read_cdx(spark, land, "org,d3)", pfx_mod=8)
    pruned = scan_metrics(probe)
    assert pruned["numPartitions"] == 1 < full["numPartitions"]
    assert 0 < pruned["numFiles"] < full["numFiles"]
    assert "PartitionFilters" in (
        probe._jdf.queryExecution().executedPlan().toString()
    )

    # probe rows == full-scan filter rows
    want = {
        (r.urlkey, r.record_id, r.offset, r.length)
        for r in read_cdx(spark, land).filter(
            F.col("urlkey").startswith("org,d3)")).collect()
    }
    got = {
        (r.urlkey, r.record_id, r.offset, r.length)
        for r in probe.collect()
    }
    assert got == want and len(got) == 5

    # host-incomplete prefix: unpruned but correct
    shallow = read_cdx(spark, land, "org,d3", pfx_mod=8)
    assert {
        (r.urlkey, r.record_id) for r in shallow.collect()
    } >= {(r[0], r[1]) for r in want}

    # the payoff chain: pruned probe -> selected spans -> records
    sel = read_warc_selected(spark, probe, decode_text=True).collect()
    assert sorted(r.body_text for r in sel) == sorted(
        f"<p>doc {i}</p>" for i in (3, 10, 17, 24, 31)
    )

    with pytest.raises(ValueError, match="pfx_mod"):
        write_cdx(idx, land, pfx_mod=0)
    with pytest.raises(ValueError, match="mode must be"):
        write_cdx(idx, land, mode="error")


@pytest.mark.slow
def test_cdx_records_stream_daily_index_loop(spark, tmp_path):
    """The daily index-maintenance shape (r14): rotated-in WARC files
    become exactly-once CDX micro-batches; foreachBatch lands them
    into the write_cdx pruned layout; after two days the standing
    index equals the batch rebuild and a domain probe still prunes +
    feeds read_warc_selected."""
    from pyspark.sql import functions as F

    from zeek_duckdb_spark.sources.warc import (
        cdx_records, cdx_records_stream, read_cdx, read_warc_selected,
        write_cdx)

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    land, ck = str(tmp_path / "idx"), str(tmp_path / "ck")

    def day(i):
        return encode_warc([
            _resp(f"https://d{j}.org/day{i}", f"<p>d{i}p{j}</p>".encode())
            for j in range(3)
        ])

    (crawl / "day0.warc.gz").write_bytes(day(0))

    def drain():
        q = (
            cdx_records_stream(spark, str(crawl / "*.warc.gz"))
            .writeStream.foreachBatch(
                lambda df, _id: write_cdx(df, land, pfx_mod=8,
                                          mode="append"))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    drain()
    assert read_cdx(spark, land).count() == 3
    (crawl / "day1.warc.gz").write_bytes(day(1))
    drain()  # day0 NOT re-indexed (checkpoint)
    standing = read_cdx(spark, land)
    assert standing.count() == 6

    batch = cdx_records(spark, str(crawl / "*.warc.gz"))
    key = lambda rows: {  # noqa: E731
        (r.urlkey, r.record_id, r.offset, r.length, r.digest)
        for r in rows
    }
    assert key(standing.collect()) == key(batch.collect())

    # the probe still prunes and feeds selected reads
    probe = read_cdx(spark, land, "org,d1)", pfx_mod=8)
    got = read_warc_selected(spark, probe, decode_text=True).collect()
    assert sorted(r.body_text for r in got) == ["<p>d0p1</p>", "<p>d1p1</p>"]

    # multi-prefix (batch-of-domains) probe: union of the singles
    multi = read_cdx(spark, land, ["org,d0)", "org,d2)"], pfx_mod=8)
    assert {r.url for r in multi.collect()} == {
        f"https://d{j}.org/day{i}" for j in (0, 2) for i in (0, 1)
    }
    # a host-incomplete prefix in the list falls back unpruned but
    # correct; empty list selects nothing
    assert read_cdx(spark, land, ["org,d0"], pfx_mod=8).count() == 2
    assert read_cdx(spark, land, [], pfx_mod=8).count() == 0

    # compaction: after two appends each pfx dir holds 2+ files;
    # compact_cdx rewrites to the target and probes are unchanged
    import glob as _glob

    from zeek_duckdb_spark.sources.warc import compact_cdx

    before = {(r.url, r.record_id) for r in read_cdx(spark, land).collect()}
    stats = compact_cdx(spark, land)
    assert isinstance(stats, dict)
    assert {(r.url, r.record_id)
            for r in read_cdx(spark, land).collect()} == before
    pfx_dirs = _glob.glob(os.path.join(land, "pfx=*"))
    assert pfx_dirs and all(
        len(_glob.glob(os.path.join(d, "*.parquet"))) == 1
        for d in pfx_dirs
    )
    assert read_cdx(spark, land, "org,d1)", pfx_mod=8).count() == 2
    # the within-file (urlkey, cdx_ts) sort SURVIVES compaction (the
    # row-group-stats skipping write_cdx set up — r14 review)
    import pyarrow.parquet as pq

    for d in pfx_dirs:
        for pf in _glob.glob(os.path.join(d, "*.parquet")):
            keys = pq.read_table(pf, columns=["urlkey", "cdx_ts"])
            pairs = list(zip(keys.column(0).to_pylist(),
                             keys.column(1).to_pylist()))
            assert pairs == sorted(pairs), pf

    with pytest.raises(ValueError, match="s3a://"):
        cdx_records_stream(spark, "s3a://b/crawl")
    with pytest.raises(ValueError, match="digest"):
        cdx_records_stream(spark, str(crawl), digest="x")

    # a bare-string record_types means ONE type, not its characters
    # (r14 review: ','.join('metadata') silently matched nothing)
    as_str = cdx_records(
        spark, str(crawl / "*.warc.gz"), record_types="response")
    assert as_str.count() == 6
    # and a raw .option('digest', typo) on the DataSource errors
    # instead of silently hashing 'decoded'
    spark.dataSource.register(
        __import__(
            "zeek_duckdb_spark.sources.warc", fromlist=["CdxDataSource"]
        ).CdxDataSource
    )
    with pytest.raises(Exception, match="digest must be"):
        (spark.read.format("cdx").option("digest", "storred")
         .load(str(crawl / "*.warc.gz")).collect())


@pytest.mark.slow
def test_over_2gib_plain_warc_ingests(spark, tmp_path):
    """THE round-14 acceptance: a legal >2 GiB uncompressed WARC —
    which binaryFile hard-fails at its 2 GiB row limit — ingests
    through the streaming engine with bounded task memory.  The file
    is sparse (zero payloads), so disk cost is ~nothing; all 2.1 GiB
    flow through the incremental parser, while only the two selected
    ``resource`` records cross Arrow (the record-type filter drops the
    bulk ``metadata`` filler before row assembly, keeping the suite's
    wall-clock sane — the memory bound itself is pinned by
    test_incremental_parser_bounded_buffer)."""
    from pyspark.sql import functions as F

    payload = 32 << 20
    n = 66  # 66 * 32 MiB = 2.06 GiB > 2^31
    f = str(tmp_path / "big.warc")
    with open(f, "wb") as fh:
        for i in range(n):
            wtype = "resource" if i in (0, n - 1) else "metadata"
            hdr = (
                f"WARC/1.0\r\nWARC-Type: {wtype}\r\n"
                f"WARC-Record-ID: <urn:sparse:{i}>\r\n"
                f"WARC-Target-URI: sparse:{i}\r\n"
                f"Content-Length: {payload}\r\n\r\n"
            ).encode()
            fh.write(hdr)
            fh.seek(payload - 1, 1)
            fh.write(b"\0")
            fh.write(b"\r\n\r\n")
    assert os.path.getsize(f) > (1 << 31)

    df = read_warc(spark, f, record_types=("resource",))
    agg = df.agg(
        F.count("*").alias("n"),
        F.sum(F.length("body")).alias("total"),
    ).collect()[0]
    assert agg.n == 2
    assert agg.total == 2 * payload


@pytest.mark.slow
def test_warc_stream_poisoned_file_restart_determinism(spark, tmp_path):
    """Round-15 (r14 verdict item 8): error-path determinism of the
    checkpointed stream when a CORRUPT file rotates in.  Pins the
    contract: the poisoned batch fails loudly (no silent skip), a
    restart re-plans the SAME file from the WAL'd offset and fails
    with the SAME error, and once the file is repaired the stream
    resumes with the earlier good file's rows NOT duplicated and the
    repaired file's rows landing exactly once."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from zeek_duckdb_spark.sources.warc import read_warc_stream

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    out, ck = str(tmp_path / "landed"), str(tmp_path / "ck")
    (crawl / "day0.warc").write_bytes(
        encode_warc([_resp("http://g.org/a", b"<p>good</p>")],
                    compress=False))

    def drain():
        q = (
            read_warc_stream(spark, str(crawl / "*.warc"))
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    drain()
    assert [r.target_uri for r in spark.read.parquet(out).collect()] == [
        "http://g.org/a"]

    # rotate in a poisoned file: unparseable Content-Length
    poison = (b"WARC/1.0\r\nWARC-Type: response\r\n"
              b"Content-Length: notanumber\r\n\r\n")
    (crawl / "day1.warc").write_bytes(poison)
    with pytest.raises(StreamingQueryException, match="bad WARC Content-Length"):
        drain()
    # restart: the WAL'd batch re-plans the same file -> same error,
    # never a silent skip
    with pytest.raises(StreamingQueryException, match="bad WARC Content-Length"):
        drain()
    # day0's rows were committed in batch 0 and are not duplicated by
    # the failing replays
    assert [r.target_uri for r in spark.read.parquet(out).collect()] == [
        "http://g.org/a"]

    # repair the file in place (same path, same WAL'd offset entry):
    # the replayed batch now succeeds and its rows land exactly once
    (crawl / "day1.warc").write_bytes(
        encode_warc([_resp("http://g.org/b", b"<p>fixed</p>")],
                    compress=False))
    drain()
    assert sorted(
        r.target_uri for r in spark.read.parquet(out).collect()
    ) == ["http://g.org/a", "http://g.org/b"]

@pytest.mark.slow
def test_cdx_stream_poisoned_file_restart_determinism(spark, tmp_path):
    """The cdx stream twin of the warc poisoned-file pin (r14 verdict
    item 8): a corrupt gzip container rotated into a checkpointed
    ``cdx_records_stream`` fails its batch loudly, a restart replays
    the SAME file with the SAME error, and after in-place repair the
    index resumes — prior rows not duplicated, repaired file's spans
    landing exactly once."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from zeek_duckdb_spark.sources.warc import cdx_records_stream

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    out, ck = str(tmp_path / "idx"), str(tmp_path / "ck")
    (crawl / "day0.warc.gz").write_bytes(
        encode_warc([_resp("http://g.org/a", b"<p>good</p>")]))

    def drain():
        q = (
            cdx_records_stream(spark, str(crawl / "*.warc.gz"))
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    drain()
    assert [r.url for r in spark.read.parquet(out).collect()] == [
        "http://g.org/a"]

    # poison: gzip magic over garbage — the capped member iterator
    # aborts, it must never emit spans for a container it cannot frame
    (crawl / "day1.warc.gz").write_bytes(b"\x1f\x8b" + b"\xde\xad" * 40)
    with pytest.raises(StreamingQueryException, match="corrupt"):
        drain()
    with pytest.raises(StreamingQueryException, match="corrupt"):
        drain()
    assert [r.url for r in spark.read.parquet(out).collect()] == [
        "http://g.org/a"]

    (crawl / "day1.warc.gz").write_bytes(
        encode_warc([_resp("http://g.org/b", b"<p>fixed</p>")]))
    drain()
    rows = spark.read.parquet(out).collect()
    assert sorted(r.url for r in rows) == [
        "http://g.org/a", "http://g.org/b"]
    assert all(r.urlkey for r in rows)  # the JVM-side key survives
