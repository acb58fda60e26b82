"""WARC reader (sources/warc.py): spec round-trips (plain and
member-per-record gzip), HTTP response head parsing incl. chunked
transfer-encoding, record-type filtering, loud error surfaces, and the
complete raw-crawl chain — read_warc -> decode -> extract_text_html ->
clean_corpus."""

import gzip

import pytest

from pyspark.sql import functions as F

from zeek_duckdb_spark.sources.warc import encode_warc, parse_warc, read_warc


def _http(body: bytes, ctype="text/html", status=200, chunked=False) -> bytes:
    if chunked:
        chunks = [body[i : i + 7] for i in range(0, len(body), 7)]
        enc = b"".join(b"%x\r\n" % len(c) + c + b"\r\n" for c in chunks)
        enc += b"0\r\n\r\n"
        head = (
            f"HTTP/1.1 {status} OK\r\nContent-Type: {ctype}\r\n"
            "Transfer-Encoding: chunked\r\n\r\n"
        ).encode()
        return head + enc
    head = (
        f"HTTP/1.1 {status} OK\r\nContent-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode()
    return head + body


def _response_rec(uri: str, body: bytes, **kw):
    return (
        {
            "WARC-Type": "response",
            "WARC-Record-ID": f"<urn:uuid:{abs(hash(uri)) % 10**12}>",
            "WARC-Target-URI": uri,
            "WARC-Date": "2026-08-16T00:00:00Z",
            "Content-Type": "application/http; msgtype=response",
        },
        _http(body, **kw),
    )


def test_parse_roundtrip_plain_and_gzip():
    recs = [
        ({"WARC-Type": "warcinfo"}, b"software: test\r\n"),
        _response_rec("http://a.org/x", b"<p>hello</p>"),
        ({"WARC-Type": "request", "WARC-Target-URI": "http://a.org/x"},
         b"GET /x HTTP/1.1\r\n\r\n"),
    ]
    for compress in (False, True):
        blob = encode_warc(recs, compress=compress)
        got = list(parse_warc(blob))
        assert [r["headers"]["warc-type"] for r in got] == [
            "warcinfo", "response", "request",
        ]
        assert got[1]["headers"]["warc-target-uri"] == "http://a.org/x"
        assert got[1]["payload"].endswith(b"<p>hello</p>")
        # gzip layout really is one member per record
        if compress:
            assert blob.count(b"\x1f\x8b\x08") >= 3


def test_error_surfaces():
    with pytest.raises(ValueError, match="payload is None"):
        list(parse_warc(None))
    with pytest.raises(ValueError, match="version line"):
        list(parse_warc(b"NOT A WARC\r\n\r\n"))
    ok = encode_warc([_response_rec("http://a.org/", b"x")], compress=False)
    with pytest.raises(ValueError, match="truncated WARC record payload"):
        list(parse_warc(ok[: len(ok) - 8]))
    no_len = b"WARC/1.0\r\nWARC-Type: metadata\r\n\r\nbody\r\n\r\n"
    with pytest.raises(ValueError, match="missing Content-Length"):
        list(parse_warc(no_len))
    # structurally-non-HTTP payload still raises at the UNIT level —
    # the expansion map gates on the record Content-Type and
    # quarantines instead (test_non_http_response_quarantine)
    from zeek_duckdb_spark.sources.warc import _parse_http_response

    with pytest.raises(ValueError, match="not HTTP"):
        _parse_http_response(b"garbage bytes", "t")
    # broken chunk framing QUARANTINES (residual 'chunked', raw
    # still-framed bytes kept) — same WARC-Truncated event as a
    # truncated gzip entity, same policy (round-13)
    bad_chunk = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Transfer-Encoding: chunked\r\n\r\nzz\r\nx\r\n0\r\n\r\n"
    )
    s, c, b, e = _parse_http_response(bad_chunk, "t")
    assert (s, e) == (200, "chunked")
    assert b == b"zz\r\nx\r\n0\r\n\r\n"


def test_read_warc_end_to_end_chain(spark, tmp_path):
    """The complete raw-crawl shape: two .warc.gz files -> response
    rows (requests filtered, chunked bodies decoded, status/ctype from
    the HTTP head) -> utf-8 decode -> extract_text_html ->
    clean_corpus, where a markup-only re-crawl of the same page dies
    as an exact dup of the extracted text."""
    from zeek_duckdb_spark.operators.htmlops import extract_text_html
    from zeek_duckdb_spark.operators.pipeline import clean_corpus

    body = ("the quick brown fox jumps over the lazy dog " * 3).strip()
    page_a = f"<html><body><p>{body}</p></body></html>".encode()
    page_a2 = (
        f"<html><body><script>x()</script><div>{body}</div></body></html>"
    ).encode()
    page_b = ("<p>" + "different novel content here " * 5 + "</p>").encode()

    f1 = tmp_path / "crawl-00.warc.gz"
    f1.write_bytes(encode_warc([
        ({"WARC-Type": "warcinfo"}, b"software: test\r\n"),
        _response_rec("http://site.org/a", page_a),
        ({"WARC-Type": "request", "WARC-Target-URI": "http://site.org/a"},
         b"GET /a HTTP/1.1\r\n\r\n"),
        _response_rec("http://site.org/b", page_b, chunked=True),
    ]))
    f2 = tmp_path / "crawl-01.warc.gz"
    f2.write_bytes(encode_warc([
        _response_rec("http://mirror.net/a", page_a2),
        _response_rec("http://site.org/404", b"gone", status=404,
                      ctype="text/plain"),
    ]))

    df = read_warc(spark, str(tmp_path / "*.warc.gz"))
    rows = {r.target_uri: r for r in df.collect()}
    # requests/warcinfo filtered; 4 responses across 2 files
    assert set(rows) == {
        "http://site.org/a", "http://site.org/b",
        "http://mirror.net/a", "http://site.org/404",
    }
    assert rows["http://site.org/404"].http_status == 404
    assert rows["http://site.org/a"].content_type == "text/html"
    assert bytes(rows["http://site.org/b"].body) == page_b  # chunked decoded
    assert rows["http://site.org/a"].warc_date == "2026-08-16T00:00:00Z"

    # record-type opt-in: requests visible when asked
    all_types = read_warc(
        spark, str(tmp_path / "*.warc.gz"), record_types=None
    )
    assert all_types.count() == 6

    # the chain: HTML pages -> text -> clean corpus
    pages = (
        df.filter((F.col("http_status") == 200)
                  & (F.col("content_type") == "text/html"))
        .select(
            F.xxhash64("target_uri").alias("doc_id"),
            "target_uri",
            F.decode(F.col("body"), "utf-8").alias("html"),
        )
    )
    text = extract_text_html(pages, "html", "text").drop("html")
    cleaned = clean_corpus(text, min_tokens=5)  # keeps (doc_id, text, q_*)
    survivors = {
        r.target_uri
        for r in cleaned.join(text.select("doc_id", "target_uri"), "doc_id")
        .collect()
    }
    # same extracted text from site.org/a and mirror.net/a -> one survives
    assert len(survivors) == 2
    assert "http://site.org/b" in survivors
    assert len({"http://site.org/a", "http://mirror.net/a"} & survivors) == 1

    # plan shape: pure map over the file scan, zero shuffle
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_negative_content_length_rejected():
    """A crafted Content-Length that moves the cursor backwards must
    raise, not loop forever re-yielding the same record (round-12)."""
    rec = (b"WARC/1.0\r\nWARC-Type: metadata\r\nContent-Length: -54\r\n"
           b"\r\nbody\r\n\r\n")
    with pytest.raises(ValueError, match="bad WARC Content-Length"):
        list(parse_warc(rec))
    with pytest.raises(ValueError, match="bad WARC Content-Length"):
        list(parse_warc(rec.replace(b"-54", b"4x")))


def test_content_encoding_decode_and_quarantine():
    """Content-Encoding applies to the entity: gzip/deflate bodies
    (ubiquitous in real crawls) decompress with a NULL residual;
    unsupported (br) or UNDECODABLE (truncated gzip — crawls cap
    record sizes) bodies are QUARANTINED — raw bytes kept, residual
    names the encoding — instead of one poison page killing the job
    or wedging the checkpointed stream (round-12)."""
    import zlib

    from zeek_duckdb_spark.sources.warc import _parse_http_response

    body = b"<p>compressed page</p>"

    def resp(enc_name, payload):
        return (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            f"Content-Encoding: {enc_name}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode() + payload

    s, c, b, e = _parse_http_response(resp("gzip", gzip.compress(body)), "t")
    assert b == body and e is None
    s, c, b, e = _parse_http_response(resp("deflate", zlib.compress(body)), "t")
    assert b == body and e is None
    # raw-deflate variant some servers emit
    raw = zlib.compressobj(wbits=-15)
    s, c, b, e = _parse_http_response(
        resp("deflate", raw.compress(body) + raw.flush()), "t"
    )
    assert b == body and e is None
    # brotli GARBAGE: quarantined, raw bytes preserved (a valid br
    # stream decodes — test_brotli_zstd_entity_recovery)
    s, c, b, e = _parse_http_response(resp("br", b"\x00\x01"), "t")
    assert (b, e) == (b"\x00\x01", "br")
    # truncated gzip: quarantined, not a crash
    trunc = gzip.compress(body)[:-6]
    s, c, b, e = _parse_http_response(resp("gzip", trunc), "t")
    assert (b, e) == (trunc, "gzip")


def test_brotli_zstd_entity_recovery(spark, tmp_path):
    """Round-13: ``Content-Encoding: br`` and ``zstd`` entities decode
    through pyarrow's bundled codecs, so those pages' text is RECOVERED
    instead of silently absent from the corpus; truncated streams still
    quarantine cleanly.  A mixed fixture measures the recovered-page
    fraction: everything but the truncated entity."""
    import pyarrow as pa

    from zeek_duckdb_spark.sources.warc import _parse_http_response

    body = b"<p>the encoded page body</p>" * 10
    br = pa.Codec("brotli").compress(body, asbytes=True)

    def resp(enc, payload):
        return (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            f"Content-Encoding: {enc}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode() + payload

    s, c, b, e = _parse_http_response(resp("br", br), "t")
    assert (b, e) == (body, None)
    # truncated br: quarantined
    s, c, b, e = _parse_http_response(resp("br", br[: len(br) // 2]), "t")
    assert (b, e) == (br[: len(br) // 2], "br")
    zs = pa.Codec("zstd").compress(body, asbytes=True)
    s, c, b, e = _parse_http_response(resp("zstd", zs), "t")
    assert (b, e) == (body, None)
    # truncated zstd: quarantined
    s, c, b, e = _parse_http_response(resp("zstd", zs[:-3]), "t")
    assert (b, e) == (zs[:-3], "zstd")

    # mixed-fixture recovered-page fraction through read_warc
    def rec(uri, payload):
        return ({"WARC-Type": "response", "WARC-Record-ID": f"<urn:{uri}>",
                 "WARC-Target-URI": uri,
                 "Content-Type": "application/http; msgtype=response"},
                payload)

    (tmp_path / "mix.warc.gz").write_bytes(encode_warc([
        rec("http://m.org/plain", resp("identity", body)),
        rec("http://m.org/gz", resp("gzip", gzip.compress(body))),
        rec("http://m.org/br", resp("br", br)),
        rec("http://m.org/br-trunc", resp("br", br[:8])),
    ]))
    df = read_warc(spark, str(tmp_path / "*.warc.gz"), decode_text=True)
    rows = {r.target_uri: r for r in df.collect()}
    recovered = {u for u, r in rows.items() if r.content_encoding is None}
    assert recovered == {
        "http://m.org/plain", "http://m.org/gz", "http://m.org/br",
    }  # 3/4 recovered; only the truncated entity stays quarantined
    assert rows["http://m.org/br"].body_text == body.decode()
    assert rows["http://m.org/br-trunc"].body_text is None


def test_decode_text_and_quarantine_columns(spark, tmp_path):
    """decode_text=True lands body_text in the SAME expansion map
    (one Arrow crossing); quarantined records carry NULL body_text and
    the encoding name, and filter out via content_encoding IS NULL."""
    good = _response_rec("http://q.org/ok", "página ok".encode("latin-1"),
                         ctype="text/html; charset=ISO-8859-1")
    br_http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: br\r\nContent-Length: 2\r\n\r\n\x00\x01"
    )
    bad = ({"WARC-Type": "response", "WARC-Record-ID": "<urn:q2>",
            "WARC-Target-URI": "http://q.org/br",
            "Content-Type": "application/http; msgtype=response"}, br_http)
    (tmp_path / "q.warc.gz").write_bytes(encode_warc([good, bad]))
    df = read_warc(spark, str(tmp_path / "*.warc.gz"), decode_text=True)
    rows = {r.target_uri: r for r in df.collect()}
    ok, br = rows["http://q.org/ok"], rows["http://q.org/br"]
    assert ok.content_encoding is None and ok.body_text == "página ok"
    assert br.content_encoding == "br" and br.body_text is None
    assert bytes(br.body) == b"\x00\x01"
    clean = df.filter("content_encoding IS NULL")
    assert clean.count() == 1


def test_body_text_col_charset_decode(spark):
    """Charset-aware entity decode: the Content-Type charset is
    honored, absent/garbage charsets fall back to utf-8, undecodable
    bytes become U+FFFD instead of killing the job, NULL passes."""
    from zeek_duckdb_spark.sources.warc import body_text_col

    rows = [
        (1, bytearray("café".encode("utf-8")), "text/html"),
        (2, bytearray("café".encode("latin-1")),
         'text/html; charset="ISO-8859-1"'),
        (3, bytearray("caf\xe9 page".encode("latin-1")), "text/html"),
        (4, bytearray(b"plain"), "text/html; charset=bogus-name-99"),
        (5, None, "text/html"),
        (6, bytearray("你好".encode("gbk")),
         "text/html; charset=GBK"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, body binary, content_type string"
    )
    got = {
        r.doc_id: r.text
        for r in df.select("doc_id", body_text_col().alias("text")).collect()
    }
    assert got[1] == "café"
    assert got[2] == "café"                       # declared latin-1
    assert got[3] == "caf� page"             # lying utf-8: replace
    assert got[4] == "plain"                      # unknown charset name
    assert got[5] is None
    assert got[6] == "你好"               # gbk honored


@pytest.mark.slow
def test_read_warc_stream_exactly_once(spark, tmp_path):
    """The daily-crawl stream shape: rotated-in WARC files become
    micro-batches; a second availableNow run from the same checkpoint
    parses ONLY the new file (no duplicates), matching the batch
    reader's rows."""
    from zeek_duckdb_spark.sources.warc import read_warc_stream

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    out = str(tmp_path / "landed")
    ck = str(tmp_path / "ck")

    def day(i):
        return encode_warc([
            _response_rec(f"http://d{i}.org/a", b"<p>day page a</p>"),
            _response_rec(f"http://d{i}.org/b", b"<p>day page b</p>"),
        ])

    (crawl / "day0.warc.gz").write_bytes(day(0))

    def drain():
        q = (
            read_warc_stream(spark, str(crawl), max_files_per_trigger=1)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    got = {r.target_uri for r in spark.read.parquet(out).collect()}
    assert got == {"http://d0.org/a", "http://d0.org/b"}

    (crawl / "day1.warc.gz").write_bytes(day(1))
    drain()  # restart from the checkpoint
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 4  # day0 NOT re-parsed
    assert {r.target_uri for r in rows} == {
        f"http://d{i}.org/{p}" for i in (0, 1) for p in "ab"
    }
    # row content matches the batch reader
    batch = {
        (r.target_uri, bytes(r.body), r.http_status)
        for r in read_warc(spark, str(crawl / "*.warc.gz")).collect()
    }
    stream = {
        (r.target_uri, bytes(r.body), r.http_status) for r in rows
    }
    assert batch == stream

    with pytest.raises(ValueError, match="max_files_per_trigger"):
        read_warc_stream(spark, str(crawl), max_files_per_trigger=0)


def test_chunked_truncation_quarantine_batch_and_stream(spark, tmp_path):
    """A capped mid-chunk response (the WARC-Truncated event for
    chunked framing) must QUARANTINE — residual 'chunked', raw
    still-framed bytes kept — in both the batch and streaming readers,
    and must not wedge the checkpointed stream on restart (round-13:
    the quarantine policy is uniform, not gzip-only)."""
    from zeek_duckdb_spark.sources.warc import read_warc_stream

    capped = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Transfer-Encoding: chunked\r\n\r\nff\r\n<p>only ten"
    )
    crawl = tmp_path / "crawl"
    crawl.mkdir()
    (crawl / "day0.warc.gz").write_bytes(encode_warc([
        _response_rec("http://ok.org/a", b"<p>good page</p>"),
        ({"WARC-Type": "response", "WARC-Record-ID": "<urn:capped>",
          "WARC-Target-URI": "http://capped.org/x",
          "Content-Type": "application/http; msgtype=response"}, capped),
    ]))

    df = read_warc(spark, str(crawl / "*.warc.gz"), decode_text=True)
    rows = {r.target_uri: r for r in df.collect()}
    bad = rows["http://capped.org/x"]
    assert bad.content_encoding == "chunked"
    assert bytes(bad.body) == b"ff\r\n<p>only ten"
    assert bad.http_status == 200 and bad.body_text is None
    assert rows["http://ok.org/a"].content_encoding is None

    out, ck = str(tmp_path / "landed"), str(tmp_path / "ck")

    def drain():
        q = (
            read_warc_stream(spark, str(crawl))
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    drain()  # the poison file parses instead of wedging the stream
    got = {r.target_uri: r.content_encoding
           for r in spark.read.parquet(out).collect()}
    assert got == {"http://ok.org/a": None, "http://capped.org/x": "chunked"}
    # restart with a new file: checkpoint advances past the capped one
    (crawl / "day1.warc.gz").write_bytes(encode_warc([
        _response_rec("http://ok.org/b", b"<p>next day</p>"),
    ]))
    drain()
    assert spark.read.parquet(out).count() == 3


def test_non_http_response_quarantine(spark, tmp_path):
    """WARC permits response records whose payload is not HTTP
    (DNS/FTP captures).  HTTP parsing gates on the record Content-Type:
    non-HTTP captures pass through raw (NULL residual, WARC header
    content_type); a record CLAIMING application/http with a garbage
    payload quarantines under residual 'http'; a Content-Type-less
    record sniffs (round-13)."""
    dns_payload = b"20260816 fc.example.org A 192.0.2.7\n"
    recs = [
        _response_rec("http://ok.org/a", b"<p>http page</p>"),
        ({"WARC-Type": "response", "WARC-Record-ID": "<urn:dns>",
          "WARC-Target-URI": "dns:fc.example.org",
          "Content-Type": "text/dns"}, dns_payload),
        ({"WARC-Type": "response", "WARC-Record-ID": "<urn:lying>",
          "WARC-Target-URI": "http://lying.org/x",
          "Content-Type": "application/http; msgtype=response"},
         b"garbage that is not HTTP"),
        # sloppy writer: no Content-Type at all, payload IS HTTP
        ({"WARC-Type": "response", "WARC-Record-ID": "<urn:sniff>",
          "WARC-Target-URI": "http://sniff.org/y"},
         _http(b"<p>sniffed</p>")),
        # sloppier writer: record stamped with the ENTITY type but the
        # payload is a full HTTP message — must still parse (r13
        # review: header-only gating silently lost these pages)
        ({"WARC-Type": "response", "WARC-Record-ID": "<urn:mislabel>",
          "WARC-Target-URI": "http://mislabel.org/z",
          "Content-Type": "text/html"},
         _http(b"<p>mislabeled</p>")),
        # a NON-declared text body that merely STARTS with 'HTTP/'
        # (a document about HTTP) must pass through clean — the sniff
        # only force-parses, never force-quarantines (r13 review)
        ({"WARC-Type": "response", "WARC-Record-ID": "<urn:about>",
          "WARC-Target-URI": "http://about.org/http.txt",
          "Content-Type": "text/plain"},
         b"HTTP/1.1 is the most widely deployed protocol version."),
    ]
    (tmp_path / "mixed.warc.gz").write_bytes(encode_warc(recs))
    df = read_warc(spark, str(tmp_path / "*.warc.gz"), decode_text=True)
    rows = {r.target_uri: r for r in df.collect()}
    assert len(rows) == 6  # nothing raised; the file survived intact

    dns = rows["dns:fc.example.org"]
    assert dns.content_encoding is None and dns.http_status is None
    assert dns.content_type == "text/dns"
    assert bytes(dns.body) == dns_payload
    assert dns.body_text == dns_payload.decode()  # decodable passthrough

    lying = rows["http://lying.org/x"]
    assert lying.content_encoding == "http" and lying.http_status is None
    assert bytes(lying.body) == b"garbage that is not HTTP"
    assert lying.body_text is None
    assert lying.content_type == "application/http; msgtype=response"

    sniffed = rows["http://sniff.org/y"]
    assert sniffed.http_status == 200
    assert sniffed.content_type == "text/html"
    assert sniffed.body_text == "<p>sniffed</p>"

    mis = rows["http://mislabel.org/z"]
    assert mis.http_status == 200 and mis.content_encoding is None
    assert mis.body_text == "<p>mislabeled</p>"

    about = rows["http://about.org/http.txt"]
    assert about.http_status is None and about.content_encoding is None
    assert about.content_type == "text/plain"
    assert about.body_text.startswith("HTTP/1.1 is the most")


def test_expand_flush_bounds(monkeypatch, tmp_path):
    """The record reader must yield bounded batches — never a whole
    crawl file's expansion in one flush (round-13: x32 tasks at
    local[32], a 1 GiB file's 2-3 GiB expansion per task would stack
    to the memory budget).  Unit-level: drive the per-file generator
    directly and assert per-yield row counts and content equality."""
    import pyarrow as pa

    from zeek_duckdb_spark.sources import warc as W

    f = tmp_path / "f.warc.gz"
    f.write_bytes(encode_warc([
        _response_rec(f"http://m.org/{i}", f"<p>page {i}</p>".encode())
        for i in range(25)
    ]))

    def run():
        return list(W._path_record_batches(str(f), {"response"}, False))

    whole = pa.Table.from_batches(run())
    assert whole.num_rows == 25

    monkeypatch.setattr(W, "_FLUSH_RECORDS", 8)
    frames = run()
    assert [b.num_rows for b in frames] == [8, 8, 8, 1]
    assert pa.Table.from_batches(frames).equals(whole)

    # byte-threshold path: one big body forces a flush
    monkeypatch.setattr(W, "_FLUSH_RECORDS", 10_000)
    monkeypatch.setattr(W, "_FLUSH_BYTES", 64)
    frames = run()
    assert len(frames) > 1 and all(b.num_rows <= 5 for b in frames)
    assert pa.Table.from_batches(frames).equals(whole)


def test_crawl_image_near_dup_chain(spark, tmp_path):
    """The complete multimodal crawl chain on one WARC: read_warc ->
    filter image/* responses -> phash_media(decoder='image', four-way
    sniff) -> phash_pairs, where the SAME image served as PNG at one
    URL and as lossless WebP at another collapses as a near-dup pair
    across formats, and an unrelated image does not (round-13: the
    WebP codec completes the crawl-thumbnail sniff)."""
    import numpy as np

    from zeek_duckdb_spark.operators import multimodal as mm
    from zeek_duckdb_spark.operators.png import encode_png
    from zeek_duckdb_spark.operators.webp import encode_webp

    rng = np.random.RandomState(5)
    img = rng.normal(0, 1, (128, 128))
    for _ in range(3):
        img = (np.roll(img, 1, 0) + img + np.roll(img, -1, 0)) / 3
        img = (np.roll(img, 1, 1) + img + np.roll(img, -1, 1)) / 3
    img = np.round(
        (img - img.min()) / (img.max() - img.min()) * 255
    )[:64, :64].astype(np.uint8)
    other = rng.randint(0, 256, (64, 64)).astype(np.uint8)

    def img_rec(uri, payload, ctype):
        http = (
            f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode() + payload
        return ({"WARC-Type": "response", "WARC-Record-ID": f"<urn:{uri}>",
                 "WARC-Target-URI": uri,
                 "Content-Type": "application/http; msgtype=response"},
                http)

    (tmp_path / "media.warc.gz").write_bytes(encode_warc([
        img_rec("http://m.org/a.png", encode_png(img), "image/png"),
        img_rec("http://m.org/a.webp", encode_webp(img), "image/webp"),
        img_rec("http://m.org/other.png", encode_png(other), "image/png"),
        _response_rec("http://m.org/page", b"<p>not an image</p>"),
    ]))

    from pyspark.sql import functions as F

    imgs = (
        read_warc(spark, str(tmp_path / "*.warc.gz"))
        .filter(F.col("content_type").startswith("image/")
                & F.col("content_encoding").isNull())
        .select(F.xxhash64("target_uri").alias("doc_id"),
                "target_uri", F.col("body").alias("media"))
    )
    hashed = mm.phash_media(imgs, decoder="image")
    uri_of = {r.doc_id: r.target_uri for r in imgs.collect()}
    pairs = [
        (uri_of[r.id_a], uri_of[r.id_b])
        for r in mm.phash_pairs(hashed, max_hamming=6).collect()
    ]
    assert sorted(pairs[0]) == sorted(
        ("http://m.org/a.png", "http://m.org/a.webp")
    ) and len(pairs) == 1, pairs


def test_cdx_records_random_access_roundtrip(spark, tmp_path):
    """CDX index generation (round-13): the emitted (offset, length)
    spans honor the web-archive random-access contract — seek into the
    .warc.gz, read length bytes, gunzip, parse EXACTLY the indexed
    record — and urlkey/digest/timestamp follow the public CDX
    conventions (SURT key, sha1-base32 of the decoded entity,
    14-digit time)."""
    import base64
    import gzip as _gzip
    import hashlib

    from zeek_duckdb_spark.sources.warc import cdx_records

    body_a = b"<p>indexed page a</p>"
    body_b = b"<p>indexed page b, chunked</p>"
    f = tmp_path / "c.warc.gz"
    f.write_bytes(encode_warc([
        ({"WARC-Type": "warcinfo"}, b"software: test\r\n"),
        _response_rec("https://www.Example.com/A/b?z=1&a=2", body_a),
        _response_rec("http://site.org/chunk", body_b, chunked=True),
    ]))

    df = cdx_records(spark, str(tmp_path / "*.warc.gz"))
    rows = sorted(df.collect(), key=lambda r: r.offset)
    assert len(rows) == 2  # warcinfo filtered by default

    a, b = rows
    assert a.urlkey == "com,example)/a/b?a=2&z=1"  # SURT: lowered, www
    assert b.urlkey == "org,site)/chunk"           # stripped, sorted q
    assert a.cdx_ts == "20260816000000"
    assert a.mime == "text/html" and a.http_status == 200
    # digest = sha1-base32 of the DECODED entity (chunked undone)
    assert a.digest == base64.b32encode(
        hashlib.sha1(body_a).digest()).decode()
    assert b.digest == base64.b32encode(
        hashlib.sha1(body_b).digest()).decode()

    # THE contract: seek/read/gunzip each span -> exactly that record
    blob = f.read_bytes()
    for r, want_body in ((a, body_a), (b, body_b)):
        member = blob[r.offset : r.offset + r.length]
        recs = list(parse_warc(_gzip.decompress(member)))
        assert len(recs) == 1
        assert recs[0]["headers"]["warc-target-uri"] == r.url

    # spans tile the file exactly (member-per-record layout)
    got = {r.offset for r in cdx_records(
        spark, str(tmp_path / "*.warc.gz"), record_types=None).collect()}
    assert 0 in got and max(got) < len(blob)

    # plain .warc: direct byte spans
    plain = tmp_path / "p.warc"
    plain.write_bytes(encode_warc(
        [_response_rec("http://p.org/x", body_a)], compress=False))
    (pr,) = cdx_records(spark, str(plain)).collect()
    raw = plain.read_bytes()
    assert raw[pr.offset : pr.offset + pr.length].startswith(b"WARC/1.0")
    assert raw[pr.offset : pr.offset + pr.length].endswith(body_a)

    # zero shuffle: pure map over the file scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_read_warc_selected_spans(spark, tmp_path):
    """The CDX payoff: filter the index, read ONLY those spans back —
    rows identical to the full read_warc for the selected URLs, for
    gz-member AND plain containers, including quarantined records."""
    from pyspark.sql import functions as F

    from zeek_duckdb_spark.sources.warc import cdx_records, read_warc_selected

    capped = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
              b"Transfer-Encoding: chunked\r\n\r\nff\r\nshort")
    recs = [
        _response_rec(f"https://d{i % 2}.org/p{i}",
                      f"<p>page {i} body</p>".encode())
        for i in range(6)
    ] + [({"WARC-Type": "response", "WARC-Record-ID": "<urn:cap>",
           "WARC-Target-URI": "https://d0.org/capped",
           "Content-Type": "application/http; msgtype=response"}, capped)]
    (tmp_path / "a.warc.gz").write_bytes(encode_warc(recs[:4]))
    (tmp_path / "b.warc").write_bytes(encode_warc(recs[4:], compress=False))

    glob = str(tmp_path / "*.warc*")
    idx = cdx_records(spark, glob)
    # select one domain via the SURT key prefix — the index's raison
    picked = idx.filter(F.col("urlkey").startswith("org,d0)"))
    got = {r.target_uri: r for r in
           read_warc_selected(spark, picked, decode_text=True).collect()}
    full = {r.target_uri: r for r in
            read_warc(spark, glob, decode_text=True).collect()
            if "d0.org" in r.target_uri}
    assert set(got) == set(full) == {
        "https://d0.org/p0", "https://d0.org/p2", "https://d0.org/p4",
        "https://d0.org/capped",
    }
    for uri in got:
        assert bytes(got[uri].body) == bytes(full[uri].body), uri
        assert got[uri].body_text == full[uri].body_text
        assert got[uri].content_encoding == full[uri].content_encoding
    assert got["https://d0.org/capped"].content_encoding == "chunked"


def test_read_warc_selected_multi_record_member(spark, tmp_path):
    """A whole-file SINGLE-member .warc.gz (gzip of a plain warc) is
    legal: its CDX rows share one span.  Selected reads must read the
    span ONCE, emit ONLY the requested records, and never duplicate
    rows when several selected records share the span (r13 review)."""
    import gzip as _gzip

    from pyspark.sql import functions as F

    from zeek_duckdb_spark.sources.warc import cdx_records, read_warc_selected

    recs = [
        _response_rec(f"https://m{i % 2}.org/p{i}", f"<p>{i}</p>".encode())
        for i in range(4)
    ] + [
        # request record sharing p1's URI in the SAME member: selected
        # reads key on record_id, so it must NOT ride along (r13 —
        # a URI is not record identity)
        ({"WARC-Type": "request", "WARC-Record-ID": "<urn:req-p1>",
          "WARC-Target-URI": "https://m1.org/p1"},
         b"GET /p1 HTTP/1.1\r\n\r\n"),
    ]
    plain = encode_warc(recs, compress=False)
    (tmp_path / "whole.warc.gz").write_bytes(_gzip.compress(plain))

    idx = cdx_records(spark, str(tmp_path / "*.warc.gz"))
    # all CDX rows (responses only by default) share the member span
    spans = {(r.offset, r.length) for r in idx.collect()}
    assert len(spans) == 1

    # select one domain: exactly its 2 RESPONSE records come back,
    # once each — not the co-member request with the same URI
    sel = read_warc_selected(
        spark, idx.filter(F.col("urlkey").startswith("org,m1)"))
    ).collect()
    assert sorted(r.target_uri for r in sel) == [
        "https://m1.org/p1", "https://m1.org/p3",
    ]
    assert all(r.warc_type == "response" for r in sel)

    # pre-r13 persisted index shape (no record_id column): url-keyed
    # fallback still selects, with its documented URI-identity caveat
    legacy = idx.drop("record_id").filter(
        F.col("urlkey").startswith("org,m0)")
    )
    got_legacy = sorted(r.target_uri for r in read_warc_selected(
        spark, legacy).collect())
    assert got_legacy == ["https://m0.org/p0", "https://m0.org/p2"]

    # span-level-only selection when NEITHER identity column exists
    bare = idx.select("warc_file", "offset", "length").limit(1)
    assert read_warc_selected(spark, bare).count() == 5  # whole member


def test_surt_key_unit_and_differential(spark):
    """surt_key: unit pins for the SURT conventions + a DuckDB
    differential restating the whole transform in SQL over generated
    URLs (the oracle recipe the extra_queries entry uses)."""
    import duckdb

    from pyspark.sql import functions as F

    from zeek_duckdb_spark.operators.textops import surt_key

    cases = [
        ("https://www.Example.com/A/b?z=1&a=2", "com,example)/a/b?a=2&z=1"),
        ("http://sub.site.org/", "org,site,sub)/"),
        ("http://site.org", "org,site)/"),
        ("http://site.org:8080/x", "org,site:8080)/x"),
        ("http://site.org:80/x", "org,site)/x"),          # default port
        ("https://site.org:443/x", "org,site)/x"),
        ("http://bob@site.org/x#frag", "org,site)/x"),    # userinfo+frag
        ("not a url", "not a url"),                       # passthrough
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _w) in enumerate(cases)], "i long, url string"
    )
    got = {r.i: r.k for r in df.select(
        "i", surt_key(F.col("url")).alias("k")).collect()}
    for i, (_u, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)

    # differential: DuckDB restates the transform over generated URLs
    urls = [
        f"http://www.s{i % 7}.dom{i % 3}.com/P{i}/x?b={i}&A=1"
        for i in range(200)
    ]
    sdf = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i long, url string"
    )
    spark_out = {r.i: r.k for r in sdf.select(
        "i", surt_key(F.col("url")).alias("k")).collect()}
    duck = duckdb.connect()
    duck_out = dict(duck.execute("""
        WITH t AS (SELECT i, u FROM (SELECT unnest(range(200)) AS i,
                   unnest($urls) AS u)),
        p AS (SELECT i,
               lower(regexp_replace(regexp_extract(u,
                 '^https?://([A-Za-z0-9.-]+)', 1), '^www\\.', '')) AS host,
               lower(regexp_extract(u,
                 '^https?://[A-Za-z0-9.-]+(/[^?#]*)', 1)) AS path,
               lower(regexp_extract(u, '\\?([^#]*)', 1)) AS q
              FROM t)
        SELECT i, array_to_string(list_reverse(string_split(host, '.')), ',')
               || ')' || path || '?' ||
               array_to_string(list_sort(string_split(q, '&')), '&') AS k
        FROM p
    """, {"urls": urls}).fetchall())
    assert spark_out == duck_out


def test_write_wet_roundtrip(spark, tmp_path):
    """WET export (round-13): extracted text lands as WARC conversion
    records that read_warc itself reads back — the closing arc of the
    crawl chain (read_warc -> extract_text_html -> clean_corpus ->
    write_wet) — with deterministic record ids (re-export is
    byte-stable), NULL rows skipped, and atomic per-partition
    shards."""
    import glob as _glob

    from zeek_duckdb_spark.sources.warc import write_wet

    rows = [
        (0, "https://w.org/a", "2026-08-16T00:00:00Z", "cleaned text a"),
        (1, "https://w.org/b", "2026-08-16T00:00:01Z", "page b körper"),
        (2, None, "2026-08-16T00:00:02Z", "no url: skipped"),
        (3, "https://w.org/d", None, "no date still lands"),
        (4, "https://w.org/e", "2026-08-16T00:00:04Z", None),  # skipped
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, url string, warc_date string, text string"
    ).repartition(2)
    out = str(tmp_path / "wet")
    write_wet(df, out)

    shards = _glob.glob(f"{out}/part-*.warc.gz")
    assert 1 <= len(shards) <= 2

    back = read_warc(
        spark, f"{out}/part-*.warc.gz",
        record_types=("conversion",), decode_text=True,
    )
    got = {r.target_uri: r for r in back.collect()}
    assert set(got) == {"https://w.org/a", "https://w.org/b",
                        "https://w.org/d"}
    assert got["https://w.org/b"].body_text == "page b körper"
    assert got["https://w.org/a"].content_type == "text/plain"
    assert got["https://w.org/a"].warc_date == "2026-08-16T00:00:00Z"
    ids1 = {r.target_uri: r.record_id for r in back.collect()}

    # deterministic re-export: same ids, overwrite semantics
    write_wet(df, out)
    ids2 = {r.target_uri: r.record_id for r in read_warc(
        spark, f"{out}/part-*.warc.gz", record_types=("conversion",)
    ).collect()}
    assert ids1 == ids2
    assert all(i.startswith("<urn:sha1:") for i in ids1.values())

    # mode='error' refuses a non-empty dir
    with pytest.raises(Exception, match="already contains WET shards"):
        write_wet(df, out, mode="error")

    # typed-API guard on the raw format path
    with pytest.raises(Exception, match="expects exactly"):
        df.select("doc_id", "url").write.format("wet").mode(
            "overwrite"
        ).save(str(tmp_path / "bad"))


def test_warc_zst_container(tmp_path):
    """.warc.zst decodes through pyarrow's bundled codec — raw-block
    frames, one entropy-coded stream, concatenated frames and a leading
    skippable frame all give the records of the plain form; a corrupt
    stream is the documented ValueError."""
    import pyarrow as pa

    recs = [_response_rec(f"http://z.org/{i}", b"<p>zstd page</p>" * 20)
            for i in range(3)]
    plain = encode_warc(recs, compress=False)

    def frame(b):
        return bytes(pa.Codec("zstd").compress(b))

    buf = pa.BufferOutputStream()
    with pa.CompressedOutputStream(buf, "zstd") as out:
        out.write(plain)
    skip = (0x184D2A5F).to_bytes(4, "little") + (4).to_bytes(4, "little") + b"dict"
    for blob in (
        b"".join(frame(plain[i:i + 16]) for i in range(0, len(plain), 16)),
        bytes(buf.getvalue()),
        b"".join(frame(plain[i:i + 500]) for i in range(0, len(plain), 500)),
        skip + frame(plain),
    ):
        got = list(parse_warc(blob))
        assert [g["headers"]["warc-target-uri"] for g in got] == [
            f"http://z.org/{i}" for i in range(3)]
        assert got[0]["payload"].endswith(b"<p>zstd page</p>")
    with pytest.raises(ValueError, match="zstd decode failed"):
        list(parse_warc(frame(plain)[:-5]))


def test_body_text_col_jvm_fast_path_differential(spark):
    """r16: body_text_col decodes valid-utf8/utf8-charset rows in the
    JVM and routes only gate-failing rows to Python — the output must
    be BIT-IDENTICAL to the pure-Python _charset_decode policy on
    every row class: valid utf-8 (ascii, multibyte, astral), malformed
    bytes, named non-utf8 charsets, lying/garbage charsets, NULL body,
    empty body.  Also pins that fast-path bodies do not reach the UDF
    (the UDF input is gated NULL)."""
    import random

    from zeek_duckdb_spark.sources.warc import _charset_decode, body_text_col

    random.seed(1616)
    rows = [
        (0, b"plain ascii", None),
        (1, "héllo wörld".encode("utf-8"), "text/html; charset=UTF-8"),
        (2, "astral \U0001F600".encode("utf-8"), 'text/html; charset="utf8"'),
        (3, b"\xff\xfe broken \x80", "text/html"),
        (4, "caf\xe9".encode("latin-1"), "text/html; charset=ISO-8859-1"),
        (5, b"\xe4\xf6\xfc", "text/plain; charset=latin-1"),
        (6, b"abc", "text/plain; charset=not-a-codec"),
        (7, b"abc", "text/plain; charset=hex"),  # bytes transform
        (8, None, "text/html"),
        (9, b"", None),
        (10, b"\xed\xa0\x80 lone surrogate bytes", None),  # CESU-ish
        (11, "utf16?".encode("utf-16"), "text/html; charset=utf-16"),
    ] + [
        (100 + i, bytes(random.randbytes(random.randint(0, 80))),
         random.choice([None, "text/html", "text/html; charset=utf-8",
                        "text/html; charset=windows-1252"]))
        for i in range(60)
    ]
    df = spark.createDataFrame(
        [(i, bytearray(b) if b is not None else None, ct)
         for i, b, ct in rows],
        "doc_id int, body binary, content_type string",
    )
    got = {r.doc_id: r.t for r in
           df.select("doc_id", body_text_col().alias("t")).collect()}
    for i, b, ct in rows:
        want = None if b is None else _charset_decode(bytes(b), ct)
        assert got[i] == want, (i, b, ct, got[i], want)
    prev = spark.conf.get("spark.sql.debug.maxToStringFields", "25")
    spark.conf.set("spark.sql.debug.maxToStringFields", "2000")
    try:
        plan = df.select(body_text_col().alias("t"))._jdf.queryExecution(
        ).executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.debug.maxToStringFields", prev)
    # the JVM gate + JVM decode are really in the plan (is_valid_utf8
    # prints as invoke(...isValid()), decode as StringDecode.decode)
    assert ".isValid()" in plan
    assert "StringDecode.decode" in plan
    # and the UDF input is the gated CASE, not the raw body column
    assert "_dec(CASE WHEN" in plan
