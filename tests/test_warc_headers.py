"""headers=True — the raw-header-map surface (round 15): the reader,
its whole-blob test reference, the streaming reader, and selected
reads append identical ``warc_headers``/``http_headers`` maps; the HTTP map follows the
RFC 9110 §5.2 duplicate-combination rule and stays NULL where no head
parsed."""

import os

import pytest
from warc_reference import reference_read_warc

from zeek_duckdb_spark.sources.warc import (
    _http_header_map,
    cdx_records,
    encode_warc,
    read_warc,
    read_warc_selected,
)


def _archive(tmp_path):
    recs = [
        ({
            "WARC-Type": "response",
            "WARC-Record-ID": "<urn:uuid:r1>",
            "WARC-Target-URI": "http://x.org/p",
            "WARC-Date": "2026-08-16T00:00:00Z",
            "Content-Type": "application/http; msgtype=response",
        }, b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
           b"Server: srv/1.0\r\nSet-Cookie: a=1\r\nSet-Cookie: b=2\r\n"
           b"Content-Length: 2\r\n\r\nhi"),
        ({
            "WARC-Type": "metadata",
            "WARC-Record-ID": "<urn:uuid:m1>",
            "WARC-Target-URI": "http://x.org/p",
            "WARC-Date": "2026-08-16T00:00:00Z",
            "Content-Type": "application/warc-fields",
        }, b"k: v\r\n"),
        ({
            # declared HTTP whose payload is NOT HTTP: quarantined
            # 'http' residual; http_headers must stay NULL
            "WARC-Type": "response",
            "WARC-Record-ID": "<urn:uuid:q1>",
            "WARC-Target-URI": "http://x.org/bad",
            "WARC-Date": "2026-08-16T00:00:00Z",
            "Content-Type": "application/http; msgtype=response",
        }, b"not an http payload at all"),
    ]
    arc = tmp_path / "a.warc.gz"
    arc.write_bytes(encode_warc(recs))
    return str(arc)


@pytest.mark.parametrize("reader", ["stream", "reference"])
def test_header_maps_both_engines(spark, tmp_path, reader):
    arc = _archive(tmp_path)
    read = read_warc if reader == "stream" else reference_read_warc
    df = read(spark, arc, record_types="*", headers=True)
    assert [f.name for f in df.schema.fields[-2:]] == [
        "warc_headers", "http_headers"]
    rows = {r.record_id: r for r in df.collect()}
    r1 = rows["<urn:uuid:r1>"]
    assert r1.warc_headers["warc-type"] == "response"
    assert r1.warc_headers["warc-target-uri"] == "http://x.org/p"
    assert "content-length" in r1.warc_headers
    assert r1.http_headers["server"] == "srv/1.0"
    # RFC 9110 §5.2: duplicates combine with ", "
    assert r1.http_headers["set-cookie"] == "a=1, b=2"
    # status line is the http_status column, not a map entry
    assert "http/1.1" not in r1.http_headers
    # non-HTTP record: warc map present, http map NULL
    m1 = rows["<urn:uuid:m1>"]
    assert m1.warc_headers["content-type"] == "application/warc-fields"
    assert m1.http_headers is None
    # quarantined 'http' residual: NULL http map too
    q1 = rows["<urn:uuid:q1>"]
    assert q1.content_encoding == "http" and q1.http_headers is None


def test_engines_agree_exactly(spark, tmp_path):
    arc = _archive(tmp_path)
    a = read_warc(spark, arc, record_types="*", headers=True).collect()
    b = reference_read_warc(spark, arc, record_types="*",
                            headers=True).collect()
    key = lambda r: r.record_id  # noqa: E731
    for x, y in zip(sorted(a, key=key), sorted(b, key=key)):
        assert x.warc_headers == y.warc_headers
        assert x.http_headers == y.http_headers


def test_selected_read_headers(spark, tmp_path):
    arc = _archive(tmp_path)
    idx = cdx_records(spark, arc)
    got = read_warc_selected(
        spark, idx.filter("url = 'http://x.org/p'"), headers=True
    ).collect()
    assert len(got) == 1
    assert got[0].http_headers["set-cookie"] == "a=1, b=2"


def test_default_schema_unchanged(spark, tmp_path):
    arc = _archive(tmp_path)
    df = read_warc(spark, arc)
    assert "warc_headers" not in df.columns


def test_streaming_headers(spark, tmp_path):
    arc_dir = tmp_path / "in"
    arc_dir.mkdir()
    _archive(arc_dir)
    from zeek_duckdb_spark.sources.warc import read_warc_stream

    out = str(tmp_path / "out")
    q = (
        read_warc_stream(
            spark, str(arc_dir), record_types="*", headers=True
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.record_id: r for r in spark.read.parquet(out).collect()}
    assert got["<urn:uuid:r1>"].http_headers["server"] == "srv/1.0"
    assert got["<urn:uuid:m1>"].http_headers is None


def test_http_header_map_unit():
    assert _http_header_map(b"nope") is None
    assert _http_header_map(b"HTTP/1.1 200 OK\r\nno-terminator") is None
    m = _http_header_map(
        b"HTTP/1.1 200 OK\r\nA: 1\r\n: skipme\r\nB:\r\n\r\nbody"
    )
    assert m == {"a": "1", "b": ""}


def test_http_header_map_obs_fold():
    """Obs-fold continuations (RFC 9112 §5.2) append to the previous
    field's value instead of becoming a bogus lowercase key (r16)."""
    m = _http_header_map(
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: multipart/mixed;\r\n"
        b"\tboundary=x\r\n"
        b"A: 1\r\n"
        b"   continued A\r\n"
        b"\r\nbody"
    )
    assert m == {
        "content-type": "multipart/mixed; boundary=x",
        "a": "1 continued A",
    }
    # a fold with no preceding field is dropped, not a key
    m2 = _http_header_map(b"HTTP/1.1 200 OK\r\n  orphan\r\nB: 2\r\n\r\n")
    assert m2 == {"b": "2"}
    # a malformed EMPTY-KEY line resets the fold anchor: the stray
    # continuation after it is dropped, not appended to 'a' (r17,
    # advice fix)
    m3 = _http_header_map(
        b"HTTP/1.1 200 OK\r\n"
        b"A: 1\r\n"
        b": empty-key\r\n"
        b"  stray fold\r\n"
        b"B: 2\r\n\r\n"
    )
    assert m3 == {"a": "1", "b": "2"}
