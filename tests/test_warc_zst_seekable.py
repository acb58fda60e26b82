"""Seekable ``.warc.zst`` (round-15, r14 verdict item 5): the IIPC
frame-per-record layout — a structural frame walker (no entropy
decode) turns frames into CDX-addressable COMPRESSED spans, selected
reads ranged-read + decode one frame per hit through the capped
frame decoder, and the single-whole-file-frame layout keeps its loud
refusal.  Every frame here comes from pyarrow's bundled codec: one-shot
frames state their content size (entropy-coded, or raw blocks for
incompressible bytes), streaming frames do not."""

import io
import random

import pyarrow as pa
import pytest

from zeek_duckdb_spark.sources.warc import (
    _zstd_compress_frame,
    _zstd_decompress_frame,
    _zstd_frame_spans,
    cdx_records,
    encode_warc,
    read_warc,
    read_warc_selected,
)


def _raw_frame(n: int, seed: int = 0) -> tuple[bytes, bytes]:
    """(payload, frame): ``n`` random bytes, which pyarrow stores as a
    raw block."""
    data = random.Random(seed).randbytes(n)
    return data, _zstd_compress_frame(data)


def _unsized_frame(data: bytes) -> bytes:
    """A streaming-written frame: no content size in its header."""
    buf = pa.BufferOutputStream()
    with pa.CompressedOutputStream(buf, "zstd") as out:
        out.write(data)
    return bytes(buf.getvalue())


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


def _skippable(payload: bytes, nibble=0) -> bytes:
    return (
        (0x184D2A50 + nibble).to_bytes(4, "little")
        + len(payload).to_bytes(4, "little") + payload
    )


def test_frame_walker_structural():
    """The walker resolves frame boundaries from headers alone:
    entropy frames, raw-block frames, RLE blocks and skippable frames
    all span correctly; truncation and reserved bits are loud."""
    f1 = _zstd_compress_frame(b"alpha " * 100)
    _, f2 = _raw_frame(200)
    skip = _skippable(b"dictionary-bytes", nibble=3)
    blob = skip + f1 + f2
    got = list(_zstd_frame_spans(io.BytesIO(blob), "t"))
    assert [(g[0], g[1], g[2]) for g in got] == [
        (0, len(skip), "skippable"),
        (len(skip), len(f1), "data"),
        (len(skip) + len(f1), len(f2), "data"),
    ]
    # stated content sizes ride along
    assert got[1][4] == 600 and got[2][4] == 200

    # RLE-block frame: spec says the block stores ONE byte while the
    # header carries the REGENERATED size — the walker must skip 1.
    # Hand-built spec frame: magic, FHD single-segment + 1-byte FCS,
    # one last RLE block of regenerated size 200
    rle = (b"\x28\xb5\x2f\xfd" + bytes([0x20]) + bytes([200])
           + ((200 << 3) | (1 << 1) | 1).to_bytes(3, "little") + b"\x07")
    assert _zstd_decompress_frame(rle, "t") == b"\x07" * 200
    (span,) = _zstd_frame_spans(io.BytesIO(rle), "t")
    assert span[1] == len(rle) and span[2] == "data" and span[4] == 200

    with pytest.raises(ValueError, match="truncated zstd"):
        list(_zstd_frame_spans(io.BytesIO(f1[:-3]), "t"))
    with pytest.raises(ValueError, match="bad zstd frame magic"):
        list(_zstd_frame_spans(io.BytesIO(b"\x00\x01\x02\x03rest"), "t"))
    bad = bytearray(f1)
    bad[4] |= 0x08  # reserved frame-header bit
    with pytest.raises(ValueError, match="reserved"):
        list(_zstd_frame_spans(io.BytesIO(bytes(bad)), "t"))


def test_frame_decoder_capped_ladder():
    data = b"payload " * 64
    raw, raw_frame = _raw_frame(512)
    for frame, want in ((_zstd_compress_frame(data), data),
                        (_unsized_frame(data), data), (raw_frame, raw)):
        assert _zstd_decompress_frame(frame, "t") == want
    # a frame whose header states a past-cap size dies BEFORE decode;
    # an unsized one is read for at most cap + 1 bytes, then refused
    from zeek_duckdb_spark.sources import warc as W

    big = _zstd_compress_frame(b"x" * 4096)
    saved = W._MAX_RECORD_BYTES
    try:
        W._MAX_RECORD_BYTES = 100
        with pytest.raises(ValueError, match="states 4096 content bytes"):
            _zstd_decompress_frame(big, "t")
        with pytest.raises(ValueError, match="unsized zstd frame .* cap"):
            _zstd_decompress_frame(_unsized_frame(b"x" * 4096), "t")
        assert _zstd_decompress_frame(_unsized_frame(b"x" * 100), "t") == b"x" * 100
    finally:
        W._MAX_RECORD_BYTES = saved


def test_frame_decoder_lying_fcs_is_loud():
    """A frame whose header UNDER-states its content size (the bomb
    shape the stated-size gate alone cannot catch) errors instead of
    inflating past the statement: the decoder reads at most stated+1
    bytes before the mismatch check."""
    data = b"A" * 1000
    frame = bytearray(_zstd_compress_frame(data))
    assert frame[4] == 0x60  # single-segment, 2-byte FCS
    frame[5:7] = (0).to_bytes(2, "little")  # now states 256, not 1000
    with pytest.raises(ValueError, match="zstd frame"):
        _zstd_decompress_frame(bytes(frame), "t")


def test_seekable_zst_cdx_spans_and_selected_read(spark, tmp_path):
    """The full loop on a frame-per-record .warc.zst: cdx_records
    emits compressed frame spans (offsets/lengths tile the file), and
    read_warc_selected ranged-reads exactly the picked record."""
    recs = [_resp(f"http://z{i}.org/p", f"<p>{i}</p>".encode() * (i + 1))
            for i in range(5)]
    blob = encode_warc(recs, compress="zst")
    f = tmp_path / "crawl.warc.zst"
    f.write_bytes(blob)

    idx = cdx_records(spark, str(f))
    rows = sorted(idx.collect(), key=lambda r: r.offset)
    assert len(rows) == 5
    assert rows[0].offset == 0
    assert all(a.offset + a.length == b.offset
               for a, b in zip(rows, rows[1:]))
    assert rows[-1].offset + rows[-1].length == len(blob)

    pick = idx.filter("url = 'http://z3.org/p'")
    got = read_warc_selected(spark, pick).collect()
    assert [r.target_uri for r in got] == ["http://z3.org/p"]
    assert bytes(got[0].body) == b"<p>3</p>" * 4

    # whole-index selected read matches the sequential reader
    whole = {(r.target_uri, bytes(r.body))
             for r in read_warc_selected(spark, idx).collect()}
    seq = {(r.target_uri, bytes(r.body))
           for r in read_warc(spark, str(f)).collect()}
    assert whole == seq and len(whole) == 5


def test_seekable_zst_with_leading_skippable(spark, tmp_path):
    """A leading skippable frame (the IIPC dictionary carrier, here
    dict-FREE content frames) offsets every span; decode skips it."""
    recs = [_resp(f"http://s{i}.org/", b"body-%d" % i) for i in range(3)]
    blob = _skippable(b"not-actually-a-dict") + encode_warc(
        recs, compress="zst")
    f = tmp_path / "skip.warc.zst"
    f.write_bytes(blob)

    idx = cdx_records(spark, str(f))
    rows = sorted(idx.collect(), key=lambda r: r.offset)
    assert len(rows) == 3 and rows[0].offset > 0
    got = read_warc_selected(
        spark, idx.filter("url = 'http://s1.org/'")).collect()
    assert bytes(got[0].body) == b"body-1"


def test_corrupt_frame_error_is_not_reindex_guidance(spark, tmp_path):
    """A genuinely corrupt frame in a REAL seekable .warc.zst (frame
    structure intact, entropy payload flipped) surfaces the decode
    failure verbatim — not the 'index was built against the
    decompressed stream' re-index guidance, which would send the
    operator chasing a layout problem that does not exist (r17,
    advice fix: only _ZstdStructureError converts)."""
    recs = [_resp(f"http://c{i}.org/", b"<p>corrupt me</p>" * 20)
            for i in range(3)]
    blob = bytearray(encode_warc(recs, compress="zst"))
    f = tmp_path / "ok.warc.zst"
    f.write_bytes(bytes(blob))
    idx = cdx_records(spark, str(f))
    rows = sorted(idx.collect(), key=lambda r: r.offset)

    # flip one byte inside the middle frame's entropy payload such
    # that the STRUCTURAL walk still succeeds but the decode fails —
    # scan candidate positions so the test does not depend on the
    # frame's exact internal layout
    import zeek_duckdb_spark.sources.warc as W

    target = rows[1]
    frame = bytes(blob[target.offset:target.offset + target.length])
    poisoned = None
    for pos in range(12, len(frame) - 4):
        cand = bytearray(frame)
        cand[pos] ^= 0xFF
        cand = bytes(cand)
        try:
            spans = list(W._zstd_frame_spans(io.BytesIO(cand), "t"))
        except ValueError:
            continue  # structural break — not the case under test
        if len(spans) != 1 or spans[0][1] != len(frame):
            continue
        try:
            W._zstd_decompress_frame(cand, "t")
        except W._ZstdStructureError:
            continue
        except ValueError:
            poisoned = cand
            break
        continue  # decoded fine — flip elsewhere
    assert poisoned is not None, "could not build a corrupt-but-walkable frame"
    blob[target.offset:target.offset + target.length] = poisoned
    f.write_bytes(bytes(blob))

    pick = idx.filter(f"offset = {target.offset}")
    with pytest.raises(Exception) as ei:
        read_warc_selected(spark, pick).collect()
    msg = str(ei.value)
    assert "decompressed stream" not in msg
    assert "zstd frame" in msg


def test_single_frame_zst_keeps_refusal(spark, tmp_path):
    """A whole-file single-frame .warc.zst still indexes the
    DECOMPRESSED stream and selected reads refuse it loudly — the r14
    contract, now scoped to exactly this layout."""
    plain = encode_warc(
        [_resp(f"http://w{i}.org/", b"xy" * 30) for i in range(3)],
        compress=False)
    f = tmp_path / "one.warc.zst"
    f.write_bytes(_zstd_compress_frame(plain))

    idx = cdx_records(spark, str(f))
    rows = sorted(idx.collect(), key=lambda r: r.offset)
    assert len(rows) == 3
    # decompressed-stream spans: offsets index the PLAIN bytes (the
    # last span ends at most one trailing CRLF-pair short of EOF)
    end = rows[-1].offset + rows[-1].length
    assert len(plain) - 4 <= end <= len(plain)
    assert plain[rows[1].offset:rows[1].offset + 8] == b"WARC/1.0"
    with pytest.raises(Exception, match="decompressed stream"):
        read_warc_selected(spark, idx).collect()


def test_non_record_aligned_frames_are_loud(spark, tmp_path):
    """Frames that split a record (NOT the IIPC convention) must error
    naming the layout, never emit wrong spans."""
    plain = encode_warc(
        [_resp("http://a.org/", b"q" * 400)], compress=False)
    cut = len(plain) // 2
    blob = _zstd_compress_frame(plain[:cut]) + _zstd_compress_frame(
        plain[cut:])
    f = tmp_path / "mis.warc.zst"
    f.write_bytes(blob)
    with pytest.raises(Exception, match="record-aligned"):
        cdx_records(spark, str(f)).collect()


def test_read_warc_stream_engine_reads_multiframe_zst(spark, tmp_path):
    """The sequential stream engine keeps working on the seekable
    layout (concatenated frames decode through the pyarrow rung)."""
    recs = [_resp(f"http://m{i}.org/", b"mm" * (i + 1)) for i in range(4)]
    f = tmp_path / "m.warc.zst"
    f.write_bytes(encode_warc(recs, compress="zst"))
    got = read_warc(spark, str(f)).collect()
    assert sorted(r.target_uri for r in got) == [
        f"http://m{i}.org/" for i in range(4)]


def test_frame_walker_differential_property():
    """Property (hypothesis): for ANY concatenation of sized and
    unsized pyarrow frames plus skippable frames, the structural walk
    tiles the blob exactly and each data frame's span decodes alone to
    its source payload — the walker can never mis-frame a legal
    stream."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    payload = st.binary(min_size=0, max_size=4096)
    frame = st.one_of(
        payload.map(lambda b: (b, _zstd_compress_frame(b))),
        payload.map(lambda b: (b, _unsized_frame(b))),
        st.binary(min_size=0, max_size=64).map(
            lambda b: (None, _skippable(b, nibble=len(b) % 16))),
    )

    @settings(max_examples=40, deadline=None)
    @given(st.lists(frame, min_size=1, max_size=6))
    def run(frames):
        blob = b"".join(f[1] for f in frames)
        spans = list(_zstd_frame_spans(io.BytesIO(blob), "t"))
        assert len(spans) == len(frames)
        pos = 0
        for (src, enc), (off, ln, kind, _d, _fcs) in zip(frames, spans):
            assert off == pos and ln == len(enc)
            pos += ln
            if src is None:
                assert kind == "skippable"
            else:
                assert kind == "data"
                assert _zstd_decompress_frame(
                    blob[off:off + ln], "t") == src
        assert pos == len(blob)

    run()


def test_single_frame_offset0_span_gets_reindex_guidance(spark, tmp_path):
    """A decompressed-stream span at OFFSET 0 of a single-frame
    container starts with the zstd magic, so it takes the frame-walk
    branch — the walk's failure must surface the re-index guidance,
    not a bare truncated-frame error (r16, advice fix)."""
    import random

    random.seed(160)
    # incompressible bodies: the offset-0 span (first record's PLAIN
    # length) must be SHORTER than the compressed frame, so the frame
    # walk really sees a truncated frame
    plain = encode_warc(
        [_resp(f"http://z{i}.org/", random.randbytes(600))
         for i in range(3)],
        compress=False)
    f = tmp_path / "one0.warc.zst"
    f.write_bytes(_zstd_compress_frame(plain))
    idx = cdx_records(spark, str(f))
    first = idx.filter("offset = 0")
    assert first.count() == 1
    # the offset-0 span reads the COMPRESSED file head: zstd magic, but
    # a truncated frame (span length = the first record's PLAIN length)
    with pytest.raises(Exception, match="decompressed stream"):
        read_warc_selected(spark, first).collect()
