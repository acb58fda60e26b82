"""zstd compression path.  The reference accepts .log, .log.gz AND
.log.zst, auto-detecting the codec by magic bytes (README.md:52;
src/zeek_scanner.cpp:261-262 FileCompressionType::AUTO_DETECT).

The package has one zstd decoder: pyarrow's bundled codec, streamed
through ``header.open_zeek_text``, which the driver-side header parse
and the DataSource scan share.  The composed ``read_zeek`` scan reads
the data rows with Spark's own codec.  Every input shape a zstd writer
emits — raw-block frames, entropy-coded frames, concatenated frames, a
leading skippable frame — is checked through ``parse_header``,
``read_zeek`` and ``format("zeek")`` against the plain log; truncated
and garbage inputs fail with the typed ``ZeekHeaderError``, never a
misparse of compressed bytes as text.
"""

import io
import random
import re

import pyarrow as pa
import pytest

from zeek_duckdb_spark import read_zeek
from zeek_duckdb_spark.header import (
    ZSTD_MAGIC,
    ZeekHeaderError,
    open_zeek_text,
    parse_header,
)

DNS_FIELDS = [
    ("ts", "time"), ("uid", "string"), ("id.orig_h", "addr"),
    ("id.orig_p", "port"), ("id.resp_h", "addr"), ("id.resp_p", "port"),
    ("proto", "enum"), ("trans_id", "count"), ("rtt", "interval"),
    ("query", "string"), ("qtype_name", "string"), ("rcode", "count"),
    ("AA", "bool"), ("answers", "vector[string]"),
    ("TTLs", "vector[interval]"),
]
ALNUM = "abcdefghijklmnopqrstuvwxyz0123456789"

# a skippable frame (magic 0x184D2A50, 4-byte size): decoders skip it
SKIPPABLE = (0x184D2A50).to_bytes(4, "little") + (3).to_bytes(4, "little") + b"xyz"

# a minimal frame with one entropy-coded block (block_type=2) whose
# content is garbage
COMPRESSED_BLOCK_FRAME = ZSTD_MAGIC + bytes([0x20, 0x04]) + (
    (1 | (2 << 1) | (4 << 3)).to_bytes(3, "little")
) + b"\xde\xad\xbe\xef"


def _dns_log_text(rows: int, seed: int = 7) -> str:
    """A Zeek dns log with markers, sets of answers and random names."""
    rng = random.Random(seed)
    out = [
        "#separator \\x09", "#set_separator\t,", "#empty_field\t(empty)",
        "#unset_field\t-", "#path\tdns",
        "#fields\t" + "\t".join(f for f, _ in DNS_FIELDS),
        "#types\t" + "\t".join(t for _, t in DNS_FIELDS),
    ]
    for i in range(rows):
        host = "".join(rng.choice(ALNUM) for _ in range(rng.randint(3, 12)))
        answers = rng.choice([
            "-", "(empty)", f"10.0.{rng.randint(0, 255)}.{rng.randint(1, 254)}",
            f"{host}.cdn.net,192.0.2.{rng.randint(1, 254)}",
        ])
        ttls = "-" if answers in ("-", "(empty)") else ",".join(
            f"{rng.randint(1, 86400)}.000000" for _ in answers.split(",")
        )
        out.append("\t".join([
            f"{1700000000 + i}.{rng.randint(0, 999999):06d}",
            "C" + "".join(rng.choice(ALNUM) for _ in range(17)),
            f"10.1.{rng.randint(0, 255)}.{rng.randint(1, 254)}",
            str(rng.randint(1024, 65535)),
            rng.choice(["8.8.8.8", "2001:db8::53"]), "53",
            rng.choice(["udp", "tcp"]), str(rng.randint(0, 65535)),
            rng.choice(["-", f"0.{rng.randint(0, 99999):06d}"]),
            f"{host}.example.com", rng.choice(["A", "AAAA", "MX", "-"]),
            str(rng.choice([0, 3])), rng.choice(["T", "F"]), answers, ttls,
        ]))
    return "\n".join(out) + "\n"


def _frame(data: bytes) -> bytes:
    return bytes(pa.Codec("zstd").compress(data))


def _block_types(blob: bytes) -> set:
    """The first block's type ('raw'/'rle'/'compressed') of every data
    frame in ``blob``."""
    from zeek_duckdb_spark.sources.warc import _zstd_frame_spans

    kinds = set()
    for off, _ln, kind, _d, _fcs in _zstd_frame_spans(io.BytesIO(blob), "t"):
        if kind != "data":
            continue
        fhd = blob[off + 4]
        single, fcs_flag, did_flag = (fhd >> 5) & 1, fhd >> 6, fhd & 3
        pos = off + 5 + (0 if single else 1) + (0, 1, 2, 4)[did_flag]
        pos += (1 if single else 0, 2, 4, 8)[fcs_flag]
        bh = int.from_bytes(blob[pos:pos + 3], "little")
        kinds.add(("raw", "rle", "compressed")[(bh >> 1) & 3])
    return kinds


@pytest.fixture(scope="module")
def dns_text() -> bytes:
    return _dns_log_text(1000).encode()


@pytest.fixture()
def dns_log_text(tmp_path, dns_text):
    """The dns log as a plain text file."""
    out = tmp_path / "dns.log"
    out.write_bytes(dns_text)
    return out


def _raw_frames(t: bytes) -> bytes:
    # 16-byte slices hold too little to compress: pyarrow stores each
    # as a raw block
    return b"".join(_frame(t[i:i + 16]) for i in range(0, len(t), 16))


ENCODINGS = {
    "raw_frames": _raw_frames,
    "entropy_frame": _frame,
    "concatenated_frames": lambda t: b"".join(
        _frame(t[i:i + 40_000]) for i in range(0, len(t), 40_000)
    ),
    "leading_skippable": lambda t: SKIPPABLE + _frame(t),
}


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def zeek_format(spark):
    from zeek_duckdb_spark.sources.datasource import register_zeek_datasource

    register_zeek_datasource(spark)
    return lambda p: spark.read.format("zeek").load(p)


def test_encodings_have_the_shape_they_name(dns_text):
    assert _block_types(_raw_frames(dns_text)) == {"raw"}
    assert _block_types(_frame(dns_text)) == {"compressed"}
    assert len(ENCODINGS["concatenated_frames"](dns_text).split(ZSTD_MAGIC)) > 3
    assert ENCODINGS["leading_skippable"](dns_text)[:4] != ZSTD_MAGIC


@pytest.mark.parametrize("kind", sorted(ENCODINGS))
def test_zst_opener_roundtrip(tmp_path, dns_log_text, kind):
    zst = tmp_path / "dns.log.zst"
    zst.write_bytes(ENCODINGS[kind](dns_log_text.read_bytes()))
    with open_zeek_text(str(dns_log_text)) as plain, open_zeek_text(str(zst)) as z:
        assert z.read() == plain.read()
    assert parse_header(str(zst)).schema_key() == \
        parse_header(str(dns_log_text)).schema_key()


@pytest.mark.parametrize("kind", sorted(ENCODINGS))
def test_zst_composed_scan_matches_plain(spark, tmp_path, dns_log_text, kind):
    zst = tmp_path / "dns.log.zst"
    zst.write_bytes(ENCODINGS[kind](dns_log_text.read_bytes()))
    plain_rows = _rows(read_zeek(spark, str(dns_log_text)))
    assert _rows(read_zeek(spark, str(zst))) == plain_rows
    assert len(plain_rows) == 1000


@pytest.mark.parametrize("kind", sorted(ENCODINGS))
def test_zst_datasource_scan_matches_plain(tmp_path, dns_log_text, zeek_format,
                                           kind):
    zst = tmp_path / "dns.log.zst"
    zst.write_bytes(ENCODINGS[kind](dns_log_text.read_bytes()))
    plain_rows = _rows(zeek_format(str(dns_log_text)))
    assert _rows(zeek_format(str(zst))) == plain_rows
    assert len(plain_rows) == 1000


def _assert_bind_fails(spark, zeek_format, p):
    """A file whose header cannot be decoded fails the bind of every
    read path with the typed corrupt-stream error."""
    msg = re.escape(f"corrupt or truncated zstd stream in '{p}'")
    with pytest.raises(ZeekHeaderError, match=msg):
        parse_header(str(p))
    with pytest.raises(ZeekHeaderError, match=msg):
        read_zeek(spark, str(p))
    with pytest.raises(Exception, match=msg):
        zeek_format(str(p))


def test_zst_truncated_fails_at_bind(spark, tmp_path, dns_text, zeek_format):
    p = tmp_path / "conn.log.zst"
    # cut inside the first block, so no header line can be decoded
    p.write_bytes(_frame(dns_text)[:1024])
    _assert_bind_fails(spark, zeek_format, p)


def test_zst_compressed_blocks_fail_at_bind(spark, tmp_path, zeek_format):
    # an entropy-coded frame with GARBAGE content
    p = tmp_path / "conn.log.zst"
    p.write_bytes(COMPRESSED_BLOCK_FRAME)
    _assert_bind_fails(spark, zeek_format, p)


def test_zst_garbage_after_magic_fails_at_bind(spark, tmp_path, zeek_format):
    p = tmp_path / "conn.log.zst"
    p.write_bytes(ZSTD_MAGIC + b"\x00" * 32)
    _assert_bind_fails(spark, zeek_format, p)


def _opened(tmp_path, blob: bytes) -> str:
    p = tmp_path / "x.log.zst"
    p.write_bytes(blob)
    with open_zeek_text(str(p)) as fh:
        return fh.read()


def test_decoder_handles_rle_and_skippable_frames(tmp_path):
    # hand-built frame: single-segment, FCS=8, one RLE block of 8 'z's
    rle_frame = ZSTD_MAGIC + bytes([0x20, 0x08]) + (
        (1 | (1 << 1) | (8 << 3)).to_bytes(3, "little")
    ) + b"z"
    assert _opened(tmp_path, rle_frame) == "zzzzzzzz"
    # skippable frames lead, sit between and trail the data frames
    blob = SKIPPABLE + rle_frame + SKIPPABLE + _frame(b"data") + SKIPPABLE
    assert _opened(tmp_path, blob) == "zzzzzzzzdata"


def test_decoder_rejects_garbage_and_truncation(tmp_path):
    with pytest.raises(ZeekHeaderError, match="corrupt or truncated"):
        _opened(tmp_path, ZSTD_MAGIC + b"\x00" * 32)  # never-ending blocks
    with pytest.raises(ZeekHeaderError, match="corrupt or truncated"):
        _opened(tmp_path, _frame(b"hello world")[:-4])
    with pytest.raises(ZeekHeaderError, match="corrupt or truncated"):
        _opened(tmp_path, _frame(b"hello") + ZSTD_MAGIC)


def test_zst_corrupt_tail_binds_then_fails_the_scan(spark, tmp_path, dns_text,
                                                    zeek_format):
    """A valid header in a first frame, garbage in the last: the header
    parse decodes only the start of the stream, so every bind succeeds
    and the scan raises, like a corrupt gzip tail."""
    p = tmp_path / "dns.log.zst"
    p.write_bytes(_frame(dns_text) + ZSTD_MAGIC + b"\xff" * 64)
    hdr = parse_header(str(p))
    assert hdr.fields[0] == "ts" and hdr.types[-1] == "vector[interval]"
    with open_zeek_text(str(p)) as fh:
        with pytest.raises(ZeekHeaderError, match="corrupt or truncated zstd"):
            fh.read()

    composed = read_zeek(spark, str(p))
    assert "ts" in composed.columns
    with pytest.raises(Exception, match=r"dns\.log\.zst"):
        composed.collect()

    ds = zeek_format(str(p))
    assert "ts" in ds.columns
    with pytest.raises(
        Exception,
        match=r"ZeekHeaderError: corrupt or truncated zstd stream in '.*dns\.log\.zst'",
    ):
        ds.collect()


def test_package_has_one_codec_implementation():
    """zstd and brotli decode and encode go through pyarrow's bundled
    codecs only: no module in the package imports another codec."""
    import ast
    import pathlib

    import zeek_duckdb_spark

    banned = {"zstandard", "brotli", "brotlicffi", "zstd_raw"}
    hits = []
    root = pathlib.Path(zeek_duckdb_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""] + [a.name for a in node.names]
            else:
                continue
            for name in names:
                if banned & set(name.split(".")):
                    hits.append(f"{path.relative_to(root)}:{node.lineno} {name}")
    assert not hits
    assert not (root / "sources" / "zstd_raw.py").exists()
