"""Filesystem front door: the ``warc``/``cdx`` readers list and open
through ``pyarrow.fs`` (``filesystem.list_paths``/``open_path``) and,
for stores pyarrow cannot resolve, through injected ``opener=``/
``lister=`` callables (round-15) — rows identical to the local read of
the same bytes, the bounded-memory watermark holds through the opener
seam, and the streaming source lists/opens remotely.  The fake
filesystem here is the injection contract: any ranged-GET client slots
into the same two callables."""

import fnmatch
import glob
import io
import os
import posixpath

import pytest

from zeek_duckdb_spark.sources.warc import (
    _decompressed_chunks,
    _records_from_chunks,
    _FileSetStreamReader,
    cdx_records,
    encode_warc,
    read_warc,
    read_warc_selected,
    read_warc_stream,
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


def _mem_fs(files: dict):
    """In-memory ``mem://`` filesystem: a dict of path -> bytes ->
    (opener, lister) CLOSURES.  Defined inside a function so
    cloudpickle ships them BY VALUE (the tests/ module is not
    importable on executors or the planning worker); user seams live
    in importable modules (a functools.partial over a module
    function).  Executors see the dict as pickled at plan time —
    mutations made afterwards in the test process are invisible, which
    is exactly the pickling contract the docstrings state (a real
    store client re-lists the live store)."""
    snap = dict(files)

    def opener(path: str):
        if path not in snap:
            raise FileNotFoundError(path)
        return io.BytesIO(snap[path])

    def lister(path: str):
        if any(c in path for c in "*?["):
            return sorted(p for p in snap if fnmatch.fnmatch(p, path))
        if path.endswith("/"):
            return sorted(p for p in snap if p.startswith(path))
        return [path] if path in snap else []

    return opener, lister


def _two_files():
    return {
        "mem://bucket/day0.warc.gz": encode_warc([
            _resp("http://d0.org/a", b"<p>a</p>" * 30),
            _resp("http://d0.org/b", b"<p>b</p>"),
        ]),
        "mem://bucket/day1.warc.gz": encode_warc([
            _resp("http://d1.org/a", b"<p>c</p>"),
        ]),
    }


def _row_key(r):
    return (r.target_uri, bytes(r.body), r.http_status, r.content_type)


def test_remote_batch_rows_match_posix(spark, tmp_path):
    """read_warc over mem:// through the seams returns exactly the
    local read's rows on the same bytes."""
    files = _two_files()
    opener, lister = _mem_fs(files)
    for name, blob in files.items():
        (tmp_path / name.rsplit("/", 1)[1]).write_bytes(blob)

    remote = read_warc(
        spark, "mem://bucket/*.warc.gz", opener=opener, lister=lister
    )
    local = read_warc(spark, str(tmp_path / "*.warc.gz"))
    got = sorted(_row_key(r) for r in remote.collect())
    want = sorted(_row_key(r) for r in local.collect())
    assert got == want and len(got) == 3
    # warc_file echoes the remote path (the CDX join key)
    assert {r.warc_file.rsplit("/", 1)[0]
            for r in remote.collect()} == {"mem://bucket"}


def test_remote_cdx_and_selected_read(spark):
    """cdx_records over mem:// + read_warc_selected with the same
    opener: the full remote random-access loop — index remotely, then
    re-read one record by its span through ranged reads."""
    opener, lister = _mem_fs(_two_files())
    idx = cdx_records(
        spark, "mem://bucket/*.warc.gz", opener=opener, lister=lister,
    )
    rows = idx.collect()
    assert len(rows) == 3 and all(r.urlkey for r in rows)
    pick = idx.filter("url = 'http://d0.org/b'")
    got = read_warc_selected(spark, pick, opener=opener).collect()
    assert [r.target_uri for r in got] == ["http://d0.org/b"]
    assert bytes(got[0].body) == b"<p>b</p>"


def test_remote_streaming_source(spark, tmp_path):
    """readStream through the seams: a mem:// archive drains into
    micro-batches with the same rows as the batch read (the file-set
    offsets list through the injected lister)."""
    opener, lister = _mem_fs(_two_files())
    out, ck = str(tmp_path / "landed"), str(tmp_path / "ck")
    q = (
        read_warc_stream(
            spark, "mem://bucket/*.warc.gz", opener=opener, lister=lister,
        )
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert {r.target_uri for r in spark.read.parquet(out).collect()} == {
        "http://d0.org/a", "http://d0.org/b", "http://d1.org/a",
    }


def test_remote_watermark_bounded():
    """The bounded-memory watermark HOLDS through the opener seam: a
    multi-record remote plain WARC parses with a buffer high-water
    mark far below the file size (the whole point of the stream
    engine on object stores — no whole-blob materialization).  The
    fake file caps each read() at 64 KiB, the shape a ranged-GET
    client actually returns."""
    body = b"x" * (1 << 16)
    blob = encode_warc(
        [_resp(f"http://w.org/{i}", body) for i in range(128)],
        compress=False,
    )  # ~8 MiB

    def opener(path):
        class _Capped(io.BytesIO):
            def read(self, n=-1):
                return super().read(min(n, 1 << 16) if n > 0 else n)

        return _Capped(blob)

    mem = {}
    got = list(_records_from_chunks(
        _decompressed_chunks("mem://bucket/big.warc", "t", opener),
        "t", mem=mem,
    ))
    assert len(got) == 128
    assert mem["peak_buffered"] < len(blob) // 4, (
        f"watermark {mem['peak_buffered']} vs blob {len(blob)}"
    )


def test_engine_resolution_with_seams(spark):
    """The seam table (round-15): a scheme pyarrow.fs cannot serve
    errors without seams, naming them; lister-less opener needs a
    literal path; opener-less lister errors."""
    opener, lister = _mem_fs({"mem://bucket/one.warc": encode_warc(
        [_resp("http://o.org/a", b"x")], compress=False)})
    # literal remote file + opener alone: the listing is implied
    got = read_warc(spark, "mem://bucket/one.warc", opener=opener)
    assert [r.target_uri for r in got.collect()] == ["http://o.org/a"]
    with pytest.raises(ValueError, match="lister="):
        read_warc(spark, "mem://bucket/*.warc", opener=opener)
    with pytest.raises(ValueError, match="opener"):
        read_warc(spark, "mem://bucket/*.warc", lister=lister)
    with pytest.raises(ValueError, match="opener=/lister="):
        read_warc(spark, "s3a://bucket/x.warc.gz")


def test_offset_format_back_compat():
    """Three offset generations deserialize to the same file set (a
    live stream restarted onto r15 code keeps its offsets): the r14
    ``{"files": {path: 1}}`` dict, the interim sorted list, and the
    r15 directory-grouped form — whose serialize/deserialize pair
    round-trips any path set, including splits that don't rejoin."""
    assert _FileSetStreamReader._offset_files(
        {"files": {"a.warc": 1, "b.warc": 1}}
    ) == {"a.warc", "b.warc"}
    assert _FileSetStreamReader._offset_files(
        {"files": ["a.warc", "b.warc"]}
    ) == {"a.warc", "b.warc"}
    assert _FileSetStreamReader._offset_files({"files": []}) == set()

    paths = {
        "/crawl/2026/day0.warc.gz", "/crawl/2026/day1.warc.gz",
        "/crawl/2027/day0.warc.gz", "mem://bucket/x.warc",
        "bare.warc", "s3://b//doubleslash.warc",  # non-rejoining split
    }
    off = _FileSetStreamReader._serialize_files(paths)
    assert _FileSetStreamReader._offset_files(off) == paths
    # each directory name appears once; the two 2026 files share a key
    assert set(off["d"]["/crawl/2026"]) == {"day0.warc.gz", "day1.warc.gz"}
    assert "s3://b//doubleslash.warc" in off["d"][""]
    assert "bare.warc" in off["d"][""]
    # JSON-primitive (the checkpoint requirement) and deterministic
    import json

    assert json.loads(json.dumps(off)) == off
    assert off == _FileSetStreamReader._serialize_files(set(paths))


def _old_posix_listing(p: str) -> list:
    """The POSIX listing rules list_paths replaces, kept as the
    differential oracle for local paths."""
    if os.path.isdir(p):
        return sorted(
            os.path.join(p, f) for f in os.listdir(p)
            if not f.startswith((".", "_"))
            and os.path.isfile(os.path.join(p, f))
        )
    if not any(c in p for c in "*?["):
        return [p] if os.path.isfile(p) else []
    return sorted(
        f for f in glob.glob(p)
        if os.path.isfile(f)
        and not os.path.basename(f).startswith((".", "_"))
    )


_TREE = [
    "crawl/a.warc.gz", "crawl/b.warc.gz", "crawl/.part-0.warc.gz.tmp-1",
    "crawl/_committed_1", "crawl/_rescued.warc", "crawl/sub/c.warc.gz",
    "crawl/sub/deep/d.warc.gz", "crawl/_u/g.warc.gz", "crawl/.hid/f.warc",
]


def test_list_paths_rules_on_mock_fs():
    """list_paths on an in-process pyarrow mock filesystem: a directory
    lists its non-hidden files, a hidden literal is honoured, a glob
    drops ``_committed_*`` and dot tmps, and ``*`` does not cross
    ``/``."""
    from pyarrow import fs as pafs

    from zeek_duckdb_spark.sources.filesystem import list_paths

    fs = pafs._MockFileSystem()
    for p in _TREE:
        fs.create_dir(posixpath.dirname(p))
        with fs.open_output_stream(p) as out:
            out.write(b"x")
    assert list_paths(fs, "crawl") == ["crawl/a.warc.gz", "crawl/b.warc.gz"]
    assert list_paths(fs, "crawl/_rescued.warc") == ["crawl/_rescued.warc"]
    assert list_paths(fs, "crawl/missing.warc") == []
    assert list_paths(fs, "crawl/*") == ["crawl/a.warc.gz", "crawl/b.warc.gz"]
    assert list_paths(fs, "crawl/_committed_*") == []
    assert list_paths(fs, "crawl/*.warc.gz") == [
        "crawl/a.warc.gz", "crawl/b.warc.gz"]
    assert list_paths(fs, "crawl/*/*.warc.gz") == [
        "crawl/_u/g.warc.gz", "crawl/sub/c.warc.gz"]
    assert list_paths(fs, "crawl/s*/*/*.warc.gz") == ["crawl/sub/deep/d.warc.gz"]
    assert list_paths(fs, "crawl/.*/*") == ["crawl/.hid/f.warc"]
    assert list_paths(fs, "nowhere/*") == []


def test_list_paths_matches_posix_listing(tmp_path):
    """On local paths the pyarrow.fs listing returns exactly what the
    POSIX glob listing returned — the warc_file values (and so CDX join
    keys and stream offsets) do not change."""
    from zeek_duckdb_spark.sources.warc import _glob_warc_paths

    for p in _TREE:
        f = tmp_path / p
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_bytes(b"x")
    root = str(tmp_path)
    cases = [
        "crawl", "crawl/", "crawl/_rescued.warc", "crawl/missing.warc",
        "crawl/*", "crawl/_committed_*", "crawl/*.warc.gz",
        "crawl/*/*.warc.gz", "crawl/s*/*/*.warc.gz", "crawl/.*/*",
        "crawl/[ab].warc.gz", "crawl/?.warc.gz", "crawl/sub/*/d.warc.gz",
    ]
    for c in cases:
        want = _old_posix_listing(f"{root}/{c}")
        assert _glob_warc_paths(f"{root}/{c}") == want, c
        assert _glob_warc_paths(f"file://{root}/{c}") == want, c
    # relative paths stay relative
    cwd = os.getcwd()
    os.chdir(root)
    try:
        for c in ("crawl", "crawl/*/*.warc.gz", "crawl/a.warc.gz"):
            assert _glob_warc_paths(c) == _old_posix_listing(c), c
    finally:
        os.chdir(cwd)


def test_file_uri_end_to_end(spark, tmp_path):
    """read_warc, cdx_records, read_warc_selected and read_warc_stream
    on ``file://`` URIs: the same rows as the bare-path read, with
    warc_file spelled as the bare local path."""
    from zeek_duckdb_spark.sources.warc import cdx_records

    for name, blob in _two_files().items():
        (tmp_path / name.rsplit("/", 1)[1]).write_bytes(blob)
    bare = str(tmp_path / "*.warc.gz")
    uri = f"file://{bare}"

    def rows(df):
        return sorted((r.warc_file,) + _row_key(r) for r in df.collect())

    got = rows(read_warc(spark, uri))
    assert got == rows(read_warc(spark, bare)) and len(got) == 3
    assert {g[0] for g in got} == {
        str(tmp_path / "day0.warc.gz"), str(tmp_path / "day1.warc.gz")}

    def cdx(path):
        return sorted(
            (r.warc_file, r.url, r.offset, r.length, r.digest, r.urlkey)
            for r in cdx_records(spark, path).collect()
        )

    assert cdx(uri) == cdx(bare) and len(cdx(uri)) == 3
    pick = cdx_records(spark, uri).filter("url = 'http://d0.org/b'")
    sel = read_warc_selected(spark, pick).collect()
    assert [bytes(r.body) for r in sel] == [b"<p>b</p>"]

    out, ck = str(tmp_path / "landed"), str(tmp_path / "ck")
    q = (
        read_warc_stream(spark, f"file://{tmp_path}")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert rows(spark.read.parquet(out)) == got


def test_plain_datasources_register_once_per_session(
    spark, tmp_path, monkeypatch
):
    """The plain ``warc``/``cdx`` DataSources register once per
    session: a second read_warc or cdx_records makes no further
    ``spark.dataSource.register`` call.  The seam variants carry their
    callables by value, so they still register on every load."""
    import weakref

    from pyspark.sql.datasource import DataSourceRegistration

    from zeek_duckdb_spark.sources import datasource

    names = []
    real = DataSourceRegistration.register

    def counting(self, ds):
        names.append(ds.name())
        return real(self, ds)

    monkeypatch.setattr(DataSourceRegistration, "register", counting)
    # forget earlier tests' registrations so the first load registers
    monkeypatch.setattr(datasource, "_REGISTERED", weakref.WeakKeyDictionary())
    files = _two_files()
    for name, blob in files.items():
        (tmp_path / name.rsplit("/", 1)[1]).write_bytes(blob)
    path = str(tmp_path / "*.warc.gz")

    assert read_warc(spark, path).count() == 3
    assert cdx_records(spark, path).count() == 3
    assert names == ["warc", "cdx"]
    assert read_warc(spark, path).count() == 3
    assert cdx_records(spark, path).count() == 3
    assert names == ["warc", "cdx"]

    opener, lister = _mem_fs(files)
    for _ in range(2):
        read_warc(spark, "mem://bucket/*.warc.gz",
                  opener=opener, lister=lister)
    assert names == ["warc", "cdx", "warc_fs", "warc_fs"]


def test_derived_session_registers_each_plain_datasource_once(
    spark, tmp_path, monkeypatch
):
    """A ``spark.newSession()`` does not inherit its parent's Python
    DataSources, and Spark checks a new name against the active
    (parent) session: every plain source still registers once in the
    derived session, its readers and sinks run there, a second write
    makes no further ``register`` call, and the ``opener=`` variant
    registers there too."""
    from pyspark.sql.datasource import DataSourceRegistration

    import zeek_duckdb_spark
    from zeek_duckdb_spark.sources.cdxj import read_cdxj, write_cdxj
    from zeek_duckdb_spark.sources.warc import (
        register_warc_datasource,
        write_warc,
        write_wat,
        write_wet,
    )

    files = _two_files()
    for name, blob in files.items():
        (tmp_path / name.rsplit("/", 1)[1]).write_bytes(blob)
    path = str(tmp_path / "*.warc.gz")
    zeek_duckdb_spark.register(spark)
    register_warc_datasource(spark)
    read_warc(spark, path).count()
    cdx_records(spark, path).count()
    opener, lister = _mem_fs(files)
    mem = "mem://bucket/*.warc.gz"
    read_warc(spark, mem, opener=opener, lister=lister).count()

    child = spark.newSession()
    names = []
    real = DataSourceRegistration.register

    def counting(self, ds):
        names.append(ds.name())
        return real(self, ds)

    monkeypatch.setattr(DataSourceRegistration, "register", counting)
    zeek_duckdb_spark.register(child)
    register_warc_datasource(child)
    assert names == ["zeek", "warc"]

    recs = read_warc(child, path)
    assert recs.count() == 3
    assert read_warc(child, mem, opener=opener, lister=lister).count() == 3
    cdx = cdx_records(child, path)
    text = child.createDataFrame(
        [("http://a.example/", "2026-08-16T00:00:00Z", "hello")],
        "url string, warc_date string, text string",
    )
    wat = child.createDataFrame(
        [("http://a.example/", "2026-08-16T00:00:00Z", "<urn:a>", "{}")],
        "url string, warc_date string, refers_to string, wat string",
    )
    for i in range(2):
        write_wet(text, str(tmp_path / f"wet{i}"))
        write_wat(wat, str(tmp_path / f"wat{i}"))
        write_warc(recs, str(tmp_path / f"warc{i}"))
        write_cdxj(cdx, str(tmp_path / f"cdxj{i}"), shards=1)
    assert sorted(names) == sorted(
        ["zeek", "warc", "warc_fs", "cdx", "wet", "wat", "warcout", "cdxj"]
    )
    assert read_warc(child, str(tmp_path / "warc1" / "*.warc.gz")).count() == 3
    assert read_cdxj(child, str(tmp_path / "cdxj1")).count() == 3


def test_hdfs_without_libhdfs_fails_on_driver(spark):
    """hdfs:// resolves through pyarrow.fs.HadoopFileSystem, which
    needs libhdfs: without it read_warc raises a ValueError on the
    driver naming the scheme and libhdfs, before any Spark job."""
    import ctypes.util

    if ctypes.util.find_library("hdfs") or any(
            os.environ.get(k) for k in ("ARROW_LIBHDFS_DIR", "HADOOP_HOME")):
        pytest.skip("libhdfs is loadable here")
    with pytest.raises(ValueError, match="hdfs://.*libhdfs"):
        read_warc(spark, "hdfs://nn/x.warc.gz")
