"""The staged-file protocol (sources/staged.py) as every file sink sees
it: one parametrized contract over the seven writers, and a guard that
no other module stages, renames or reads the task context itself.

Each writer is checked for: no final file before commit, nothing left
by a task that raises, abort discarding the staged tmps, age-gated
reaping of stale dot-tmps and the ``mode='error'`` refusal (the sinks
that have them), and its own empty-partition behaviour."""

import io
import os
import time

import pytest

from zeek_duckdb_spark.sources.cdxj import CdxjShardWriter
from zeek_duckdb_spark.sources.datasource import (
    WarcOutShardWriter,
    WatShardWriter,
    WetShardWriter,
)
from zeek_duckdb_spark.sources.warc import cdx_records, encode_warc, extract_warc
from zeek_duckdb_spark.sources.zeek_writer import ZeekLogWriter, ZeekStreamLogWriter

HEADER = "#separator \\x09\n#fields\tline\n#types\tstring"


def _files(path: str) -> list[str]:
    """Every file under ``path``, relative, sorted."""
    out = []
    for root, _dirs, names in os.walk(path):
        out += [os.path.relpath(os.path.join(root, n), path) for n in names]
    return sorted(out)


def _died(rows, path):
    """A task's rows that raise after the first one, once the task has
    staged bytes."""
    yield rows[0]
    assert _files(path), "the task staged nothing before dying"
    raise RuntimeError("task died")


class _Writer:
    """A DataSource writer driven at the class level, so the window
    between a task's write and the driver's commit is deterministic."""

    aborts = True

    def __init__(self, name, make, rows, finals, empty_finals=(),
                 refusal=None, batch_id=None):
        self.name, self._make, self._rows = name, make, rows
        self.finals, self.empty_finals = finals, list(empty_finals)
        self.refusal, self._batch_id = refusal, batch_id
        self.reaps = refusal is not None

    def open(self, path, overwrite=True):
        return self._make(path, overwrite)

    def _commit(self, w, msgs):
        if self._batch_id is None:
            return w.commit(msgs)
        return w.commit(msgs, self._batch_id)

    def publish(self, path):
        w = self.open(path)
        msg = w.write(iter(self._rows))
        assert msg.tmp is not None and os.path.exists(msg.tmp)
        # task done, commit not run: only dot-prefixed staging exists
        assert all(os.path.basename(f).startswith(".") for f in _files(path))
        self._commit(w, [msg, None])
        return _files(path)

    def publish_empty(self, path):
        w = self.open(path)
        self._commit(w, [w.write(iter([]))])
        return _files(path)

    def fail(self, path):
        self.open(path).write(_died(self._rows, path))

    def abort(self, path):
        w = self.open(path)
        msg = w.write(iter(self._rows))
        assert os.path.exists(msg.tmp)
        if self._batch_id is None:
            w.abort([msg, None])
        else:
            w.abort([msg, None], self._batch_id)


class _ExtractWarc:
    """extract_warc stages from inside a mapInPandas job and publishes
    after collect, so it is driven end to end through an in-memory
    source opener.  It has no abort, reaper or mode today."""

    name = "extract_warc"
    aborts = reaps = False
    refusal = None
    finals = ["part-00000.warc.gz"]
    empty_finals: list = []

    def __init__(self, spark):
        self._spark = spark
        self._snap = {"mem://c/x.warc.gz": encode_warc([
            ({"WARC-Type": "response", "WARC-Record-ID": f"<urn:r{i}>",
              "WARC-Target-URI": f"http://e.org/{i}",
              "WARC-Date": "2026-08-16T00:00:00Z",
              "Content-Type": "application/http; msgtype=response"},
             b"HTTP/1.1 200 OK\r\nContent-Length: 6\r\n\r\nbody %d" % i)
            for i in range(3)
        ])}

    def _opener(self, out):
        snap = self._snap

        def opener(path):
            # the task runs before the driver publishes anything
            assert not any(f.startswith("part-") for f in os.listdir(out))
            return io.BytesIO(snap[path])

        return opener

    def _index(self):
        snap = self._snap
        return cdx_records(self._spark, "mem://c/x.warc.gz",
                           opener=lambda p: io.BytesIO(snap[p]))

    def open(self, path, overwrite=True):
        self.publish_empty(path)

    def publish(self, path):
        # one source file in one offset bucket: one task, one shard
        m = extract_warc(self._spark, self._index(), path,
                         opener=self._opener(path))
        assert m["files"] == 1 and m["record_spans"] == 3
        return _files(path)

    def publish_empty(self, path):
        m = extract_warc(self._spark, self._index().limit(0), path,
                         opener=self._opener(path))
        assert m["files"] == 0
        return _files(path)

    def fail(self, path):
        # the last span runs past the end of the source: the task has
        # staged the spans before it when it raises
        idx = self._index()
        top = idx.agg({"offset": "max"}).first()[0]
        bad = idx.selectExpr(
            "warc_file", "offset",
            f"CASE WHEN offset = {top} THEN length + 1000 ELSE length END AS length")
        extract_warc(self._spark, bad, path, opener=self._opener(path))


_CDX_ROW = ("org,a)/x", "20260101000000", "http://a.org/x", None,
            "text/html", 200, "sha1:AAAA", 100, 0, "a.warc.gz")

SINKS = [
    _Writer(
        "zeek", lambda p, ow: ZeekLogWriter({"path": p, "zeek_header": HEADER}, ow),
        [("a\tb",), ("c\td",)], ["part-00000.log"],
        empty_finals=["part-00000.log"],
        refusal="write_zeek: '{path}' already contains log files "
                "(mode='error'); use mode='overwrite'"),
    _Writer(
        "zeek_stream",
        lambda p, ow: ZeekStreamLogWriter({"path": p, "zeek_header": HEADER,
                                           "compress": "gz"}),
        [("a\tb",), ("c\td",)], ["batch-000007-part-00000.log.gz"],
        batch_id=7),
    _Writer(
        "wet", lambda p, ow: WetShardWriter({"path": p}, ow),
        [("https://a.org/x", "2026-01-01T00:00:00Z", "hi"),
         ("https://a.org/y", None, "there")],
        ["part-00000.warc.gz"],
        refusal="write_wet: '{path}' already contains WET shards "
                "(mode='error'); use mode='overwrite'"),
    _Writer(
        "wat", lambda p, ow: WatShardWriter({"path": p}, ow),
        [("https://a.org/x", "2026-01-01T00:00:00Z", "<urn:x>", '{"a": 1}'),
         ("https://a.org/y", None, None, '{"b": 2}')],
        ["part-00000.warc.gz"],
        refusal="write_wat: '{path}' already contains WAT shards "
                "(mode='error'); use mode='overwrite'"),
    _Writer(
        "warc_out",
        lambda p, ow: WarcOutShardWriter({"path": p, "compress": "zst"}, ow),
        [("https://a.org/x", "2026-01-01T00:00:00Z", None, "resource", None,
          "text/plain", None, b"one", None, None),
         ("https://a.org/y", "2026-01-01T00:00:00Z", None, "resource", None,
          "text/plain", None, b"two", None, None)],
        ["part-00000.warc.zst"],
        refusal="write_warc: '{path}' already contains WARC shards "
                "(mode='error'); use mode='overwrite'"),
    _Writer(
        "cdxj",
        lambda p, ow: CdxjShardWriter({"path": p, "lines_per_block": "1"}, ow),
        [_CDX_ROW, ("org,a)/y",) + _CDX_ROW[1:]],
        ["cdx-00000.gz", "cluster.idx"],
        empty_finals=["cluster.idx"],
        refusal="write_cdxj: '{path}' already contains a CDXJ export "
                "(mode='error'); use mode='overwrite'"),
    None,  # extract_warc, built once Spark is up
]


@pytest.mark.parametrize("i", range(len(SINKS)),
                         ids=[s.name if s else "extract_warc" for s in SINKS])
def test_staged_sink_contract(spark, tmp_path, i):
    sink = SINKS[i] or _ExtractWarc(spark)

    # commit publishes the final names and leaves no staging behind
    out = str(tmp_path / "out")
    assert sorted(sink.publish(out)) == sorted(sink.finals)

    # empty partition: a header-only part file (zeek batch), the
    # index alone (cdxj), nothing (the rest)
    assert sink.publish_empty(str(tmp_path / "empty")) == sink.empty_finals

    # a task that raises leaves neither its tmp nor a final file
    died = str(tmp_path / "died")
    with pytest.raises(Exception, match="task died|truncated"):
        sink.fail(died)
    assert _files(died) == []

    if sink.aborts:
        aborted = str(tmp_path / "aborted")
        sink.abort(aborted)
        assert _files(aborted) == []

    # stale dot-tmps: a SIGKILLed run's old one is reaped by the next
    # writer, a fresh one (a live job's) survives; sinks without a
    # reaper leave both
    reap = str(tmp_path / "reap")
    os.makedirs(reap)
    final = sink.finals[0]
    stale = os.path.join(reap, f".{final}.tmp-9")
    fresh = os.path.join(reap, f".{final}.tmp-2")
    for f in (stale, fresh):
        open(f, "wb").close()
    old = time.time() - 48 * 3600  # past the 24 h staleness window
    os.utime(stale, (old, old))
    sink.open(reap)
    assert os.path.exists(stale) != sink.reaps
    assert os.path.exists(fresh)

    if sink.refusal is not None:
        with pytest.raises(ValueError) as exc:
            sink.open(out, overwrite=False)
        assert str(exc.value) == sink.refusal.format(path=out)
        sink.open(out, overwrite=True)  # overwrite clears the finals
        assert _files(out) == []


def test_only_the_staged_module_renames_or_reads_the_task_context():
    """Staging, publish-by-rename and the task identity live in
    sources/staged.py alone: no other package module calls os.replace
    or TaskContext.get()."""
    import ast
    import pathlib

    import zeek_duckdb_spark

    root = pathlib.Path(zeek_duckdb_spark.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
                call = f"{node.value.id}.{node.attr}"
                if call in ("os.replace", "TaskContext.get"):
                    hits.append((rel, call))
            elif isinstance(node, ast.ImportFrom) and node.module == "os":
                if any(a.name == "replace" for a in node.names):
                    hits.append((rel, "from os import replace"))
    assert hits and {rel for rel, _ in hits} == {"sources/staged.py"}, hits
