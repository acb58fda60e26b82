"""Per-layer ledger for the benchmark's traced runs.

Two sources, both read from outside the package:

- ``Tracer`` replaces public functions of the package's modules with
  wrappers that record a span (name, start, end, parent span, operation
  id) per call.  Spans are kept in memory and written out when the run
  ends.  The originals are restored by ``Tracer.restore``.
- ``census`` reads Spark's status store for one job group after the
  operation's clock has stopped: per-stage task counts, run/CPU/GC time,
  input, shuffle and stage intervals (AppStatusStore, which answers with
  ``spark.ui.enabled=false``), and per-plan-node SQL metrics
  (SQLAppStatusStore plan graphs) for the Python boundary.
"""

from __future__ import annotations

import functools
import importlib
import re
import time

# module, attribute, span name.  Header functions are wrapped where
# read_zeek looks them up (its own module globals), so only driver-side
# bind calls are seen; the DataSource re-parses headers in Python
# workers, which these wrappers never reach.
TRACED = [
    ("zeek_duckdb_spark.session", "get_spark", "session.get_spark"),
    ("zeek_duckdb_spark", "register", "session.register"),
    ("zeek_duckdb_spark.sources.zeek", "glob_zeek_files", "header.glob"),
    ("zeek_duckdb_spark.sources.zeek", "parse_header", "header.parse_header"),
    ("zeek_duckdb_spark.sources.zeek", "read_zeek", "sources.zeek.read_zeek"),
    ("zeek_duckdb_spark.sources.sink", "ingest_zeek_to_parquet",
     "sources.sink.ingest"),
    ("zeek_duckdb_spark.sources.zeek_writer", "write_zeek",
     "sources.zeek_writer.write_zeek"),
    # the DataSource binds (glob + headers) while load() resolves the
    # schema, in a Python worker the JVM starts; load() is its driver face
    ("pyspark.sql.readwriter", "DataFrameReader.load",
     "sources.datasource.load"),
]


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []
        self._saved: list[tuple] = []

    def install(self) -> None:
        for mod_name, path, span in TRACED:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for name in outer:
                owner = getattr(owner, name)
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, span))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name``."""
        idx = len(self.spans)
        span = {"name": name, "op": self.op,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.perf_counter(), "end": None}
        self.spans.append(span)
        self._stack.append(idx)
        try:
            result = fn(*args, **kwargs)
            if isinstance(result, list):  # e.g. the files a glob matched
                span["items"] = len(result)
            return result
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()

    def totals(self, op_ids: set[str]) -> dict[str, dict[str, float]]:
        """Per span name: call count, list items returned, total time and
        self time (duration minus the time covered by child spans), over
        the given operations."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] = (child_time.get(s["parent"], 0.0)
                                           + s["end"] - s["start"])
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s["op"] not in op_ids or s["end"] is None:
                continue
            d = s["end"] - s["start"]
            t = out.setdefault(s["name"], {"calls": 0, "items": 0,
                                           "total_s": 0.0, "self_s": 0.0})
            t["calls"] += 1
            t["items"] += s.get("items", 0)
            t["total_s"] += d
            t["self_s"] += d - child_time.get(i, 0.0)
        return out


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "ns": 1e-9, "": 1}
_NUM = re.compile(r"([\d,.]+)\s*([A-Za-z]*)")


def _metric_value(text: str) -> float:
    """Parse a SQL metric's display string ('28,800', '1.5 MiB',
    'total (min, med, max ...)\\n2.9 s (...)') into bytes, seconds or a
    count."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def census(spark, group: str, wall_start: float, wall_end: float) -> dict:
    """Status-store numbers for one job group.  ``wall_start``/``wall_end``
    are the operation's epoch-second clock readings; ``driver_s`` is the
    part of that wall not covered by any stage's run interval."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    jids = list(st.getJobIdsForGroup(group) or [])
    stage_ids: set[int] = set()
    for j in jids:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    c = {"jobs": len(jids), "stages": 0, "tasks": 0, "failed_tasks": 0,
         "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "input_bytes": 0,
         "input_rows": 0, "scan_run_s": 0.0, "scan_cpu_s": 0.0,
         "scan_tasks": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
         "fetch_wait_s": 0.0, "stage_intervals": []}
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # stage skipped and never attempted
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        c["stages"] += 1
        c["tasks"] += sd.numTasks()
        c["failed_tasks"] += sd.numFailedTasks()
        run_s = sd.executorRunTime() / 1e3
        cpu_s = sd.executorCpuTime() / 1e9
        c["run_s"] += run_s
        c["cpu_s"] += cpu_s
        c["gc_s"] += sd.jvmGcTime() / 1e3
        c["input_bytes"] += sd.inputBytes()
        c["input_rows"] += sd.inputRecords()
        if sd.inputRecords() > 0:  # a stage that reads files
            c["scan_run_s"] += run_s
            c["scan_cpu_s"] += cpu_s
            c["scan_tasks"] += sd.numTasks()
        c["shuffle_read_bytes"] += sd.shuffleReadBytes()
        c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        c["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
        a, b = _opt_ms(sd.submissionTime()), _opt_ms(sd.completionTime())
        if a is not None and b is not None:
            c["stage_intervals"].append((a, b))
    covered = 0.0
    cur = None
    for a, b in sorted(c["stage_intervals"]):
        a, b = max(a, wall_start), min(b, wall_end)
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            if cur is not None:
                covered += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        covered += cur[1] - cur[0]
    c["driver_s"] = max(0.0, (wall_end - wall_start) - covered)
    del c["stage_intervals"]
    c.update(_python_nodes(spark, set(jids)))
    return c


def _python_nodes(spark, jids: set[int]) -> dict:
    """Python-boundary numbers from the SQL plan graphs of the
    executions that ran the given jobs: bytes to and from Python workers
    over every node, and output rows of the Python UDF nodes and of the
    Python DataSource scans."""
    out = {"python_sent_bytes": 0.0, "python_recv_bytes": 0.0,
           "udf_rows": 0.0, "udf_python_bytes": 0.0, "ds_rows": 0.0}
    if not jids:
        return out
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        ej = set()
        it = e.jobs().keysIterator()
        while it.hasNext():
            ej.add(int(it.next()))
        if not ej & jids:
            continue
        values = store.executionMetrics(e.executionId())
        nodes = store.planGraph(e.executionId()).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            name = node.name()
            metrics = {}
            ms = node.metrics()
            for m in range(ms.size()):
                pm = ms.apply(m)
                v = values.get(pm.accumulatorId())
                if v.isDefined():
                    metrics[pm.name()] = _metric_value(v.get())
            sent = metrics.get("data sent to Python workers", 0.0)
            recv = metrics.get("data returned from Python workers", 0.0)
            out["python_sent_bytes"] += sent
            out["python_recv_bytes"] += recv
            rows = metrics.get("number of output rows", 0.0)
            if name in ("ArrowEvalPython", "BatchEvalPython"):
                out["udf_rows"] += rows
                out["udf_python_bytes"] += sent + recv
            elif name.startswith("BatchScan") and recv:
                out["ds_rows"] += rows
    return out
