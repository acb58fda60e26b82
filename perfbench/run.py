"""Benchmark of the zeek_duckdb_spark engine.

    python3 perfbench/run.py --workload zeek-hunt --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One process, one SparkSession
(``local[nproc]``) and one client issuing operations serially (a closed
loop).  Inputs are generated from ``--seed`` and cached under
``.perfbench/cache``; every other output (Spark local dirs, landings,
written logs) goes to a temporary directory under ``.perfbench`` that is
removed at exit.

A run: set up the session; generate inputs; one cold pass over the
workload's operations; warm passes until ``--seconds`` have elapsed (at
least the workload's ``min_passes``); check every answer outside the
clocks.  The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer ledger with ``--trace 1``.

The traced run interleaves untraced and traced warm passes.  Traced
passes wrap the package's public functions (``ledger.TRACED``) and tag
each operation with a Spark job group whose status-store numbers are
read after the operation's clock stops; the layer numbers come from the
traced pass with the median wall time, all from that one pass.
``trace.overhead_s`` is the median traced pass minus the median
untraced pass.  The spans and per-operation census of every traced pass
are written to ``.perfbench/trace-<workload>-<seed>.json``.

Internal flags: ``--scale tiny`` shrinks every input (self-test);
``--perturb`` corrupts one expected answer so the check must fail.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

import ledger

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"

END_TO_END = {
    "setup_s": "s", "first_pass_s": "s", "pass_s": "s", "op_p50_s": "s",
    "scan_mb_per_s": "MB/s",
}
ENGINE_LAYER = {
    "shuffle.read_bytes": ("B", "shuffle_read_bytes"),
    "shuffle.write_bytes": ("B", "shuffle_write_bytes"),
    "shuffle.fetch_wait_s": ("s", "fetch_wait_s"),
    "python.bytes_sent": ("B", "python_sent_bytes"),
    "python.bytes_received": ("B", "python_recv_bytes"),
    "scheduler.jobs": ("count", "jobs"),
    "scheduler.stages": ("count", "stages"),
    "scheduler.tasks": ("count", "tasks"),
    "scheduler.failed_tasks": ("count", "failed_tasks"),
    "driver.s": ("s", "driver_s"),
    "executor.run_s": ("s", "run_s"),
    "executor.cpu_s": ("s", "cpu_s"),
    "executor.gc_s": ("s", "gc_s"),
}


def _proc_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of the whole machine, from /proc/stat.
    Busy counts user, nice, system, irq and softirq time."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _pin_environment(run_dir: str) -> int:
    """Pin the run to this machine and keep its files under ``run_dir``."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the package (DataSource, UDFs) from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    # the session's own shuffle width, not an override from the caller
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    return cpus


class Runner:
    def __init__(self, spark, workload, tracer=None):
        self.spark = spark
        self.wl = workload
        self.tracer = tracer
        self.attempted = 0
        self.failed: set[tuple[str, str]] = set()  # (pass label, op)
        self.census: dict[str, dict] = {}

    def one_pass(self, label: str, traced: bool) -> dict:
        sc = self.spark.sparkContext
        lat: dict[str, float] = {}
        cpu0 = _cpu_ticks()
        t0 = time.perf_counter()
        off_clock = 0.0  # census reads and answer checks
        for op in self.wl.ops:
            op_id = f"{label}:{op.name}"
            if traced:
                sc.setJobGroup(op_id, op_id)
                self.tracer.op = op_id
            self.attempted += 1
            w0 = time.time()
            s0 = time.perf_counter()
            try:
                res = op.run(self.spark)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                self.failed.add((label, op.name))
                continue
            finally:
                dt = time.perf_counter() - s0
                if traced:
                    self.tracer.op = None
                    sc.setLocalProperty("spark.jobGroup.id", None)
            lat[op.name] = dt
            c0 = time.perf_counter()
            if traced:
                self.census[op_id] = self._census(op, op_id, w0, w0 + dt)
            if not op.check(res):
                print(f"wrong answer: {op.name} ({label}): {res!r}"[:2000],
                      file=sys.stderr)
                self.failed.add((label, op.name))
            off_clock += time.perf_counter() - c0
        wall = time.perf_counter() - t0 - off_clock
        # machine-wide CPU and steal time: how contended the machine was
        cpu1 = _cpu_ticks()
        tick = os.sysconf("SC_CLK_TCK")
        busy, steal = (cpu1[0] - cpu0[0]) / tick, (cpu1[1] - cpu0[1]) / tick
        ops = " ".join(f"{k}={v:.3f}" for k, v in lat.items())
        print(f"\npass {label}: {wall:.3f} s (cpu {busy:.2f} s, steal {steal:.2f} s) "
              f"{ops}", file=sys.stderr, flush=True)
        return {"label": label, "wall": wall, "lat": lat}

    def _census(self, op, op_id, w0, w1) -> dict:
        c = ledger.census(self.spark, op_id, w0, w1)
        c["tags"] = list(op.tags)
        if op.out_dir is not None:
            files = [f for f in os.listdir(op.out_dir) if f.startswith("part-")]
            c["files_written"] = len(files)
            c["bytes_written"] = sum(
                os.path.getsize(os.path.join(op.out_dir, f)) for f in files)
        return c


def _scan_rate(workload, passes) -> float:
    rates = []
    for p in passes:
        ops = [o for o in workload.ops if o.scan_bytes and o.name in p["lat"]]
        t = sum(p["lat"][o.name] for o in ops)
        if t > 0:
            rates.append(sum(o.scan_bytes for o in ops) / 1e6 / t)
    return statistics.median(rates) if rates else 0.0


def end_to_end(setup_s, first, warm, workload) -> dict:
    samples = [v for p in warm for v in p["lat"].values()]
    # A tail percentile needs at least 10 samples beyond it; a run holds
    # fewer than 20 warm operation samples, so only the median is
    # reported, with its sample count.
    print(f"op_p50_s is the median of {len(samples)} warm operation samples "
          f"over {len(warm)} warm passes", flush=True)
    values = {
        "setup_s": setup_s,
        "first_pass_s": first["wall"],
        "pass_s": statistics.median(p["wall"] for p in warm),
        "op_p50_s": statistics.median(samples),
        "scan_mb_per_s": _scan_rate(workload, warm),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def _sum(census: list[dict], key: str, tag: str | None = None) -> float:
    return float(sum(c.get(key, 0) for c in census
                     if tag is None or tag in c["tags"]))


def per_layer(runner, tracer, traced, untraced, setup_spans, cpus,
              jvm_pid) -> dict:
    import workloads

    ref = sorted(traced, key=lambda p: p["wall"])[(len(traced) - 1) // 2]
    ops = [f"{ref['label']}:{o.name}" for o in runner.wl.ops]
    cen = [runner.census[o] for o in ops if o in runner.census]
    spans = tracer.totals(set(ops))

    def span(name, key="total_s"):
        return float(spans.get(name, {}).get(key, 0.0))

    header_s = span("header.glob") + span("header.parse_header")
    m = {
        "session.get_spark_s": (setup_spans.get("session.get_spark", 0.0), "s"),
        "session.register_s": (setup_spans.get("session.register", 0.0), "s"),
        "header.glob_s": (span("header.glob"), "s"),
        "header.parse_header_s": (span("header.parse_header"), "s"),
        "header.parse_header_calls": (span("header.parse_header", "calls"), "count"),
        "header.files": (span("header.glob", "items"), "count"),
        # read_zeek's own bind + plan time: its self time net of header
        "sources.zeek.read_zeek_s": (
            span("sources.zeek.read_zeek") - header_s
            if spans.get("sources.zeek.read_zeek") else 0.0, "s"),
        "sources.zeek.scan_task_s": (_sum(cen, "scan_run_s", "sources.zeek"), "s"),
        "sources.zeek.scan_cpu_s": (_sum(cen, "scan_cpu_s", "sources.zeek"), "s"),
        "sources.zeek.scan_tasks": (_sum(cen, "scan_tasks", "sources.zeek"), "count"),
        "sources.zeek.input_bytes": (_sum(cen, "input_bytes", "sources.zeek"), "B"),
        "sources.zeek.input_rows": (_sum(cen, "input_rows", "sources.zeek"), "count"),
        "sources.datasource.load_s": (span("sources.datasource.load"), "s"),
        "sources.datasource.arrow_scan_task_s": (
            _sum(cen, "scan_run_s", "sources.datasource.arrow"), "s"),
        "sources.datasource.row_scan_task_s": (
            _sum(cen, "scan_run_s", "sources.datasource.row"), "s"),
        "sources.datasource.python_rows": (
            _sum(cen, "ds_rows", "sources.datasource"), "count"),
        "sources.sink.ingest_s": (span("sources.sink.ingest"), "s"),
        "sources.zeek_writer.write_zeek_s": (
            span("sources.zeek_writer.write_zeek"), "s"),
        "sources.zeek_writer.task_s": (
            _sum(cen, "run_s", "sources.zeek_writer"), "s"),
        "sources.zeek_writer.bytes_written": (
            _sum(cen, "bytes_written", "sources.zeek_writer"), "B"),
        "sources.zeek_writer.files_written": (
            _sum(cen, "files_written", "sources.zeek_writer"), "count"),
        "functions.inet.udf_rows": (_sum(cen, "udf_rows", "functions.inet"), "count"),
        "functions.inet.python_bytes": (
            _sum(cen, "udf_python_bytes", "functions.inet"), "B"),
        # the UDF is evaluated in the stage that scans its input
        "functions.inet.stage_task_s": (
            _sum(cen, "scan_run_s", "functions.inet"), "s"),
    }
    for name, (metric, _tables) in workloads.HEADLINE.items():
        lat = [p["lat"][name] for p in traced if name in p["lat"]]
        m[metric] = (statistics.median(lat) if lat else 0.0, "s")
    for metric, (unit, key) in ENGINE_LAYER.items():
        m[metric] = (_sum(cen, key), unit)
    run_s = _sum(cen, "run_s")
    m["executor.busy_ratio"] = (run_s / (ref["wall"] * cpus), "ratio")
    # the JVM heap grows at the collector's discretion, so its peak RSS
    # swings far more than a bound could hold: a layer number, not an
    # end-to-end one
    m["driver.peak_rss_mb"] = (
        _peak_rss_mb(os.getpid()) + _peak_rss_mb(jvm_pid), "MB")
    t_pass = statistics.median(p["wall"] for p in traced)
    u_pass = statistics.median(p["wall"] for p in untraced)
    m["trace.pass_s"] = (t_pass, "s")
    m["trace.overhead_s"] = (t_pass - u_pass, "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def setup_session(tracer):
    """Import, create the session and register the extensions: the
    set-up a one-shot user pays.  Returns (spark, seconds)."""
    t0 = time.perf_counter()
    import zeek_duckdb_spark
    from zeek_duckdb_spark import session

    if tracer is not None:
        tracer.install()
    spark = session.get_spark("zeek-spark-perfbench")
    zeek_duckdb_spark.register(spark)
    return spark, time.perf_counter() - t0


def main(argv=None) -> int:
    age0 = _proc_age()
    t_main = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--perturb", action="store_true")
    args = ap.parse_args(argv)

    if not (ROOT / "zeek_duckdb_spark" / "__init__.py").is_file() or not (
            ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no zeek_duckdb_spark checkout at {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(1, str(ROOT))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    STATE.mkdir(exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=STATE)
    spark = None
    try:
        cpus = _pin_environment(run_dir)
        os.chdir(run_dir)  # spark-warehouse and friends land here
        tracer = ledger.Tracer() if args.trace else None
        spark, setup_call_s = setup_session(tracer)
        setup_s = age0 + (time.perf_counter() - t_main)
        spark.sparkContext.setLogLevel("ERROR")
        setup_spans = {}
        if tracer is not None:
            setup_spans = {k: v["total_s"]
                           for k, v in tracer.totals({None}).items()}
        parallelism = spark.sparkContext.defaultParallelism
        print(f"session ready in {setup_s:.3f} s (calls {setup_call_s:.3f} s); "
              f"SPARK_GRAFT_CPUS={cpus} defaultParallelism={parallelism} "
              f"master={spark.sparkContext.master}", flush=True)

        wl = workloads.WORKLOADS[args.workload](
            str(STATE / "cache"), run_dir, args.seed, args.scale, args.perturb)
        runner = Runner(spark, wl, tracer)
        if tracer is not None:
            tracer.restore()
        first = runner.one_pass("first", traced=False)
        if args.trace:
            # the pass after the cold one is still warming up; leave it out
            # of both sides of the overhead comparison
            runner.one_pass("warmup", traced=False)
        warm, traced = [], []
        deadline = time.perf_counter() + args.seconds
        i = 0
        # traced runs go in untraced/traced/traced/untraced blocks, so a
        # steady drift in pass time cancels out of the overhead
        while (time.perf_counter() < deadline or len(warm) < wl.min_passes
               or (args.trace and i % 4)):
            if args.trace and i % 4 in (1, 2):
                tracer.install()
                try:
                    traced.append(runner.one_pass(f"p{i}", traced=True))
                finally:
                    tracer.restore()
            else:
                warm.append(runner.one_pass(f"p{i}", traced=False))
            i += 1
        failed = len(runner.failed)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        if args.trace:
            metrics = per_layer(runner, tracer, traced, warm, setup_spans, cpus,
                                jvm_pid)
            with open(STATE / f"trace-{args.workload}-{args.seed}.json", "w") as fh:
                json.dump({"spans": tracer.spans, "census": runner.census,
                           "passes": {"untraced": warm, "traced": traced}},
                          fh, default=str)
        else:
            metrics = end_to_end(setup_s, first, warm, wl)
        result = {"correct": failed == 0, "attempted": runner.attempted,
                  "failed": failed, "metrics": metrics}
    finally:
        if spark is not None:
            stop_session(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
