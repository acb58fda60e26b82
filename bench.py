#!/usr/bin/env python
"""Benchmark headline queries; prints ONE JSON line.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     SPARK_GRAFT_BENCH_ITERS (default 5),
     SPARK_GRAFT_BENCH_PAIRED (default 1; 0 disables the baseline arm).

Each query is forced through a noop sink so the full plan materializes
(a bare count() would let Catalyst prune aggregate columns).

Noise control, in layers:

- one untimed warm-up pass over all queries per arm (JIT, codegen
  compile, parquet footers, page cache), then ITERS timed runs per
  query; the reported per-query number is the MEDIAN with min..max in
  a side channel (single runs swing +-2.5x on this VM);

- PAIRED-ARM protocol (the round-11 instrument fix): a pinned
  prior-round snapshot (BASELINE_COMMIT, materialized as a git
  worktree under /tmp) runs in its own persistent JVM, and every
  iteration cycle times each query in BOTH arms back-to-back with the
  arm order alternating per cycle (same-JVM-pair A/B has ~+-5%
  position bias; alternation cancels it).  The per-query
  ``paired.queries_ratio`` is the median over cycles of
  head/baseline — VM state hits both arms of a pair within seconds of
  each other, so a ratio far from 1.0 is CODE, not machine.
  Cross-round comparisons should read the paired block; the raw
  totals still swing with VM state (rounds 6-10 proved repeatedly
  that cross-round raw deltas up to ~1.5x are machine);

- calibration probes, now three-axis: pure-ALU codegen (CALIB), a
  parquet scan+agg (CALIBSCAN), and the round-11 stage-shaped probe
  (CALIBSTAGE: 64 ~10 ms tasks + a shuffle) that senses the
  scheduler/SMT contention mode BENCH_r10 exposed — the long-task ALU
  probe read the machine as FAST (drift 0.80) while every multi-task
  stage ran ~23% slow, so the old normalization amplified that noise.
  ``value_normalized`` keeps the historical two-probe definition for
  continuity; ``contention_ratio`` (stage probe vs its idle constant)
  is the diagnostic that explains raw-total movement the other probes
  miss.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))

# The pinned paired-arm baseline: the round-16 snapshot (r16 HEAD plus
# that round's verdict files), so the round-17 paired ratio reads THIS
# round's code changes against the last graded round.  Advance this
# once per round; keep it at the prior round's snapshot commit so
# cross-round deltas stay falsifiable.  (r11 used r10 HEAD 72fe19b —
# the round whose BENCH raw total moved +23% on untouched queries
# while single-task probes pointed the wrong way; r12-r14 used the
# r11 snapshot 3997e9bc; r15 used the r14 snapshot b38c1873; r16 used
# the r15 snapshot eb7dc5f3.)
BASELINE_COMMIT = "408e2f6a36eef630a131e6a85fa440a774b7a6ba"

# Historical IDLE-machine probe medians (recorded 2026-08-14, SCALING.md
# machine-drift note: the observed idle end of the cpu 0.28-0.48 s /
# scan 0.22-0.45 s ranges).  value_normalized = value / geomean(probe /
# idle) — an estimate of what THIS run's total would read on the idle
# machine.  These constants change only if the probe definitions change.
CALIBRATION_IDLE_SEC = 0.28
CALIBRATION_SCAN_IDLE_SEC = 0.25
# Stage-shaped probe idle constant (recorded 2026-08-15 on a machine
# whose CALIB/CALIBSCAN read near their idle constants; provisional in
# the same sense as the two above).
CALIBRATION_STAGE_IDLE_SEC = 0.35

HEADLINE = [
    "q01_pricing_summary",
    "q03_top_orders",
    "q05_nation_revenue",
    "q09_group_big",
    "q12_window_running",
    "dd_exact_groups",
    "dd_minhash_lsh",
    "sim_topk",
    "tx_quality",
    "q29_sessionize",
]


def drift_ratio(calib_med: float, calib_scan_med: float, sf: float) -> float:
    """Machine-drift estimate from the two HISTORICAL calibration
    probes (kept definition-stable so value_normalized stays
    comparable across rounds).  The SCAN probe reads sf_dir's own
    lineitem, so its idle constant is only valid at the tier it was
    recorded on (sf0.1); elsewhere fall back to the CPU probe.  Known
    blind spot (BENCH_r10): neither probe senses scheduler/SMT
    contention that only short-task multi-stage work pays — that is
    what contention_ratio and the paired block are for."""
    if abs(sf - 0.1) < 1e-9:
        return (
            (calib_med / CALIBRATION_IDLE_SEC)
            * (calib_scan_med / CALIBRATION_SCAN_IDLE_SEC)
        ) ** 0.5
    return calib_med / CALIBRATION_IDLE_SEC


class Arm:
    """One persistent bench_runner.py child over one checkout."""

    def __init__(self, name: str, arm_dir: str, sf_dir: str):
        env = dict(os.environ)
        env["SPARK_GRAFT_ARM_DIR"] = arm_dir
        env["SPARK_GRAFT_SF_DIR"] = sf_dir
        self.name = name
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(REPO, "bench_runner.py")],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            cwd=arm_dir,
            env=env,
            text=True,
            bufsize=1,
        )
        self._await("READY")

    def _await(self, expected: str) -> str:
        """Read until an exact protocol token arrives: ``expected``
        ("READY" as a whole line, or the "TIME " prefix) or the
        child's "ERR " reply.  Anything else on stdout — a library's
        'ERROR ...' log line, a stray println — is skipped, not
        treated as protocol (exact-token match, never a loose
        startswith that 'ERROR' would satisfy)."""
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(
                    f"bench arm {self.name}: child exited "
                    f"(rc={self.proc.poll()})"
                )
            line = line.strip()
            if line.startswith("ERR "):
                raise RuntimeError(f"bench arm {self.name}: {line}")
            if line == expected or line.startswith(expected + " "):
                return line

    def cmd(self, command: str) -> float:
        self.proc.stdin.write(command + "\n")
        self.proc.stdin.flush()
        t = float(self._await("TIME").split()[1])
        if command.startswith("RUN "):
            # r17 scaling contract: RUN is followed by a STATS line
            # (job/stage/task counts, gathered after the clock stopped)
            try:
                self.last_stats = json.loads(
                    self._await("STATS").split(" ", 1)[1]
                )
            except Exception:
                self.last_stats = {}
        return t

    def info(self) -> dict:
        """Session parallelism report (r17): proves the env core count
        reaches the engine and names the effective shuffle width."""
        self.proc.stdin.write("INFO\n")
        self.proc.stdin.flush()
        try:
            return json.loads(self._await("INFO").split(" ", 1)[1])
        except Exception:
            return {}

    def close(self) -> None:
        try:
            self.proc.stdin.write("QUIT\n")
            self.proc.stdin.flush()
            self.proc.wait(timeout=60)
        except Exception:
            self.proc.kill()


def ensure_baseline_worktree() -> str | None:
    """Materialize BASELINE_COMMIT as a detached git worktree OUTSIDE
    the repo (so repo-walking tools never see a second copy of the
    source).  Returns its path, or None when unavailable (no git, no
    commit) — the bench then runs single-arm."""
    dst = f"/tmp/zeek-spark-bench-base-{BASELINE_COMMIT[:7]}"
    try:
        if os.path.isdir(dst):
            head = subprocess.run(
                ["git", "-C", dst, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=60,
            )
            if head.returncode == 0 and head.stdout.strip() == BASELINE_COMMIT:
                return dst
            subprocess.run(
                ["git", "-C", REPO, "worktree", "remove", "--force", dst],
                capture_output=True, timeout=60,
            )
            if os.path.isdir(dst):  # stale non-worktree leftover
                import shutil

                shutil.rmtree(dst, ignore_errors=True)
        subprocess.run(
            ["git", "-C", REPO, "worktree", "prune"],
            capture_output=True, timeout=60,
        )
        add = subprocess.run(
            ["git", "-C", REPO, "worktree", "add", "--detach", dst,
             BASELINE_COMMIT],
            capture_output=True, text=True, timeout=120,
        )
        return dst if add.returncode == 0 else None
    except Exception:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "5"))
    want_paired = os.environ.get("SPARK_GRAFT_BENCH_PAIRED", "1") != "0"

    from zeek_duckdb_spark.session import DEFAULT_CPUS

    base_dir = ensure_baseline_worktree() if want_paired else None
    head = Arm("head", REPO, sf_dir)
    base = Arm("baseline", base_dir, sf_dir) if base_dir else None
    sess_info = head.info()

    # untimed warm-up pass per arm (alternating so cache state is fair)
    for name in HEADLINE:
        head.cmd(f"RUN {name}")
        if base:
            base.cmd(f"RUN {name}")

    head.cmd("CALIB")  # warm the probe plans too
    calib = [head.cmd("CALIB") for _ in range(3)]
    head.cmd("CALIBSCAN")
    calib_scan = [head.cmd("CALIBSCAN") for _ in range(3)]
    head.cmd("CALIBSTAGE")
    calib_stage = [head.cmd("CALIBSTAGE") for _ in range(3)]

    h_samples: dict[str, list[float]] = {n: [] for n in HEADLINE}
    b_samples: dict[str, list[float]] = {n: [] for n in HEADLINE}
    h_stats: dict[str, dict] = {}
    for cycle in range(iters):
        for name in HEADLINE:
            arms = [head] if base is None else (
                [head, base] if cycle % 2 == 0 else [base, head]
            )
            for arm in arms:
                t = arm.cmd(f"RUN {name}")
                (h_samples if arm is head else b_samples)[name].append(t)
                if arm is head and getattr(arm, "last_stats", None):
                    # keep the census of the run with the most tasks
                    # (AQE can vary stage counts run to run): one
                    # real run's jobs/stages/tasks, not a per-key max
                    # stitched together from different runs
                    prev = h_stats.get(name)
                    tasks = int(arm.last_stats.get("tasks", 0))
                    if prev is None or tasks > prev.get("tasks", 0):
                        h_stats[name] = {
                            k: int(v) for k, v in arm.last_stats.items()
                        }

    timings = {n: round(statistics.median(s), 4) for n, s in h_samples.items()}
    spread = {n: [round(min(s), 4), round(max(s), 4)] for n, s in h_samples.items()}
    total = round(sum(timings.values()), 4)
    calib_med = statistics.median(calib)
    calib_scan_med = statistics.median(calib_scan)
    calib_stage_med = statistics.median(calib_stage)
    drift = drift_ratio(calib_med, calib_scan_med, sf)

    paired = None
    if base is not None:
        per_q = {}
        for n in HEADLINE:
            ratios = sorted(
                h / b for h, b in zip(h_samples[n], b_samples[n]) if b > 0
            )
            per_q[n] = round(statistics.median(ratios), 3)
        b_medians = {
            n: round(statistics.median(s), 4) for n, s in b_samples.items()
        }
        b_total = round(sum(b_medians.values()), 4)
        paired = {
            "baseline_commit": BASELINE_COMMIT[:12],
            "total_baseline": b_total,
            "ratio": round(total / b_total, 4) if b_total else None,
            "queries_ratio": per_q,
            "protocol": "same-cycle interleave, arm order alternated per cycle",
        }

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "value_normalized": round(total / drift, 4),
                "machine_drift_ratio": round(drift, 4),
                "contention_ratio": round(
                    calib_stage_med / CALIBRATION_STAGE_IDLE_SEC, 4
                ),
                "unit": "sec",
                "queries": timings,
                "spread": spread,
                "parallelism": {
                    # r17 scaling-legibility contract (VERDICT r16 #2):
                    # default_parallelism proves SPARK_GRAFT_CPUS
                    # reached the engine; per-query task censuses show
                    # whether a query CAN express core scaling at this
                    # sf (max_stage_tasks at the low-core count means
                    # the ratio is a scheduling-floor read, not an
                    # ignored env var)
                    "cpus_env": int(
                        os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS)
                    ),
                    **sess_info,
                    "per_query": h_stats,
                },
                "paired": paired,
                "iters": iters,
                "calibration_sec": round(calib_med, 4),
                "calibration_scan_sec": round(calib_scan_med, 4),
                "calibration_stage_sec": round(calib_stage_med, 4),
                "sf": sf,
            }
        )
    )
    head.close()
    if base:
        base.close()


if __name__ == "__main__":
    sys.exit(main())
