"""Fast self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

For each workload in BENCHMARK.json it runs ``run.py --scale tiny`` twice:

- untraced with the true answers: every end-to-end metric is printed
  with its unit and no operation fails;
- traced with one expected answer perturbed: every per-layer metric is
  printed with its unit and the wrong answer is counted as failed.

Then it runs the benchmark from a directory holding only BENCHMARK.json
and the benchmark's own files, where it must exit non-zero without
printing a result.  Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(cwd: Path, workload: str, trace: int, perturb: bool) -> tuple[int, str]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny"] + (["--perturb"] if perturb else [])
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, p.stdout


def result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    for wl in (w["name"] for w in spec["workloads"]):
        for trace, perturb, key in ((0, False, "end_to_end"), (1, True, "per_layer")):
            rc, out = run(ROOT, wl, trace, perturb)
            expect(rc == 0, f"{wl} trace={trace}: exit code 0")
            if rc != 0:
                continue
            res = result(out)
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{wl} trace={trace}: result keys")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            expect(got == want, f"{wl} trace={trace}: every {key} metric "
                   f"printed with its unit")
            if perturb:
                expect(res["failed"] > 0 and not res["correct"],
                       f"{wl}: a perturbed answer counts as failed "
                       f"({res['failed']}/{res['attempted']})")
            else:
                expect(res["failed"] == 0 and res["correct"],
                       f"{wl}: every answer right "
                       f"({res['failed']}/{res['attempted']})")

    (ROOT / ".perfbench").mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=ROOT / ".perfbench") as bare:
        bare = Path(bare)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for p in spec["paths"]:
            shutil.copytree(ROOT / p, bare / p,
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, out = run(bare, spec["workloads"][0]["name"], 0, False)
        expect(rc != 0 and not out.strip(),
               "without the program: non-zero exit, no result")

    print("selftest:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
