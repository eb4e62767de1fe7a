"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced at 5% of the input
sizes, plus one spatial_join run whose join output has one page's rows
dropped, and checks that:

- each normal run exits 0, ends with a result line carrying exactly the
  metrics BENCHMARK.json names, and reports no failed job;
- the perturbed run reports failed jobs (error rate > 0);
- the runner exits non-zero without a result line in a directory holding
  only BENCHMARK.json and the benchmark's own files.

Prints one line per check and exits 1 if any check fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.05"
SECONDS = "2"


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if p.returncode:
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = {0: {m["name"] for m in bench["end_to_end"]}, 1: {m["name"] for m in bench["per_layer"]}}
    failures = 0

    def report(ok: bool, what: str) -> None:
        nonlocal failures
        failures += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)

    for w in (wl["name"] for wl in bench["workloads"]):
        for trace in (0, 1):
            code, res = run(["--workload", w, "--seed", "1", "--seconds", SECONDS, "--trace", str(trace), "--scale", SCALE])
            good = (
                code == 0
                and res is not None
                and set(res) == {"correct", "attempted", "failed", "metrics"}
                and set(res["metrics"]) == names[trace]
                and res["correct"]
                and res["failed"] == 0
                and res["attempted"] >= 1
            )
            report(good, f"{w} trace={trace}: exit {code}, result {res and {k: res[k] for k in ('correct', 'attempted', 'failed')}}")

    code, res = run(["--workload", "spatial_join", "--seed", "1", "--seconds", SECONDS, "--scale", SCALE, "--perturb"])
    caught = code == 0 and res is not None and res["failed"] > 0 and not res["correct"]
    report(caught, f"perturbed spatial_join output caught: {res and {k: res[k] for k in ('correct', 'attempted', 'failed')}}")

    bare = os.path.join(ROOT, ".perfbench_scratch", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, res = run(["--workload", "spatial_join", "--seed", "1", "--seconds", SECONDS, "--trace", "0"], cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    report(code != 0 and res is None, f"bare directory: exit {code}, no result line")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
