"""Self-test of the benchmark on the tiny input size.

    python3 perfbench/selftest.py

Checks, for every workload, that an untraced run prints every end-to-end
metric of BENCHMARK.json and a traced run every per-layer metric, each
with its unit, and that the line before the result carries the
workload's own metric names; that a deliberately wrong expected output
makes the correctness gate fail (ingest and one oracle-checked
workload); and that the command fails without printing a result in a
directory holding only BENCHMARK.json and perfbench/. Takes about ten
minutes; exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402
from workloads import TRACE_DETAIL, WORKLOAD_NAMES  # noqa: E402


def run(args: list[str], cwd: str = REPO) -> tuple[int, list[str]]:
    p = subprocess.run(["python3", "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=300)
    return p.returncode, p.stdout.strip().splitlines()


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def check_metrics(metrics: dict, want: dict[str, str], what: str) -> None:
    bad = sorted(set(metrics) ^ set(want)) + [
        name for name, unit in want.items()
        if name in metrics and not (
            metrics[name]["unit"] == unit
            and isinstance(metrics[name]["value"], (int, float))
            and math.isfinite(metrics[name]["value"]))
    ]
    check(not bad, f"{what}: all {len(want)} metrics, each with its unit {bad or ''}")


def main() -> None:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    tiny = ["--size", "tiny", "--seconds", "1"]

    for wl in WORKLOADS:
        for trace, want in ((0, e2e), (1, layers)):
            what = f"{wl} trace={trace}"
            code, lines = run(["--workload", wl, "--seed", "3", "--trace",
                               str(trace), *tiny])
            check(code == 0 and len(lines) >= 2, f"{what}: exit 0 and a result")
            res, info = json.loads(lines[-1]), json.loads(lines[-2])
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{what}: result keys")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{what}: gate passes ({info['problems']})")
            check_metrics(res["metrics"], want, what)
            own = [n for k, n in WORKLOAD_NAMES[wl].items() if k in ("p50", "rate", "pass")]
            own += TRACE_DETAIL[wl] if trace else []
            check(all("unit" in info["metrics"].get(n, {}) for n in own),
                  f"{what}: {len(own)} workload metrics printed with units")

    for wl in ("ingest", "dashboard"):
        code, lines = run(["--workload", wl, "--seed", "3", "--trace", "0",
                           "--corrupt-expected", *tiny])
        res = json.loads(lines[-1])
        check(code == 0 and not res["correct"] and res["failed"] >= 1,
              f"{wl}: a wrong expected output fails the gate")

    bare = os.path.join(HERE, "_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("_work", "_results", "__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
    try:
        code, lines = run(["--workload", "ingest", "--seed", "1", "--seconds", "1",
                           "--trace", "0"], cwd=bare)
        check(code != 0 and not any(line.startswith('{"correct"') for line in lines),
              "without the package: non-zero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))  # _work, unless a run is live
        except OSError:
            pass
    print("selftest passed")


if __name__ == "__main__":
    main()
