"""Self-test of the benchmark at a tiny scale.

    python3 perfbench/selftest.py

Runs each workload with ``--trace 0`` and ``--trace 1`` and asserts that
the last line is the result object, that every metric BENCHMARK.json
names for that mode is emitted with its unit, and that the checks pass.
Then injects a fault (one corrupted mart row after the batch build) and
asserts that the run reports failures and exits nonzero. Exits 1 on the
first broken expectation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, trace: int, *extra: str) -> tuple[int, dict]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), *extra]
    if workload == "warehouse":
        cmd += ["--accounts", "20"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"{cmd}: no output (exit {p.returncode})\n{p.stderr[-3000:]}")
    return p.returncode, json.loads(lines[-1])


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expected = {0: bench["end_to_end"], 1: bench["per_layer"]}
    for w in (x["name"] for x in bench["workloads"]):
        for trace, metrics in expected.items():
            rc, res = run(w, trace)
            tag = f"{w} --trace {trace}"
            check(rc == 0 and res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{tag}: exit 0, all {res['attempted']} checks pass")
            got = res["metrics"]
            check(set(got) == {m["name"] for m in metrics}, f"{tag}: emits exactly the named metrics")
            check(all(got[m["name"]]["unit"] == m["unit"] for m in metrics), f"{tag}: each with its unit")
            check(all(isinstance(v["value"], (int, float)) for v in got.values()), f"{tag}: numeric values")
    rc, res = run("warehouse", 0, "--inject-fault", "mart_row")
    check(rc != 0 and res["failed"] > 0 and not res["correct"],
          f"injected mart fault: exit {rc}, error rate {res['failed']}/{res['attempted']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
