"""Fast self-test of the benchmark itself (tiny inputs, one timed pass, no
warm-up passes).

    python3 perfbench/selftest.py

Run from the root of the source tree.  For each workload it makes one
traced run and one untraced run whose expected results are deliberately
wrong, each in its own process, and checks that:

* the untraced run prints every end-to-end metric with its unit and counts
  the wrong expectation as failed;
* the traced run prints every per-layer metric with its unit, fails nothing,
  and writes its spans.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# token rows, and rows kept of each permuted sf0.01 table
TINY = dict(flagship_rows=2_000, sink_rows=500, events=1_000, documents=100,
            embeddings=100)
SEED = 7


def _one(workload: str, trace: bool, corrupt: bool) -> dict:
    """Run one measurement in this process and return its result."""
    import run
    from inputs import Sizes
    root = os.getcwd()
    sys.path.insert(0, root)
    run.WARM_PASSES = 0
    run.MIN_TIMED = dict.fromkeys(run.MIN_TIMED, 1)
    result, _ = run.measure(root, workload, SEED, 0.0, trace, Sizes(**TINY),
                            corrupt_expected=corrupt)
    return result


def _spawn(workload: str, trace: bool, corrupt: bool) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--one", workload,
         str(int(trace)), str(int(corrupt))],
        check=True, stdout=subprocess.PIPE, text=True, timeout=600)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    import run
    from workloads import WORKLOADS
    problems = []
    for workload in sorted(WORKLOADS):
        wrong = _spawn(workload, trace=False, corrupt=True)
        want = dict(run.END_TO_END)
        got = {k: v["unit"] for k, v in wrong["metrics"].items()}
        if got != want:
            problems.append(f"{workload}: end-to-end metrics {got} != {want}")
        if wrong["failed"] < 1 or wrong["correct"]:
            problems.append(f"{workload}: a wrong expected result was not "
                            f"counted as failed: {wrong}")

        traced = _spawn(workload, trace=True, corrupt=False)
        want = run.layer_units()
        got = {k: v["unit"] for k, v in traced["metrics"].items()}
        if got != want:
            problems.append(f"{workload}: per-layer names differ: "
                            f"{sorted(set(got) ^ set(want))}")
        if traced["failed"] or not traced["correct"]:
            problems.append(f"{workload}: traced run failed: {traced}")
        spans = os.path.join(os.getcwd(), run.CACHE_DIR, "traces",
                             f"{workload}-seed{SEED}.json")
        with open(spans) as f:
            if not all({"name", "start", "end", "parent", "pass"} <= set(s)
                       for s in json.load(f)):
                problems.append(f"{workload}: spans lack fields")
        print(f"{workload}: checked", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--one"]:
        print(json.dumps(_one(sys.argv[2], sys.argv[3] == "1",
                              sys.argv[4] == "1")))
        sys.exit(0)
    sys.exit(main())
