"""Extra benchmark harness for optimization work (bench.py is FROZEN for
measurement; this file exists so the round's iteration loop never touches it).

Runs ONLY the headline-query phase with bench.py's exact methodology
(warm run + fixed best-of-2 timed runs, each a fresh plan, forced end-to-end
through the noop sink), optionally restricted to named queries, and can dump
`.explain("formatted")` per query.

Usage:
  python bench_extra.py [query ...]            # time queries (all if none)
  python bench_extra.py --explain DIR [query ...]   # dump plans, no timing

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1, the largest scale
the test data ships), SPARK_GRAFT_CPUS (default: all cores).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

# HEADLINE is imported from bench.py (frozen), so the two lists never differ
from bench import HEADLINE, _noop_force, _steal_probe  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    explain_dir = None
    if args and args[0] == "--explain":
        explain_dir = args[1]
        args = args[2:]
    only = [a for a in args if not a.startswith("-")]
    names = only if only else [n for n in HEADLINE]

    import __spark_entry__ as entrymod
    from pastash_spark.session import get_spark
    qs = entrymod.queries()
    spark = get_spark("bench-extra", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")

    if explain_dir:
        os.makedirs(explain_dir, exist_ok=True)
        for name in names:
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(explain_dir, f"{name}.txt"), "w") as f:
                f.write(plan)
            print(f"# wrote {explain_dir}/{name}.txt", file=sys.stderr)
        spark.stop()
        return

    timings: dict[str, float] = {}
    probe0 = _steal_probe()
    for name in names:
        if name not in qs:
            continue
        print(f"# bench_extra: query {name} ...", file=sys.stderr)
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        _noop_force(qs[name](spark, SF_DIR))  # warm
        walls = []
        for _ in range(2):
            t0 = time.time()
            _noop_force(qs[name](spark, SF_DIR))
            walls.append(time.time() - t0)
        timings[name] = round(min(walls), 3)
        print(f"#   {name}: {timings[name]}s (runs: "
              f"{[round(w, 3) for w in walls]})", file=sys.stderr)
    probe1 = _steal_probe()
    total = round(sum(t for t in timings.values() if t > 0), 3)
    print(json.dumps({"metric": "bench_extra_queries", "value": total,
                      "unit": "sec", "queries": timings, "sf_dir": SF_DIR,
                      "steal_probe": [probe0, probe1]}))
    spark.stop()


if __name__ == "__main__":
    main()
