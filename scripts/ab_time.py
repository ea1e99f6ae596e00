"""Interleaved A/B timing of query variants in ONE session (steal-robust:
alternating rounds see the same noise; report min per variant).

Usage: python scripts/ab_time.py <module:factory> [rounds]
  factory() -> dict[label, callable(spark, sf_dir) -> DataFrame]
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default: all
cores).
"""
from __future__ import annotations

import importlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def main() -> None:
    modname, fac = sys.argv[1].split(":")
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    variants = getattr(importlib.import_module(modname), fac)()

    from bench import _noop_force, _steal_probe
    from pastash_spark.session import get_spark
    spark = get_spark("ab-time", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")

    times: dict[str, list[float]] = {k: [] for k in variants}
    for label, fn in variants.items():        # warm each once
        _noop_force(fn(spark, SF_DIR))
    probes = []
    for _ in range(rounds):
        probes.append(_steal_probe())
        for label, fn in variants.items():
            spark.sparkContext.setJobDescription(f"ab:{label}")
            t0 = time.time()
            _noop_force(fn(spark, SF_DIR))
            times[label].append(round(time.time() - t0, 3))
    probes.append(_steal_probe())
    print(json.dumps({
        "min": {k: min(v) for k, v in times.items()},
        "all": times, "probes": probes}))
    spark.stop()


if __name__ == "__main__":
    main()
