"""Benchmark of the pastash_spark engine: one workload per run, one process.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Run from the root of a source tree (the directory holding ``pastash_spark``);
that tree is what gets measured.  Inputs and expected results are generated
from the seed into ``.perfbench_cache/`` on first use.  A run starts Spark on
``local[4]``, makes one cold pass that also checks every output against the
expected results (after its clock stops), ``WARM_PASSES`` untimed passes
while the JIT settles, then timed passes for ``--seconds`` (at least the
workload's ``MIN_TIMED``).  With ``--trace 1`` it adds a traced pass and the
per-layer extras, and prints per-layer metrics instead of the end-to-end
ones.

The last line of stdout is the result JSON; the line before it is context
(steal share, load, versions, per-pass times) that is not gated.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import probes

MASTER = "local[4]"
WARM_PASSES = 3
# Fewest timed passes per workload.  Both passes are still getting faster
# for several passes after the warm-up (JIT), and CPU time stolen by the
# host slows every pass it overlaps, for 10-30 s at a time.  Over 8 runs of
# 14 passes each on a shared 4-vCPU VM, the correlate pass needed 3 warm-up and 7 timed passes
# for medians whose spread between runs stays near 0.1 of them (3 timed
# passes: 0.39 of the wall median).  The flagship pass is longer and
# steadier.
MIN_TIMED = {"flagship": 3, "correlate": 7}
MAX_TIMED = 20
CACHE_DIR = ".perfbench_cache"

# Gated end-to-end metrics.  The warm pass wall time (pass_s), throughput
# (tok_per_s) and peak RSS (peak_rss_mb) go to the context line only: a
# correlate run that falls in a spell of 12-15% host steal reads 1.5x
# slower for its whole length, which spread the median warm pass time
# 0.41 over 10 runs; and the JVM heap makes peak RSS bimodal (2.9 or
# 4.3 GiB for the same flagship inputs).  In the same runs (4-vCPU VM),
# CPU seconds per pass and the cold pass (CPU-bound on JIT and worker
# start-up) spread at most 0.19.
END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_cpu_s": "s"}
SHARED_LAYER = ("spark.stages", "spark.tasks", "spark.executor_run_s",
                "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_mb",
                "spark.shuffle_read_mb", "spark.spill_mb", "spark.stage_skew_s",
                "spark.python_run_s", "spark.python_start_s",
                "plan.exchanges", "plan.windows", "plan.python_nodes")
LINEAGE_LAYER = ("lineage.process_s", "lineage.resume_s", "sinks.write_s",
                 "sinks.output_mb", "lineage.buckets_skipped")


def layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    from workloads import FLAGSHIP_STAGES, REGISTRY, TRACED_ONLY
    names = {}
    for q in [q for q, _ in REGISTRY] + TRACED_ONLY:
        names.update({f"{q}.build_s": "s", f"{q}.plan_s": "s",
                      f"{q}.exec_s": "s", f"{q}.rows_out": "count",
                      f"{q}.peak_rows": "count"})
    for stage in FLAGSHIP_STAGES + ("build",):
        names[f"flagship.{stage}_s"] = "s"
    for n in LINEAGE_LAYER:
        names[n] = _unit(n)
    for n in SHARED_LAYER:
        names[n] = _unit(n)
    names["trace.overhead_s"] = "s"
    return names


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    return "MiB" if name.endswith("_mb") else "count"


class Tracer:
    """In-memory spans (name, start, end, parent, pass), written at the end."""

    class Span:
        def __init__(self, tracer, name):
            self.tracer, self.name, self.duration = tracer, name, 0.0

        def __enter__(self):
            t = self.tracer
            self.parent = t.stack[-1].name if t.stack else None
            t.stack.append(self)
            self.start = time.perf_counter() - t.origin
            return self

        def __exit__(self, *exc):
            t = self.tracer
            end = time.perf_counter() - t.origin
            self.duration = end - self.start
            t.stack.pop()
            t.spans.append({"name": self.name, "start": self.start,
                            "end": end, "parent": self.parent,
                            "pass": t.pass_index})
            return False

    def __init__(self):
        self.origin = time.perf_counter()
        self.stack: list[Tracer.Span] = []
        self.spans: list[dict] = []
        self.pass_index = 0

    def span(self, name: str) -> "Tracer.Span":
        return Tracer.Span(self, name)


def _parse_args(argv):
    from workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare(root: str, cache: str, seed: int, kind: str, sizes,
             trace: bool) -> dict:
    """Generate inputs in a child process, so that NumPy/DuckDB memory never
    shows in this process's peak RSS, and return the manifest.  Only the
    oracles of the queries the run checks are computed."""
    from workloads import REGISTRY, TRACED_ONLY
    queries = [q for q, _ in REGISTRY] + (TRACED_ONLY if trace else [])
    cmd = [sys.executable, os.path.join(root, "perfbench", "inputs.py"),
           root, cache, str(seed), kind, json.dumps(sizes.__dict__),
           json.dumps(queries)]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True)
    path, generated = json.loads(out.stdout.strip().splitlines()[-1])
    with open(path) as f:
        manifest = json.load(f)
    manifest["generated_now"] = generated
    return manifest


def _start_spark(scratch: str):
    """``session.get_spark`` on local[4] with every scratch file (shuffle,
    spill, temp files of the JVM and of Python workers) kept in ``scratch``."""
    from pastash_spark.session import get_spark
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    spark = get_spark("perfbench", master=MASTER, extra_conf={
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _scratch_dir(cache: str) -> str:
    """A fresh per-run scratch directory; those of runs no longer alive
    (killed before their own cleanup) are deleted."""
    base = os.path.join(cache, "run")
    os.makedirs(base, exist_ok=True)
    for name in os.listdir(base):
        if not os.path.exists(f"/proc/{name}"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    scratch = os.path.join(base, str(os.getpid()))
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    return scratch


def _stop_spark(spark) -> None:
    """Stop Spark, then wait for the JVM and every process below it (the
    PySpark daemon and its workers exit when the JVM is gone)."""
    sc = spark.sparkContext
    proc = sc._gateway.proc
    pids = probes.tree_pids(proc.pid)
    spark.stop()
    sc._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while (any(os.path.exists(f"/proc/{p}") for p in pids)
           and time.monotonic() < deadline):
        time.sleep(0.1)


def _worker_import_path(spark) -> str:
    def where(_):
        import pastash_spark
        return pastash_spark.__file__
    return spark.sparkContext.parallelize([0], 1).map(where).collect()[0]


def measure(root: str, workload_name: str, seed: int, seconds: float,
            trace: bool, sizes,
            corrupt_expected: bool = False) -> tuple[dict, dict]:
    """One benchmark run; returns the result dict and a context dict."""
    from workloads import WORKLOADS, Outcome
    cache = os.path.join(root, CACHE_DIR)
    prep0 = time.perf_counter()
    workload_cls = WORKLOADS[workload_name]
    manifest = _prepare(root, cache, seed, workload_cls.inputs, sizes,
                        trace)
    prep_s = time.perf_counter() - prep0
    if corrupt_expected:  # self-test: a wrong expectation must count as failed
        expected = {**manifest.get("flagship_ref", {}),
                    **manifest.get("oracles", {})}
        for rows in expected.values():
            rows["rows"] = rows["rows"][1:]

    scratch = _scratch_dir(cache)
    spark = _start_spark(scratch)
    try:
        import pyspark
        workload = workload_cls(spark, manifest, os.path.join(scratch, "work"))
        setup_s = probes.process_age_s() - prep_s
        jvm_pid = spark.sparkContext._gateway.proc.pid
        outcome = Outcome()

        # The cold pass collects and checks every output, after its clock
        # stops; the JIT is still compiling for a few passes after it.
        cold_s = workload.run_pass(outcome, check=True)
        warm = [workload.run_pass(outcome, check=False)
                for _ in range(WARM_PASSES)]
        peak = probes.tree_hwm_mib(jvm_pid)

        walls, cpus = [], []
        steal0, t_end = probes.cpu_ticks(), time.perf_counter() + seconds
        min_timed = MIN_TIMED[workload_name]
        while len(walls) < min_timed or (time.perf_counter() < t_end
                                         and len(walls) < MAX_TIMED):
            cpu0 = probes.tree_cpu_s(jvm_pid)
            walls.append(workload.run_pass(outcome, check=False))
            cpus.append(probes.tree_cpu_s(jvm_pid) - cpu0)
            peak = max(peak, probes.tree_hwm_mib(jvm_pid))
        steal = probes.steal_share(steal0, probes.cpu_ticks())
        pass_s = statistics.median(walls)

        # every end-to-end figure, the gated ones (END_TO_END) and those
        # reported as context only
        metrics = {
            "setup_s": setup_s, "cold_pass_s": cold_s, "pass_s": pass_s,
            "pass_cpu_s": statistics.median(cpus),
            "tok_per_s": workload.input_units / pass_s,
            "peak_rss_mb": peak,
        }
        units, end_to_end, traced_s = END_TO_END, metrics, None
        if trace:
            metrics, traced_s, spans = _traced(spark, workload, outcome,
                                               walls[-1], len(walls) + 1)
            units = layer_units()
            _write_spans(cache, workload_name, seed, spans)
        context = {
            "workload": workload_name, "seed": seed, "trace": int(trace),
            "steal_share": steal, "loadavg": os.getloadavg(),
            "nproc": os.cpu_count(), "master": MASTER,
            "spark": spark.version, "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "commit": _commit(root), "worker_imports": _worker_import_path(spark),
            "prepare_s": prep_s, "inputs_generated": manifest["generated_now"],
            "gen_s": manifest["gen_s"], "oracle_s": manifest["oracle_s"],
            "jvm_tree_processes": len(probes.tree_pids(jvm_pid)),
            "end_to_end": end_to_end, "warm_passes": warm,
            "timed_passes": walls,
            "timed_cpu": cpus,
            "traced_pass_s": traced_s, "errors": outcome.errors,
        }
    finally:
        _stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    result = {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted, "failed": outcome.failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in units.items()},
    }
    return result, context


def _traced(spark, workload, outcome, last_untraced, first_index):
    """A traced pass bracketed by stage and SQL-store snapshots, then the
    workload's traced extras; returns (per-layer metrics, traced pass
    seconds, spans)."""
    sc = spark.sparkContext
    tracer = Tracer()
    tracer.pass_index = first_index
    stage0, exec0 = probes.last_stage_id(sc), probes.last_execution_id(spark)
    t0 = time.perf_counter()
    with tracer.span("pass"):
        layer = outcome.attempt("traced pass", workload.traced_pass,
                                outcome, tracer) or {}
    traced_wall = time.perf_counter() - t0
    stages = probes.stage_totals(sc, stage0)
    plan = probes.plan_totals(spark, exec0)
    # overhead against the untraced passes on either side of the traced one,
    # so that the JIT warming between them cancels out
    after = workload.run_pass(outcome, check=False)
    layer.update({f"spark.{k}": v for k, v in stages.items()})
    for k in ("python_run_s", "python_start_s"):
        layer[f"spark.{k}"] = plan[k]
    for k in ("exchanges", "windows", "python_nodes"):
        layer[f"plan.{k}"] = plan[k]
    layer["trace.overhead_s"] = traced_wall - (last_untraced + after) / 2
    tracer.pass_index = first_index + 2
    layer.update(outcome.attempt("traced extras", workload.traced_extras,
                                 outcome, tracer) or {})
    return layer, traced_wall, tracer.spans


def _write_spans(cache: str, workload: str, seed: int, spans) -> None:
    d = os.path.join(cache, "traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{workload}-seed{seed}.json"), "w") as f:
        json.dump(spans, f)


def _commit(root: str) -> str | None:
    """HEAD of the source tree when it is a git checkout, else None.
    GIT_DIR stops git from searching the directories above the tree."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True, timeout=10,
            env={**os.environ, "GIT_DIR": os.path.join(root, ".git")})
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def main(argv=None) -> int:
    args = _parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pastash_spark", "session.py")):
        print("perfbench: run from the root of a pastash_spark source tree",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from inputs import DEFAULT_SIZES
    result, context = measure(root, args.workload, args.seed, args.seconds,
                              bool(args.trace), DEFAULT_SIZES)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
