"""Readers for what a run consumed: /proc for the process tree, Spark's own
status stores for stages and SQL plan nodes.

psutil is not available, so CPU and memory come straight from /proc.  The
process tree is this Python driver plus the Spark JVM and every process
below it (the PySpark daemon and its Python workers).
"""

from __future__ import annotations

import os
import re
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


# --- /proc -------------------------------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after it start at index 2 (state)
    return data[data.rindex(")") + 2:].split()


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat_fields(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of this process plus the JVM tree.  cutime/cstime count
    children already reaped, so Python workers that exited are included."""
    total = 0
    for pid in [os.getpid()] + tree_pids(jvm_pid):
        st = _stat_fields(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    # this process's cutime would count the JVM again once it is reaped;
    # it is not reaped while we measure, so no correction is needed
    return total / CLK_TCK


def tree_hwm_mib(jvm_pid: int) -> float:
    """Sum of VmHWM over this process and the JVM tree, in MiB."""
    total_kb = 0
    for pid in [os.getpid()] + tree_pids(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


# --- Spark status stores -----------------------------------------------------

_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0, "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20,
          "GiB": 2.0 ** 30, "TiB": 2.0 ** 40}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it: "1,234", "26 ms",
    "16.4 KiB", or "total (min, med, max ...)\\n<total> (...)".  Returns
    counts as-is, times in seconds and sizes in bytes."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def last_stage_id(sc) -> int:
    drain_listener_bus(sc)
    stages = _stage_list(sc, False)
    return max((stages.apply(i).stageId() for i in range(stages.size())),
               default=-1)


def _stage_list(sc, with_summaries: bool):
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    return sc._jsc.sc().statusStore().stageList(
        None, False, with_summaries, quantiles, None)


def drain_listener_bus(sc) -> None:
    """Wait until Spark's listener bus has delivered every queued event, so
    that the status stores hold the final figures of finished jobs."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def stage_totals(sc, after_stage: int) -> dict[str, float]:
    """Totals over the stages with id > ``after_stage``: counts, executor
    time, GC, shuffle, spill, and skew (max minus median task run time,
    summed over stages)."""
    drain_listener_bus(sc)
    tot = dict.fromkeys(("stages", "tasks", "executor_run_s",
                         "executor_cpu_s", "gc_s", "shuffle_write_mb",
                         "shuffle_read_mb", "spill_mb", "stage_skew_s"), 0.0)
    stages = _stage_list(sc, True)
    mib = 2.0 ** 20
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() <= after_stage:
            continue
        tot["stages"] += 1
        tot["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        tot["executor_run_s"] += s.executorRunTime() / 1e3
        tot["executor_cpu_s"] += s.executorCpuTime() / 1e9
        tot["gc_s"] += s.jvmGcTime() / 1e3
        tot["shuffle_write_mb"] += s.shuffleWriteBytes() / mib
        tot["shuffle_read_mb"] += s.shuffleReadBytes() / mib
        tot["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / mib
        dist = s.taskMetricsDistributions()
        if dist.isDefined():
            run = dist.get().executorRunTime()
            tot["stage_skew_s"] += (run.apply(1) - run.apply(0)) / 1e3
    return tot


def sql_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def last_execution_id(spark) -> int:
    drain_listener_bus(spark.sparkContext)
    ex = sql_store(spark).executionsList()
    return max((ex.apply(i).executionId() for i in range(ex.size())),
               default=-1)


_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
                 "FlatMapCoGroupsInPandas", "AggregateInPandas",
                 "ArrowWindowPython", "WindowInPandas", "FlatMapGroupsInArrow")


def _finished_executions(spark, after_execution: int,
                         timeout_s: float = 20.0) -> list[int]:
    """Ids of the executions after ``after_execution``, once the SQL store
    holds their final metric values.  Those are aggregated off the listener
    thread after the execution-end event, so drain the bus, then poll."""
    drain_listener_bus(spark.sparkContext)
    store = sql_store(spark)
    deadline = time.monotonic() + timeout_s
    while True:
        ex = store.executionsList()
        ids = [ex.apply(i).executionId() for i in range(ex.size())]
        ids = [e for e in ids if e > after_execution]
        if (all(store.execution(e).get().metricValues() is not None
                for e in ids) or time.monotonic() > deadline):
            return ids
        time.sleep(0.05)


def plan_totals(spark, after_execution: int) -> dict[str, float]:
    """Per-node SQL metrics over the executions with id > ``after_execution``:
    the largest "number of output rows" of any node, Python worker run time
    and start-plus-initialise time, and node counts by kind."""
    tot = dict.fromkeys(("peak_rows", "python_run_s", "python_start_s",
                         "exchanges", "windows", "python_nodes"), 0.0)
    store = sql_store(spark)
    for eid in _finished_executions(spark, after_execution):
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            name = node.name()
            tot["exchanges"] += "Exchange" in name and "Reused" not in name
            tot["windows"] += name == "Window"
            tot["python_nodes"] += name.startswith(_PYTHON_NODES)
            metrics = node.metrics()
            for k in range(metrics.size()):
                metric = metrics.apply(k)
                value = values.get(metric.accumulatorId())
                if not value.isDefined():
                    continue
                label = metric.name()
                if label == "number of output rows":
                    tot["peak_rows"] = max(tot["peak_rows"],
                                           parse_metric(value.get()))
                elif label == "time to run Python workers":
                    tot["python_run_s"] += parse_metric(value.get())
                elif label in ("time to start Python workers",
                               "time to initialize Python workers"):
                    tot["python_start_s"] += parse_metric(value.get())
    return tot
