"""SparkSession factory with scale-oriented defaults.

The reference is a single-process event loop with no notion of partitioning
(/root/reference/lib/agent.js:14-24).  Here the session carries the explicit
scale policy the north rule demands: AQE (runtime coalescing + skew-join
splitting), Arrow for every pandas-UDF exchange, and shuffle-partition counts
sized to the local core count but overridable for a real cluster.
"""

from __future__ import annotations

import os
from typing import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# Tuned for the local[{8,32}] sandbox; on a real cluster these are overridden
# via spark-submit --conf.  Kept low-surprise: everything here is also the
# right default for a 1000-executor job except shuffle.partitions, which
# AQE coalesces downward from a deliberately generous initial value.
_DEFAULT_CONF = {
    # AQE: runtime partition coalescing, skew-join splitting, join demotion.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for pandas UDFs / toPandas — the vectorized exchange the
    # north rule requires instead of per-row Python.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast small dims aggressively (lookup tables are tiny).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Don't let tiny local test files create thousands of tasks.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "pastash_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's scale policy applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else all cores).
    ``shuffle_partitions`` defaults to 2x the local parallelism — AQE
    coalesces down, so erring high is safe and survives a 100x scale-up.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        par = os.cpu_count() or 8
        if master.startswith("local[") and master[6:-1].isdigit():
            par = int(master[6:-1])
        shuffle_partitions = max(8, 2 * par)

    # Make the package importable by executor Python workers regardless of
    # the caller's cwd: local-mode workers inherit the driver environment,
    # so extend PYTHONPATH before the JVM starts.  (On a real cluster the
    # same is achieved with spark-submit --py-files of the packaged zip.)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf["spark.default.parallelism"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: Sequence[Sequence],
                schema: "T.StructType | str") -> DataFrame:
    """A literal table (lookup dim, range list, lineage rows) planned as
    ``LocalTableScan`` with ``schema``'s nullability, empty or not.
    ``createDataFrame(list)`` plans a Python-RDD scan instead, which starts
    Python workers in every query that reads it."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                 schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
