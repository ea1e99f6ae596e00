"""Multi-sink routing / fan-out (SURVEY.md §2.5 + config if/else chains).

The reference fans events out by attaching per-output routing predicates
(base_output.js:19-23) compiled from config if/else chains, where an `else`
branch means "all earlier conditions false" (config_mapper.js:32-58).  Here a
chain compiles to ONE routing column via a mutually-exclusive ``F.when``
cascade — evaluated once per row.  Sinks are values of that one column, not
separate filtered plans: ``fan_out_write`` writes them all in one job (one
scan of the source however many sinks there are).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ROUTE_COL = "_route"
DEFAULT_SINK = "_default"


def route(df: DataFrame, branches: Sequence[tuple[str, Column]],
          *, default: str = DEFAULT_SINK, target: str = ROUTE_COL) -> DataFrame:
    """Attach the routing column.  ``branches`` = ordered (sink_name, cond);
    first match wins, like the reference's if/else-if/else chain — later
    branches implicitly conjoin the negations of earlier ones
    (config_mapper.js:32-58).  Every row lands in exactly one sink."""
    expr = None
    for name, cond in branches:
        cond = F.coalesce(cond, F.lit(False))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(default) if expr is None else expr.otherwise(default)
    return df.withColumn(target, expr)


def sink_counts(df: DataFrame, *, target: str = ROUTE_COL) -> DataFrame:
    """Per-sink row counts — the routed-row equality check the baseline
    demands (BASELINE.md 'per-sink routed-row equality')."""
    return df.groupBy(F.col(target).alias("sink")).agg(F.count("*").alias("rows"))


def fan_out_write(df: DataFrame, base_path: str, *,
                  target: str = ROUTE_COL, fmt: str = "parquet",
                  partition_cols: Sequence[str] = (),
                  mode: str = "overwrite") -> list[str]:
    """Write each routed branch once, all in one job over one scan.

    Uses ONE dynamic-partitioned write on the route column (the Spark-native
    version of the reference's interpolated output paths,
    output_file.js:154-175): a single job, one scan, per-sink directories
    ``{base_path}/{target}=<sink>/``.  Returns the sink names written,
    derived from the written partition directories — NOT from a pre-write
    ``distinct().collect()``, which would cost a second full scan of the
    routed data before the real job.

    Sink names are URL-unescaped back to the original route values (Spark
    partition dirs escape e.g. spaces as %20), and null routes
    (``__HIVE_DEFAULT_PARTITION__``) are skipped — `route()` always fills a
    default, so a null route never occurs on our paths.  NOTE: with
    ``mode='append'`` the return value covers ALL sink directories present
    under ``base_path`` after the write (this call's plus earlier appends) —
    directory listing cannot attribute dirs to jobs; pass a fresh base_path
    per job if you need exactly-this-write's sinks.
    """
    from urllib.parse import unquote

    (df.write.mode(mode)
       .partitionBy(target, *partition_cols)
       .format(fmt)
       .save(base_path))
    spark = df.sparkSession
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(base_path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    sinks = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(f"{target}="):
            raw = name.split("=", 1)[1]
            if raw == "__HIVE_DEFAULT_PARTITION__":
                continue
            sinks.append(unquote(raw))
    return sorted(sinks)


def bypass_union(original: DataFrame, aggregated: DataFrame) -> DataFrame:
    """cacheloop `bypass`: pass originals through alongside the aggregate
    stream (filter_cacheloop.js:105-114) — union with null-padded schemas."""
    return original.unionByName(aggregated, allowMissingColumns=True)


def replicate(df: DataFrame, n: int) -> list[DataFrame]:
    """multi-host replication (output_http_post.js:33-37): N logical copies
    of one cached plan — callers cache() df first so the scan happens once."""
    return [df for _ in range(n)]
