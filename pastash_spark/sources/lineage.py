"""Per-partition lineage / metrics checkpoint table -> resumable batch runs.

Replaces the reference's file-position database (``--db_file`` persisting
byte offsets + last-read line, /root/reference/lib/lib/monitor_file.js:289-316,
bin/pastash:210-234) with the table-native equivalent the north rule names:
a lineage table recording which input partitions each run has fully processed
plus their metrics; resuming = anti-join pending work against it.

The work unit is a *partition bucket* — a stable hash range of the
partitioning key (doc_id) — so progress tracking is O(buckets), not O(rows),
and a 100 TB backfill restarts by skipping completed buckets, each of which
was written atomically (write sink for bucket, then commit lineage row).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pastash_spark.session import local_frame
from pastash_spark.sources.readers import read_lines

BUCKET_COL = "_bucket"

LINEAGE_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("bucket", T.IntegerType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("rows", T.LongType(), True),
    T.StructField("tokens", T.LongType(), True),
    T.StructField("wall_sec", T.DoubleType(), True),
    T.StructField("committed_at", T.TimestampType(), True),
])


def with_bucket(df: DataFrame, key: str = "doc_id", n_buckets: int = 64) -> DataFrame:
    """Deterministic bucket assignment: pmod(xxhash64(key), n).  Hash (not
    range) buckets so progress units stay balanced without sampling."""
    return df.withColumn(BUCKET_COL,
                         F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"))


class LineageLog:
    """Append-only lineage table on parquet.

    Commits happen one-file-per-bucket (coalesce(1) append) AFTER the bucket's
    sink write succeeds, so a crash between write and commit re-processes at
    most one bucket — and sink writes are per-bucket directories overwritten
    idempotently, which makes the retry safe (exactly-once per bucket).
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def completed_buckets(self) -> set[int]:
        if not _exists(self.path):
            return set()
        try:
            rows = (self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)
                    .filter(F.col("status") == "done")
                    .select("bucket").distinct().collect())
        except Exception as e:  # first run on object storage: path absent
            if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
                return set()
            raise
        return {r.bucket for r in rows}

    def commit(self, bucket: int, *, run_id: str, rows: int | None = None,
               tokens: int | None = None, wall_sec: float | None = None,
               status: str = "done") -> None:
        self.commit_many([(bucket, rows, tokens, wall_sec)], run_id=run_id,
                         status=status)

    def commit_many(self, entries: list[tuple[int, int | None, int | None,
                                              float | None]],
                    *, run_id: str, status: str = "done") -> None:
        """Commit a batch of buckets in ONE append job — (bucket, rows,
        tokens, wall_sec) tuples.  One file and one Spark job per BATCH
        rather than per bucket: a 100 TB backfill over thousands of buckets
        would otherwise issue thousands of single-row driver jobs and leave
        as many one-row parquet files in the lineage table."""
        if not entries:
            return
        rows = [(run_id, int(b), status, r, t, w, None)
                for b, r, t, w in entries]
        df = (local_frame(self.spark, rows, LINEAGE_SCHEMA)
              .withColumn("committed_at", F.current_timestamp()))
        df.coalesce(1).write.mode("append").parquet(self.path)

    def metrics(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)


def _exists(path: str) -> bool:
    if "://" in path:  # non-local fs: probe inside completed_buckets instead
        return True
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path))


FILE_TAIL_SCHEMA = T.StructType([
    T.StructField("marker", T.StringType(), False),
    T.StructField("rows_read", T.LongType(), False),
    T.StructField("path", T.StringType(), True),
    T.StructField("run_id", T.StringType(), True),
    T.StructField("committed_at", T.TimestampType(), True),
])


class FileTailLog:
    """File-tail resume state — the batch analogue of the reference's
    file-position database (monitor_file.js:289-316 persists byte offsets
    per file so a restarted agent resumes mid-file and survives logrotate).

    Files are identified by CONTENT, not path: ``marker`` = md5 of the
    file's first line.  That is the batch equivalent of inode tracking —
    a logrotate RENAME moves the path but keeps the marker, so already-read
    lines are not re-ingested under the new name; a COPYTRUNCATE (or any
    new generation at the old path) starts a fresh first line, hence a
    fresh marker read from offset 0.  Appends to a known file keep the
    marker and advance ``rows_read``.  (Limitation, documented: two files
    whose first lines are byte-identical share a marker; real log lines
    carry timestamps/sequence numbers, making this vanishingly rare.)
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def state(self) -> DataFrame:
        """Latest rows_read per marker (small: O(#files ever seen))."""
        if not _exists(self.path):
            return local_frame(self.spark, [], FILE_TAIL_SCHEMA) \
                .select("marker", "rows_read")
        return (self.spark.read.schema(FILE_TAIL_SCHEMA).parquet(self.path)
                .groupBy("marker").agg(F.max("rows_read").alias("rows_read")))

    def commit(self, entries: list[tuple[str, int, str]],
               run_id: str | None = None) -> None:
        """entries = [(marker, rows_read_total, path)] — commit AFTER the
        sink write, like run_resumable."""
        if not entries:
            return
        rid = run_id or uuid.uuid4().hex[:12]
        rows = [(m, int(n), p, rid, None) for m, n, p in entries]
        (local_frame(self.spark, rows, FILE_TAIL_SCHEMA)
         .withColumn("committed_at", F.current_timestamp())
         .coalesce(1).write.mode("append").parquet(self.path))


def tail_new_lines(spark: SparkSession, pattern: str,
                   log: FileTailLog) -> tuple[DataFrame, list[tuple[str, int, str]]]:
    """One resumable ingest pass over a file glob: returns (new_lines,
    commit_entries).  ``new_lines`` has (message, path, line_no) for every
    line not yet read under the file's marker; write your sink from it,
    THEN call ``log.commit(commit_entries)`` — crash between the two
    re-reads at most one pass (idempotent sink required, same contract as
    run_resumable).

    Per-file line numbers come from ``readers.read_lines``; they follow
    file offsets because files under maxPartitionBytes (128 MB default —
    any sanely rotated log) map to single ordered splits.
    """
    from pyspark.sql import Window

    lines = read_lines(spark, pattern, with_line_no=True)
    first = Window.partitionBy("path").orderBy("line_no")
    lines = lines.withColumn(
        "marker", F.first(F.md5("message")).over(first))
    # ONE materialized snapshot feeds BOTH the commit totals and the
    # returned `fresh` frame: without it, `fresh` would lazily re-read the
    # files during the caller's sink write, and lines appended between the
    # totals job and that write would be ingested but not committed —
    # silently re-ingested (duplicated) on the next pass, beyond the
    # documented crash-window contract.  localCheckpoint(eager) pins the
    # read once; the glob is this pass's new-log slice, so the snapshot is
    # bounded by the tail size, not history.
    lines = lines.localCheckpoint(eager=True)
    state = F.broadcast(log.state().withColumnRenamed("rows_read", "_done"))
    fresh = (lines.join(state, "marker", "left")
             .filter(F.col("line_no") > F.coalesce(F.col("_done"), F.lit(0)))
             .drop("_done"))
    # commit entries: per marker, the new TOTAL line count (tiny collect:
    # one row per input file)
    totals = (lines.groupBy("marker")
              .agg(F.max("line_no").alias("n"), F.max("path").alias("p"))
              .collect())
    entries = [(r.marker, r.n, r.p) for r in totals]
    return fresh.select("message", "path", "line_no", "marker"), entries


def run_resumable(
    df_bucketed: DataFrame,
    lineage: LineageLog,
    process_and_write,
    *,
    n_buckets: int,
    run_id: str | None = None,
    buckets_per_job: int = 8,
) -> dict:
    """Drive a resumable backfill: pending = all buckets minus lineage-done;
    process `buckets_per_job` buckets per Spark job (one filter + one write),
    commit each batch's lineage afterwards.

    ``process_and_write(df_subset, bucket_list)`` runs the pipeline on the
    subset, writes the sinks idempotently for exactly those buckets, and
    returns a per-bucket dict ``{bucket: (rows, tokens)}`` — the exact
    per-bucket lineage metrics (a bucket it omits commits as 0 rows).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    done = lineage.completed_buckets()
    pending = [b for b in range(n_buckets) if b not in done]
    stats = {"run_id": run_id, "skipped": len(done), "processed": 0,
             "rows": 0, "tokens": 0}
    for lo in range(0, len(pending), buckets_per_job):
        batch = pending[lo:lo + buckets_per_job]
        t0 = time.time()
        subset = df_bucketed.filter(F.col(BUCKET_COL).isin(batch))
        result = process_and_write(subset, batch)
        wall = time.time() - t0
        entries = []
        for b in batch:
            r, t = result.get(b, (0, 0))
            entries.append((b, r, t, wall))
            stats["rows"] += r
            stats["tokens"] += t
        # ONE append job per batch — still commit-after-write, so the
        # crash window stays "re-process at most one batch"
        lineage.commit_many(entries, run_id=run_id)
        stats["processed"] += len(batch)
    return stats
