"""The flagship end-to-end pipeline: parse -> enrich -> correlate -> route ->
aggregate over the token table (BASELINE.json north rule; the paStash
canonical recipe shape `file -> regex -> compute_field -> if/else ->
{file,file,file}` from /root/reference/test/test_421_logstash/).

One lazy DAG: the grok parse, coercions, enrichment join and routing column
compile into a single stage over the scan (verified via .explain — no
shuffle until the aggregate).  The two aggregate outputs nest — per-sink
counts are a roll-up of the (sink, source) aggregate — so they come from one
job: its single exchange is the map-side-combined (sink, source) groupBy,
and the roll-up runs on the driver over the collected groups (the shared
aggregation of Sharon, ICDE 2018).
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pastash_spark import datagen
from pastash_spark.operators import parse as P
from pastash_spark.operators import route as R
from pastash_spark.operators.enrich import broadcast_lookup
from pastash_spark.session import local_frame
from pastash_spark.sources.lineage import BUCKET_COL

# Grok pattern for the rendered syslog-style header in datagen.token_sequences:
#   <pri>MMM DD HH:mm:ss host prog[pid]: ntok=N first=T doc=ID
HEADER_PATTERN = (
    r"%{SYSLOGPRI}%{SYSLOGTIMESTAMP:ts_txt} %{NOTSPACE:host} "
    r"%{PROG:program}\[%{POSINT:pid}\]: "
    r"ntok=%{INT:hdr_ntok} first=%{INT:hdr_first} doc=%{NOTSPACE:hdr_doc}"
)


def parse_stage(df: DataFrame) -> DataFrame:
    """Grok-parse the raw header; decode syslog priority; coerce numerics."""
    df = P.grok(df, HEADER_PATTERN, field="raw",
                numerical_fields=("hdr_ntok", "hdr_first", "pid"))
    df = P.syslog_pri(df, field="syslog_pri")
    return df


def enrich_stage(df: DataFrame, lookup: DataFrame) -> DataFrame:
    """Broadcast source-dim join (shuffle-free on the fact side, so the 40%
    hot `web` key costs nothing extra) + derived quality weight."""
    df = broadcast_lookup(df, lookup, on="source")
    return df.withColumn(
        "weighted_tokens",
        F.col("n_tok") * F.coalesce(F.col("source_weight"), F.lit(0.0)))


def route_stage(df: DataFrame) -> DataFrame:
    """if / else-if / else fan-out on parsed + enriched fields:
      errors   <- syslog severity <= 3 (err and worse)
      quality  <- route_tag == 'quality'
      code     <- route_tag == 'code'
      bulk     <- everything else (default)
    First-match-wins, mutually exclusive (config_mapper.js:32-58)."""
    return R.route(df, [
        ("errors", F.col("syslog_severity") <= 3),
        ("quality", F.col("route_tag") == "quality"),
        ("code", F.col("route_tag") == "code"),
    ], default="bulk")


def aggregate_stage(routed: DataFrame) -> DataFrame:
    """Per-sink, per-source aggregate (cacheloop count/avg semantics,
    filter_cacheloop.js:52-81) — the per-sink aggregate-count check of the
    baseline."""
    return (routed.groupBy(F.col(R.ROUTE_COL).alias("sink"), "source")
            .agg(F.count("*").alias("count"),
                 F.sum("n_tok").alias("sum_tokens"),
                 F.avg("n_tok").alias("avg_ntok"),
                 F.avg("weighted_tokens").alias("avg_weighted")))


class FlagshipOutputs(Mapping):
    """The flagship outputs, read-only: ``routed`` (the lazy routed frame),
    ``aggregates`` (``aggregate_stage(routed)``) and ``sink_counts``
    (``R.sink_counts(routed)``), with those frames' schemas.

    Getting ``routed`` runs no job.  The first read of either aggregate
    output runs ONE job, ``aggregate_stage(routed).collect()``, and both
    come from its rows as literal frames: ``sink_counts`` is the per-sink
    sum of ``count`` over them, done on the driver.  That collect holds one
    row per (sink, source) group, so at most (route branches + 1) x distinct
    ``source`` values rows (4 x 12 = 48 on the token table).  Nothing is
    cached: a new ``build`` over changed input reads fresh rows."""

    _KEYS = ("routed", "aggregates", "sink_counts")

    def __init__(self, routed: DataFrame):
        self._routed = routed
        self._aggregated: dict[str, DataFrame] | None = None

    def __getitem__(self, key: str) -> DataFrame:
        if key == "routed":
            return self._routed
        if key not in self._KEYS:
            raise KeyError(key)
        if self._aggregated is None:
            self._aggregated = self._aggregate()
        return self._aggregated[key]

    def __contains__(self, key: object) -> bool:
        # Mapping's default would read the value, running the job
        return key in self._KEYS

    def __iter__(self) -> Iterator[str]:
        return iter(self._KEYS)

    def __len__(self) -> int:
        return len(self._KEYS)

    def _aggregate(self) -> dict[str, DataFrame]:
        spark = self._routed.sparkSession
        aggregated = aggregate_stage(self._routed)
        rows = aggregated.collect()
        per_sink: dict[str, int] = {}
        for r in rows:
            per_sink[r.sink] = per_sink.get(r.sink, 0) + r["count"]
        return {
            "aggregates": local_frame(spark, rows, aggregated.schema),
            "sink_counts": local_frame(spark, list(per_sink.items()),
                                       R.sink_counts(self._routed).schema),
        }


def build(df: DataFrame, lookup: DataFrame) -> FlagshipOutputs:
    parsed = parse_stage(df)
    enriched = enrich_stage(parsed, lookup)
    return FlagshipOutputs(route_stage(enriched))


def run(spark: SparkSession, df: DataFrame | None = None,
        n_rows: int = 10_000) -> FlagshipOutputs:
    """Convenience runner on the deterministic synthetic token table."""
    if df is None:
        df = datagen.token_sequences(spark, n_rows)
    lookup = datagen.source_lookup(spark)
    return build(df, lookup)


def write_batch(subset: DataFrame, buckets, lookup: DataFrame,
                sink_path: str) -> dict:
    """Run the pipeline on one batch of lineage buckets, write its routed
    rows under ``sink_path`` and return ``{bucket: (rows, tokens)}`` — the
    ``process_and_write`` contract of ``lineage.run_resumable``.

    Idempotent per-bucket sink write: the bucket column LEADS the partition
    layout, so dynamic overwrite replaces exactly this batch's (bucket,
    route) partitions — a retry rewrites the same directories, and later
    batches can never clobber earlier ones (partitioning by the route alone
    would overwrite whole sinks).  The counts are read back from the
    partitions just written, so the batch is parsed once."""
    routed = build(subset, lookup)["routed"]
    (routed.write.mode("overwrite")
     .partitionBy(BUCKET_COL, R.ROUTE_COL)
     .option("partitionOverwriteMode", "dynamic")
     .parquet(sink_path))
    per_bucket = (subset.sparkSession.read.parquet(sink_path)
                  .filter(F.col(BUCKET_COL).isin(list(buckets)))
                  .groupBy(BUCKET_COL)
                  .agg(F.count("*").alias("r"),
                       F.sum("n_tok").alias("t")).collect())
    return {r[BUCKET_COL]: (r.r, int(r.t)) for r in per_bucket}


def run_with_lineage(spark: SparkSession, df: DataFrame, work_dir: str,
                     *, n_buckets: int = 8,
                     buckets_per_job: int = 4) -> DataFrame:
    """Drive the flagship pipeline THROUGH the resumable lineage log and
    return a one-row resume-evidence summary.

    This is the end-to-end analogue of the reference's file-position
    database (monitor_file.js:289-316 persists byte offsets so a restarted
    agent resumes where it left off; bin/pastash:210-234 wires --db_file):
    run 1 processes every bucket and commits per-bucket lineage rows after
    each idempotent sink write; run 2 over the SAME lineage table finds all
    buckets done and skips everything.  The summary row carries both runs'
    counters so callers (and the driver smoke check via entry()) see the
    resume semantics actually exercised, not just declared.
    """
    import os

    from pastash_spark.sources.lineage import (
        LineageLog, run_resumable, with_bucket)

    lookup = datagen.source_lookup(spark)
    bucketed = with_bucket(df, key="doc_id", n_buckets=n_buckets)
    log = LineageLog(spark, os.path.join(work_dir, "lineage"))
    sink_path = os.path.join(work_dir, "sinks")

    def process_and_write(subset: DataFrame, buckets) -> dict:
        return write_batch(subset, buckets, lookup, sink_path)

    first = run_resumable(bucketed, log, process_and_write,
                          n_buckets=n_buckets,
                          buckets_per_job=buckets_per_job)
    resumed = run_resumable(bucketed, log, process_and_write,
                            n_buckets=n_buckets,
                            buckets_per_job=buckets_per_job)
    committed = log.metrics().filter(F.col("status") == "done")
    lineage_rows = committed.agg(F.sum("rows")).first()[0] or 0
    return local_frame(
        spark, [(first["processed"], first["rows"], first["tokens"],
                 int(lineage_rows), resumed["skipped"], resumed["processed"])],
        "lineage_buckets_processed int, lineage_rows long, "
        "lineage_tokens long, lineage_committed_rows long, "
        "resume_buckets_skipped int, resume_buckets_processed int")


def token_table_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the flagship input (input_hint shape + rendered `raw` header)
    from the driver's documents.parquet — everything a deterministic pure
    column expression over (doc_id, text), so the pipeline runs on real
    testdata instead of a synthetic generator."""
    from pastash_spark.operators.dataset import portable_tokenize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    tokens = portable_tokenize("text").cast("array<int>")
    n_tok = F.size(tokens)
    source = F.element_at(
        F.array(*[F.lit(s) for s in
                  ("web", "books", "code", "wiki", "news", "arxiv", "forums",
                   "social", "legal", "patents", "subtitles", "mail")]),
        (F.pmod(d, F.lit(12)) + 1).cast("int"))
    doc_id = F.format_string("doc-%06d-%06d", (d / 1000).cast("long"),
                             F.pmod(d, F.lit(1000)))
    raw = F.concat(
        F.lit("<"), F.pmod(d, F.lit(192)).cast("string"),
        F.lit(">Jan  5 04:05:06 host"), F.pmod(d, F.lit(20)).cast("string"),
        F.lit(" "), source,
        F.lit("["), (1000 + F.pmod(d, F.lit(9000))).cast("string"),
        F.lit("]: ntok="), n_tok.cast("string"),
        F.lit(" first="), F.element_at(tokens, 1).cast("string"),
        F.lit(" doc="), doc_id)
    return docs.select(doc_id.alias("doc_id"), tokens.alias("tokens"),
                       n_tok.alias("n_tok"), source.alias("source"),
                       raw.alias("raw"))
