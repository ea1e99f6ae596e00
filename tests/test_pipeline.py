"""End-to-end flagship pipeline + datagen determinism + lineage resume.

Mirrors the reference's integration layer (test_421_logstash.js routing
fixtures, test_410 file2file goldens) on the synthetic token table."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pastash_spark import datagen
from pastash_spark.functions.grok import GrokCompiler
from pastash_spark.operators import route as R
from pastash_spark.plans import flagship
from pastash_spark.sources.lineage import (
    BUCKET_COL, LineageLog, run_resumable, with_bucket)


def test_datagen_deterministic_and_shaped(spark):
    a = datagen.token_sequences(spark, 500).orderBy("doc_id").collect()
    b = datagen.token_sequences(spark, 500).orderBy("doc_id").collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]
    assert [r.tokens for r in a] == [r.tokens for r in b]
    # shape constraints from FIXTURES.md §1
    for r in a:
        assert 8 <= r.n_tok <= 2048
        assert len(r.tokens) == r.n_tok
        assert all(0 <= t < datagen.VOCAB for t in r.tokens)
        assert r.source in datagen.SOURCES
    # skew: `web` should dominate (~40%)
    from collections import Counter
    c = Counter(r.source for r in a)
    assert c["web"] > 0.25 * len(a)


def test_datagen_partition_invariant(spark):
    """Counter-based generation: values don't depend on partitioning."""
    a = datagen.token_sequences(spark, 300, partitions=2).orderBy("doc_id").collect()
    b = datagen.token_sequences(spark, 300, partitions=8).orderBy("doc_id").collect()
    assert [r.tokens for r in a] == [r.tokens for r in b]


def _oracle_route(rows: list) -> dict:
    """Pure-Python oracle for the flagship routing semantics (reference
    semantics: first-match-wins else-chain, config_mapper.js:32-58)."""
    lookup = {r[0]: {"region": r[1], "weight": r[2], "tag": r[3]}
              for r in datagen._LOOKUP_ROWS}
    sinks = {}
    for r in rows:
        # header pri encodes severity = pri & 7
        import re
        m = re.match(r"<(\d+)>", r.raw)
        sev = int(m.group(1)) & 7
        tag = lookup.get(r.source, {}).get("tag")
        if sev <= 3:
            sink = "errors"
        elif tag == "quality":
            sink = "quality"
        elif tag == "code":
            sink = "code"
        else:
            sink = "bulk"
        sinks.setdefault(sink, []).append(r.doc_id)
    return sinks


def test_flagship_routing_matches_oracle(spark):
    df = datagen.token_sequences(spark, 2000).cache()
    try:
        out = flagship.run(spark, df)
        routed = out["routed"].select("doc_id", R.ROUTE_COL).collect()
        got = {}
        for r in routed:
            got.setdefault(r[R.ROUTE_COL], []).append(r.doc_id)
        want = _oracle_route(df.select("doc_id", "raw", "source").collect())
        assert {k: sorted(v) for k, v in got.items()} == \
               {k: sorted(v) for k, v in want.items()}
        # every row in exactly one sink
        assert sum(len(v) for v in got.values()) == 2000
    finally:
        df.unpersist()


def test_flagship_parse_fields(spark):
    out = flagship.run(spark, datagen.token_sequences(spark, 200))
    rows = out["routed"].select("doc_id", "hdr_ntok", "n_tok", "hdr_doc",
                                "syslog_severity", "tags").collect()
    for r in rows:
        assert r.hdr_ntok == float(r.n_tok)   # parse round-trip
        assert r.hdr_doc == r.doc_id
        assert 0 <= r.syslog_severity <= 7
        assert r.tags == []                   # no grok failures


def test_flagship_parse_matches_python_re(spark):
    """Every grok field of the flagship parse equals a re.search replay of
    the header pattern's Python flavour (numeric fields coerced)."""
    cg = GrokCompiler().compile(flagship.HEADER_PATTERN)
    numeric = ("hdr_ntok", "hdr_first", "pid")
    rows = flagship.parse_stage(datagen.token_sequences(spark, 300)) \
        .select("raw", "tags", *cg.fields).collect()
    assert len(rows) == 300
    for r in rows:
        m = cg.compiled.search(r.raw)
        assert m and r.tags == []
        for f in cg.fields:
            assert r[f] == (float(m.group(f)) if f in numeric
                            else m.group(f)), (f, r.raw)


def test_flagship_aggregates_consistent(spark):
    """Both aggregate outputs agree with a separate per-row count of the
    routed frame (sink_counts is derived from the aggregates, so comparing
    the two with each other would check nothing)."""
    out = flagship.run(spark, datagen.token_sequences(spark, 1000))
    want = {r.sink: r.rows for r in R.sink_counts(out["routed"]).collect()}
    counts = {r.sink: r.rows for r in out["sink_counts"].collect()}
    per_sink = {}
    for r in out["aggregates"].collect():
        per_sink[r.sink] = per_sink.get(r.sink, 0) + r["count"]
    assert counts == want
    assert per_sink == want
    assert sum(counts.values()) == 1000


def test_flagship_output_schemas(spark, tmp_path):
    """The aggregate outputs keep the schemas of the frames they stand for,
    nullability included, on a generated frame and on a parquet read-back
    (where every column, `source` too, comes back nullable)."""
    path = str(tmp_path / "tokens")
    datagen.token_sequences(spark, 200).write.parquet(path)
    lookup = datagen.source_lookup(spark)
    for df in (datagen.token_sequences(spark, 200), spark.read.parquet(path)):
        out = flagship.build(df, lookup)
        routed = out["routed"]
        assert out["aggregates"].schema == flagship.aggregate_stage(routed).schema
        assert out["sink_counts"].schema == R.sink_counts(routed).schema
    assert spark.read.parquet(path).schema["source"].nullable
    rows = out["sink_counts"].schema["rows"]
    assert (rows.dataType.simpleString(), rows.nullable) == ("bigint", False)


def test_token_array_invariant_through_pipeline(spark):
    """Per-row invariant vs reference (BASELINE.json input_hint): the token
    arrays pass through parse/enrich/route untouched."""
    df = datagen.token_sequences(spark, 300).cache()
    try:
        out = flagship.run(spark, df)["routed"]
        orig = {r.doc_id: r.tokens for r in df.select("doc_id", "tokens").collect()}
        after = {r.doc_id: r.tokens for r in out.select("doc_id", "tokens").collect()}
        assert orig == after
    finally:
        df.unpersist()


# --- lineage / resume -------------------------------------------------------

def test_lineage_resume_skips_done_buckets(spark, tmp_path):
    df = with_bucket(datagen.token_sequences(spark, 400), n_buckets=4)
    log = LineageLog(spark, str(tmp_path / "lineage"))
    calls = []

    def process(subset, buckets):
        calls.append(sorted(buckets))
        per_bucket = subset.groupBy(BUCKET_COL).count().collect()
        return {r[BUCKET_COL]: (r["count"], r["count"] * 10)
                for r in per_bucket}

    stats1 = run_resumable(df, log, process, n_buckets=4, buckets_per_job=2)
    assert stats1["processed"] == 4 and stats1["skipped"] == 0
    assert stats1["rows"] == 400 and stats1["tokens"] == 4000

    # resume: everything already committed -> no work
    stats2 = run_resumable(df, log, process, n_buckets=4, buckets_per_job=2)
    assert stats2["processed"] == 0 and stats2["skipped"] == 4
    assert len(calls) == 2  # only the first run's two batches

    m = log.metrics()
    assert m.filter(F.col("status") == "done").count() == 4


def test_resumable_fanout_conserves_rows(spark, tmp_path):
    """Regression: multi-batch resumable runs must not clobber earlier
    batches' sink rows — the write partitions on (bucket, route) so dynamic
    overwrite is bucket-scoped."""
    from pastash_spark.plans import flagship

    df = with_bucket(datagen.token_sequences(spark, 1200), n_buckets=6)
    lookup = datagen.source_lookup(spark)
    log = LineageLog(spark, str(tmp_path / "lineage"))
    out_path = str(tmp_path / "sinks")

    def process(subset, buckets):
        routed = flagship.build(subset, lookup)["routed"]
        (routed.write.mode("overwrite")
         .partitionBy(BUCKET_COL, "_route")
         .option("partitionOverwriteMode", "dynamic")
         .parquet(out_path))
        per_bucket = (routed.groupBy(BUCKET_COL)
                      .agg(F.count("*").alias("r"),
                           F.sum("n_tok").alias("t")).collect())
        return {r[BUCKET_COL]: (r.r, int(r.t)) for r in per_bucket}

    stats = run_resumable(df, log, process, n_buckets=6, buckets_per_job=2)
    assert stats["rows"] == 1200                      # per-bucket metrics sum
    back = spark.read.parquet(out_path)
    assert back.count() == 1200                       # nothing clobbered
    m = log.metrics().filter(F.col("status") == "done")
    assert m.count() == 6
    assert m.agg(F.sum("rows")).first()[0] == 1200    # lineage rows exact

    # idempotent retry of one bucket: simulate by re-running bucket 0's batch
    process(df.filter(F.col(BUCKET_COL) == 0), [0])
    assert spark.read.parquet(out_path).count() == 1200


def test_file_tail_resume_logrotate(spark, tmp_path):
    """test_500_real_life.js analogue: a writer appends 1500 lines across
    logrotate generations while the (batch) agent repeatedly ingests; every
    line must arrive EXACTLY once.  Covers all three monitor_file cases:
    append to a live file (byte-offset resume), rename rotation (inode ~
    content marker keeps already-read lines dead under the new path), and
    a fresh generation at the old path (read from 0)."""
    import itertools

    from pastash_spark.sources.lineage import FileTailLog, tail_new_lines

    logdir = tmp_path / "logs"
    logdir.mkdir()
    live = logdir / "output.txt"
    log = FileTailLog(spark, str(tmp_path / "tail_state"))
    seen: list[str] = []
    counter = itertools.count()

    def emit(n):
        with open(live, "a") as f:
            for _ in range(n):
                f.write(f"line {next(counter)}\n")

    def ingest():
        fresh, entries = tail_new_lines(spark, str(logdir / "*.txt*"), log)
        rows = [r.message for r in fresh.select("message").collect()]
        seen.extend(rows)      # "sink write", then commit (run_resumable contract)
        log.commit(entries)
        return len(rows)

    # generation 1: two partial ingests of the live file (offset resume)
    emit(300)
    assert ingest() == 300
    emit(200)
    assert ingest() == 200                     # only the appended delta
    # rename rotation (std logrotate): same content, new path
    live.rename(logdir / "output.txt.1")
    emit(400)                                  # fresh generation at old path
    assert ingest() == 400                     # rotated file NOT re-read
    # wait_delay_after_renaming case: writer appends to the ROTATED file
    with open(logdir / "output.txt.1", "a") as f:
        for _ in range(100):
            f.write(f"line {next(counter)}\n")
    assert ingest() == 100                     # delta under the new name
    # copytruncate rotation: old path truncated, new first line
    live.write_text("")
    emit(500)
    assert ingest() == 500
    # steady state: nothing new
    assert ingest() == 0
    assert len(seen) == 1500 and len(set(seen)) == 1500


def test_sip_capture_pipeline_to_hep(spark, tmp_path):
    """Capstone telephony e2e (the reference's home use case): raw SIP
    deposits -> sip_message parse -> Call-ID forward-fill correlation ->
    HEPv3 packets — i.e. what `input sip -> filter esl-ish -> output hep`
    produces, entirely through the library surface."""
    from pastash_spark.operators.correlate import forward_fill_correlation
    from pastash_spark.operators.parse import sip_message
    from pastash_spark.sources.sinks import hep_serialize
    from tests.test_sinks_and_urls import _hep3_decode

    def sipmsg(kind, cid, seq):
        if kind == "invite":
            start = "INVITE sip:bob@b.com SIP/2.0"
            cidl = f"Call-ID: {cid}"
        elif kind == "ok":
            start = "SIP/2.0 200 OK"
            cidl = f"i: {cid}"
        else:
            start = "BYE sip:bob@b.com SIP/2.0"
            cidl = f"Call-ID: {cid}"
        return (seq, f"{start}\r\nFrom: <sip:a@a.com>;tag=t{seq}\r\n"
                     f"{cidl}\r\nCSeq: {seq} X\r\n\r\n")

    rows = [sipmsg("invite", "c1", 1), sipmsg("ok", "c1", 2),
            sipmsg("invite", "c2", 3), sipmsg("bye", "c1", 4),
            (5, "not sip at all")]
    df = spark.createDataFrame(rows, "seq int, payload string")
    parsed = sip_message(df, field="payload")
    # reference behavior: method-less AND status-less datagrams drop
    kept = parsed.filter(F.col("sip_method").isNotNull() |
                         F.col("sip_status").isNotNull())
    corr = forward_fill_correlation(kept, key="sip_call_id", order="seq",
                                    value="sip_call_id")
    out = hep_serialize(corr, payload_col="payload",
                        correlation_col="correlation_id", proto_type=1)
    got = {r.seq: _hep3_decode(bytes(r.hep)) for r in out.collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[2][0x11] == b"c1"          # compact-header response correlated
    assert got[4][0x11] == b"c1" and got[3][0x11] == b"c2"
    assert got[1][0x0F].startswith(b"INVITE sip:bob")


def test_flagship_from_documents_parquet(spark):
    """entry() contract: the flagship input derives from the driver's
    documents.parquet; the grok parse round-trips every rendered field and
    all four sinks appear."""
    import os
    from pastash_spark.plans import flagship
    sf = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf}/documents.parquet"):
        import pytest
        pytest.skip("driver testdata absent")
    df = flagship.token_table_from_documents(spark, sf)
    assert df.columns == ["doc_id", "tokens", "n_tok", "source", "raw"]
    out = flagship.build(df, __import__("pastash_spark.datagen",
                                        fromlist=["datagen"])
                         .source_lookup(spark))
    parsed = out["routed"]
    from pyspark.sql import functions as F
    bad = parsed.filter(
        (F.col("hdr_ntok") != F.col("n_tok")) |
        (F.col("hdr_doc") != F.col("doc_id")) |
        (F.col("program") != F.col("source"))).count()
    assert bad == 0
    sinks = {r.sink for r in out["sink_counts"].collect()}
    assert sinks == {"errors", "quality", "code", "bulk"}


def test_run_with_lineage_resume_evidence(spark, tmp_path):
    """run_with_lineage drives the flagship pipeline through the lineage
    log twice: first run processes all buckets, second skips them all —
    the monitor_file.js resume semantics, end-to-end through entry()'s
    path."""
    df = datagen.token_sequences(spark, 600)
    summary = flagship.run_with_lineage(spark, df, str(tmp_path / "w"),
                                        n_buckets=4, buckets_per_job=2)
    row = summary.first()
    assert row.lineage_buckets_processed == 4
    assert row.lineage_rows == 600
    assert row.lineage_committed_rows == 600
    assert row.resume_buckets_skipped == 4
    assert row.resume_buckets_processed == 0


def test_entry_contract(spark):
    """entry(spark) returns >=1 row, carries the per-sink aggregate columns
    AND the lineage-resume evidence columns."""
    import __spark_entry__ as e
    out = e.entry(spark)
    rows = out.collect()
    assert len(rows) > 0
    cols = set(out.columns)
    assert {"sink", "source", "count", "sum_tokens"} <= cols
    assert {"resume_buckets_skipped", "lineage_committed_rows"} <= cols
    assert all(r.resume_buckets_skipped == 4 for r in rows)


def test_packaged_zip_rebuilds_when_source_changes(tmp_path):
    """The executor zip tracks the sources' content hash: unchanged code
    reuses it, an edited module rebuilds it (a stale zip would shadow the
    fresh code on the workers)."""
    import os
    import zipfile

    import __spark_entry__ as e
    mod = tmp_path / "pastash_spark" / "mod.py"
    mod.parent.mkdir()
    mod.write_text("X = 1\n")
    path = e._packaged_zip(str(tmp_path))
    with zipfile.ZipFile(path) as zf:
        assert zf.read("pastash_spark/mod.py") == b"X = 1\n"
    built = os.stat(path).st_mtime_ns
    assert os.stat(e._packaged_zip(str(tmp_path))).st_mtime_ns == built
    mod.write_text("X = 2\n")
    with zipfile.ZipFile(e._packaged_zip(str(tmp_path))) as zf:
        assert zf.read("pastash_spark/mod.py") == b"X = 2\n"


@pytest.mark.parametrize("split_conf", [
    {},
    # small splits, so the derived count is far above 1
    {"spark.sql.files.maxPartitionBytes": "64k",
     "spark.sql.files.openCostInBytes": "8k"},
])
def test_scan_partitions_derived_from_confs(spark, split_conf):
    """queries._t decides its split from the scan's partition count derived
    from the file size and the split confs, without planning an RDD: it
    equals getNumPartitions() of the real scan on every split table."""
    import os

    from pastash_spark import queries as Q
    saved = {k: spark.conf.get(k, None) for k in split_conf}
    try:
        for k, v in split_conf.items():
            spark.conf.set(k, v)
        n = 0
        for sf in ("sf0.001", "sf0.01", "sf0.1"):
            for table in ("events", "documents", "embeddings"):
                path = f"/root/testdata/{sf}/{table}.parquet"
                if not os.path.exists(path):
                    continue
                n += 1
                want = spark.read.parquet(path).rdd.getNumPartitions()
                got = Q._file_scan_partitions(spark, os.path.getsize(path))
                assert got == want, (path, split_conf)
        if n == 0:
            pytest.skip("driver testdata absent")
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
