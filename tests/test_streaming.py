"""Structured Streaming stateful-operator tests (memory sink) — streaming
twins of multiline/cacheloop/lru.

Note: queries using ProcessingTimeTimeout run perpetual state-cleanup
batches, so ``processAllAvailable()`` never returns on them — tests poll the
memory sink for the expected row count instead, then stop the query.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from pastash_spark.streaming.state import (
    cacheloop_stream, lru_state_stream, multiline_stream,
    statsd_window_stream)


def _wait_rows(spark, table: str, n: int, timeout: float = 90.0) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout:
        if spark.table(table).count() >= n:
            return
        time.sleep(0.5)
    raise TimeoutError(
        f"{table}: wanted {n} rows, got {spark.table(table).count()}")


def test_cacheloop_stream_sessions(spark, tmp_path):
    src = str(tmp_path / "src")
    import os
    os.makedirs(src)
    spark.createDataFrame(
        [("2024-01-01 00:00:00", "k1", 10.0),
         ("2024-01-01 00:00:05", "k1", 20.0),
         ("2024-01-01 00:10:00", "k1", 30.0),
         ("2024-01-01 00:00:01", "k2", 5.0)],
        "ts_s string, correlation_id string, metric double") \
        .coalesce(1).write.mode("overwrite").json(src)

    stream = (spark.readStream
              .schema("ts_s string, correlation_id string, metric double")
              .json(src)
              .withColumn("ts", F.to_timestamp("ts_s")))
    out = cacheloop_stream(stream, key="correlation_id", ts="ts",
                           gap="30 seconds", watermark="0 seconds",
                           avg_fields=["metric"])
    q = (out.writeStream.format("memory").queryName("cl_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        # second batch pushes the watermark past the first sessions
        spark.createDataFrame(
            [("2024-01-01 09:00:00", "k9", 1.0)],
            "ts_s string, correlation_id string, metric double") \
            .coalesce(1).write.mode("append").json(src)
        q.processAllAvailable()
        _wait_rows(spark, "cl_out", 3)
    finally:
        q.stop()

    rows = {(r.extract, str(r.session_start)): r
            for r in spark.table("cl_out").collect()}
    k1a = rows[("k1", "2024-01-01 00:00:00")]
    assert k1a["count"] == 2 and k1a.avg_metric == 15.0
    k1b = rows[("k1", "2024-01-01 00:10:00")]
    assert k1b["count"] == 1 and k1b.avg_metric == 30.0
    assert rows[("k2", "2024-01-01 00:00:01")]["count"] == 1


def test_statsd_window_stream_drops_late_data(spark, tmp_path):
    """Tumbling event-time windows + watermark: a window emits once when
    the watermark passes its end, and a row later than the watermark is
    DROPPED — the late-data contract SURVEY §2.6 claims."""
    import os
    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "ts_s string, k string, v double"

    def emit(rows, mode="append"):
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode(mode).json(src)

    emit([("2024-01-01 00:00:01", "a", 1.0),
          ("2024-01-01 00:00:02", "a", 3.0),
          ("2024-01-01 00:00:03", "b", 5.0)], mode="overwrite")
    stream = (spark.readStream.schema(schema).json(src)
              .withColumn("ts", F.to_timestamp("ts_s")))
    out = statsd_window_stream(stream, key="k", ts="ts",
                               window="10 seconds", watermark="10 seconds",
                               value_field="v")
    q = (out.writeStream.format("memory").queryName("statsd_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        # push the watermark past window [0,10): wm = 00:00:35 - 10s
        emit([("2024-01-01 00:00:35", "a", 7.0)])
        q.processAllAvailable()
        # LATE row for window [0,10) — behind the watermark, must be dropped
        emit([("2024-01-01 00:00:04", "a", 100.0),
              ("2024-01-01 00:01:30", "z", 0.0)])   # pusher finalizes [30,40)
        q.processAllAvailable()
        _wait_rows(spark, "statsd_out", 3)
    finally:
        q.stop()
    rows = {(r.metric_key, str(r.window_start)): r
            for r in spark.table("statsd_out").collect()}
    wa = rows[("a", "2024-01-01 00:00:00")]
    assert wa.counter == 2 and wa.timer_sum == 4.0   # late 100.0 NOT counted
    assert rows[("b", "2024-01-01 00:00:00")].counter == 1
    assert rows[("a", "2024-01-01 00:00:30")].timer_max == 7.0


def test_lru_state_stream_set_get(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("k", 1, "set", "v1"), ("k", 2, "get", None),
         ("k", 3, "set", "v2"), ("k", 4, "get", None),
         ("j", 1, "get", None)],
        "key string, seq long, action string, value string") \
        .coalesce(1).write.mode("overwrite").json(src)
    stream = (spark.readStream
              .schema("key string, seq long, action string, value string")
              .json(src))
    out = lru_state_stream(stream, key="key", ttl_ms=60_000)
    q = (out.writeStream.format("memory").queryName("lru_out")
         .outputMode("append").start())
    try:
        _wait_rows(spark, "lru_out", 5)
    finally:
        q.stop()
    got = {(r.key, r.seq): r.got for r in spark.table("lru_out").collect()}
    assert got[("k", 2)] == "v1"
    assert got[("k", 4)] == "v2"
    assert got[("j", 1)] is None       # get with nothing set


def test_lru_state_stream_null_set_keeps_value(spark, tmp_path):
    """A NULL-valued set publishes nothing, in the stream as in the batch
    asof_lookup: a get in the next micro-batch still reads the last
    non-NULL value."""
    from pastash_spark.operators.enrich import asof_lookup
    src = str(tmp_path / "src")
    schema = "key string, seq long, action string, value string"
    first = [("k", 1, "set", "v1"), ("k", 2, "set", None)]
    second = [("k", 3, "get", None)]
    for rows in (first, second):
        spark.createDataFrame(rows, schema).coalesce(1).write \
            .mode("append").json(src)
        time.sleep(1.1)     # distinct file mtimes: batch order
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).json(src))
    q = (lru_state_stream(stream, key="key").writeStream.format("memory")
         .queryName("lru_null").outputMode("append").start())
    try:
        _wait_rows(spark, "lru_null", 3)
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert len(batches) == 2
    got = {r.seq: r.got for r in spark.table("lru_null").collect()}
    want = {r.seq: r.got for r in asof_lookup(
        spark.createDataFrame(first + second, schema), key="key",
        order="seq", values={"got": F.when(F.col("action") == "set",
                                           F.col("value"))}).collect()}
    assert got == want == {1: "v1", 2: "v1", 3: "v1"}


def test_multiline_stream_flush_on_start_line_and_timeout(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("h", 1, "START alpha"), ("h", 2, " cont-a"),
         ("h", 3, "START beta"), ("h", 4, " cont-b")],
        "key string, seq long, message string") \
        .coalesce(1).write.mode("overwrite").json(src)
    stream = (spark.readStream
              .schema("key string, seq long, message string").json(src))
    out = multiline_stream(stream, key="key", order="seq",
                           start_line_regex="^START", max_delay_ms=500)
    q = (out.writeStream.format("memory").queryName("ml_out")
         .outputMode("append").start())
    try:
        # "START alpha" group flushes when "START beta" arrives (same batch);
        # "START beta" group flushes via the idle timeout on a later
        # state-cleanup batch — both observable by polling
        _wait_rows(spark, "ml_out", 2)
    finally:
        q.stop()
    msgs = {r.first_seq: r.message for r in spark.table("ml_out").collect()}
    assert msgs[1] == "START alpha\n cont-a"     # flushed by next start line
    assert msgs.get(3) == "START beta\n cont-b"  # flushed by idle timeout


def test_janus_span_stream_pairing(spark, tmp_path):
    """Streaming twin of janus_trace_spans: per-session state pairs
    created/destroyed and attached/detached across micro-batch boundaries
    and matches the batch kernel's ids and durations."""
    import hashlib
    from pastash_spark.streaming.state import janus_span_stream
    src = str(tmp_path / "janus_src")
    schema = ("session_id string, ord long, ts_us long, type int, "
              "subtype int, event_name string, jsep_type string, "
              "jsep_owner string, ice_state string")
    spark.createDataFrame(
        [("s1", 1, 100, 1, 0, "created", None, None, None),
         ("s1", 2, 150, 2, 0, "attached", None, None, None),
         ("s1", 3, 700, 2, 0, "detached", None, None, None),
         ("s1", 4, 900, 1, 0, "destroyed", None, None, None)],
        schema).coalesce(1).write.mode("overwrite").json(src)
    stream = spark.readStream.schema(schema).json(src)
    out = janus_span_stream(stream)
    q = (out.writeStream.format("memory").queryName("janus_spans")
         .outputMode("append").start())
    try:
        _wait_rows(spark, "janus_spans", 4)
    finally:
        q.stop()
    got = {r.name: r for r in spark.table("janus_spans").collect()}
    tid = hashlib.md5(b"s1").hexdigest()
    sess = got["Session"]
    assert sess.trace_id == tid and sess.span_id == tid[:16]
    assert (sess.start_us, sess.end_us, sess.duration_us) == (100, 900, 800)
    att = got["Handle attached"]
    att_id = hashlib.md5(b"s1:att:2").hexdigest()[:16]
    assert att.span_id == att_id and att.duration_us == 550
    assert got["Handle detached"].parent_span_id == att_id
    assert got["Session destroyed"].parent_span_id == tid[:16]


def test_janus_span_stream_matches_batch(spark, tmp_path):
    """The stream and the batch kernel read one span model: for every span
    name the stream emits, its rows equal janus_trace_spans' rows on the
    same events — across two micro-batches, with a stale re-pair, orphan
    closes (parent NULL in both) and a row that opens and closes the JSEP
    family (it pairs with itself in both)."""
    from pastash_spark.operators.correlate import janus_trace_spans
    from pastash_spark.streaming.state import janus_span_stream
    src = str(tmp_path / "janus_src")
    schema = ("session_id string, ord long, ts_us long, type int, "
              "subtype int, event_name string, jsep_type string, "
              "jsep_owner string, ice_state string")
    first = [("s1", 1, 100, 1, 0, "created", None, None, None),
             ("s1", 2, 150, 2, 0, "attached", None, None, None),
             ("s1", 3, 200, 8, 0, None, "offer", "local", None),
             ("s1", 4, 250, 16, 1, None, None, None, "gathering"),
             ("s2", 1, 100, 2, 0, "detached", None, None, None),
             ("s2", 2, 110, 8, 0, None, None, "local", None),
             ("s2", 3, 120, 16, 1, None, None, None, "ready")]
    second = [("s1", 5, 300, 16, 1, None, None, None, "connecting"),
              ("s1", 6, 350, 16, 1, None, None, None, "ready"),
              ("s1", 7, 400, 2, 0, "detached", None, None, None),
              ("s1", 8, 450, 2, 0, "detached", None, None, None),
              ("s1", 9, 500, 1, 0, "destroyed", None, None, None),
              ("s1", 10, 550, 16, 2, None, None, None, None)]
    for rows in (first, second):
        spark.createDataFrame(rows, schema).coalesce(1).write \
            .mode("append").json(src)
        time.sleep(1.1)     # distinct file mtimes: batch order
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).json(src))
    q = (janus_span_stream(stream).writeStream.format("memory")
         .queryName("janus_parity").outputMode("append").start())
    try:
        _wait_rows(spark, "janus_parity", 14)
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert len(batches) == 2

    def by_name(rows):
        out: dict = {}
        for r in rows:
            out.setdefault(r["name"], []).append(
                tuple(r[k] for k in sorted(r.asDict())))
        return {k: sorted(v) for k, v in out.items()}

    got = by_name(spark.table("janus_parity").collect())
    want = by_name(janus_trace_spans(
        spark.createDataFrame(first + second, schema),
        order="ord", ts="ts_us").collect())
    assert set(got) == {
        "Session", "Session destroyed", "Handle attached",
        "Handle detached", "JSEP Event - Offer", "JSEP Event - Answer",
        "ICE gathering", "ICE connecting", "ICE ready"}
    assert "Local Candidate" in want       # stateless: batch only
    for name, rows in got.items():
        assert rows == want[name], name
    orphans = [r for r in spark.table("janus_parity").collect()
               if r.session_id == "s2"]
    assert len(orphans) == 3
    assert all(r.parent_span_id is None for r in orphans)
