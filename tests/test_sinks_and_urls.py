"""Sink-layer + URL-config front-end tests."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from pastash_spark.plans.builder import build
from pastash_spark.plans.urls import parse_url, parse_urls
from pastash_spark.sources import sinks as S


class TestSqlLookupFilters:
    """mysql/sqlite lookup filters (plugins/filters/mysql/filter_mysql.js,
    filter_sqlite.js): the per-event `WHERE key = ?` prepared statement is
    re-expressed as load-once + broadcast equi-join."""

    def _mkdb(self, tmp_path):
        import sqlite3
        db = str(tmp_path / "lk.db")
        con = sqlite3.connect(db)
        con.execute("CREATE TABLE users (id INTEGER, name TEXT, tier TEXT)")
        con.executemany("INSERT INTO users VALUES (?,?,?)",
                        [(1, "alice", "gold"), (2, "bob", "silver"),
                         (1, "alice-dup", "late")])  # first row must win
        con.commit(); con.close()
        return db

    def test_sqlite_lookup_scalar_first_row(self, spark, tmp_path):
        db = self._mkdb(tmp_path)
        df = spark.createDataFrame([(1,), (2,), (9,)], "user_id int")
        out = build(df, [{"op": "sqlite", "db": db,
                          "query": "SELECT name FROM users WHERE id = ?",
                          "source_field": "user_id",
                          "target_field": "username"}])
        got = {r.user_id: r.username for r in out.collect()}
        # better-sqlite3 .get() = first matching row; no match -> untouched
        assert got == {1: "alice", 2: "bob", 9: None}

    def test_sqlite_lookup_via_conf(self, spark, tmp_path):
        from pastash_spark.plans.logstash_conf import build_conf
        db = self._mkdb(tmp_path)
        conf = f"""
        filter {{ sqlite {{ db => "{db}"
                            query => "SELECT tier FROM users WHERE id = ?"
                            source_field => user_id }} }}
        """
        df = spark.createDataFrame([(2,)], "user_id int")
        out, _ = build_conf(df, conf)
        # default target_field = 'sqlite' (filter_sqlite.js default_values)
        assert out.first()["sqlite"] == "silver"

    def test_lookup_query_shape_rejected(self):
        from pastash_spark.operators.enrich import parse_lookup_query
        with pytest.raises(ValueError, match="lookup filter query"):
            parse_lookup_query("DELETE FROM users")
        cols, tbl, key = parse_lookup_query(
            "SELECT a, b FROM t WHERE k = ?")
        assert (cols, tbl, key) == (["a", "b"], "t", "k")

    def test_mysql_conf_builds_jdbc_url(self, spark, monkeypatch, tmp_path):
        """The mysql conf surface (host/port/db/user/password) must reach
        the JDBC reader as a jdbc:mysql URL + subquery pushdown."""
        from pastash_spark.plans.logstash_conf import build_conf
        from pastash_spark.sources import readers
        seen = {}

        def fake_read_jdbc(sp, url, dbtable, **kw):
            seen.update(url=url, dbtable=dbtable, **kw)
            return sp.createDataFrame([(7, "x")], "__k int, name string")

        monkeypatch.setattr(readers, "read_jdbc", fake_read_jdbc)
        conf = """
        filter { mysql { db => appdb host => dbhost port => 3307
                         user => ro password => pw
                         query => "SELECT name FROM users WHERE id = ?"
                         source_field => user_id
                         target_field => username } }
        """
        df = spark.createDataFrame([(7,), (8,)], "user_id int")
        out, _ = build_conf(df, conf)
        got = {r.user_id: r.username for r in out.collect()}
        assert got == {7: "x", 8: None}
        assert seen["url"] == "jdbc:mysql://dbhost:3307/appdb"
        assert seen["dbtable"] == "(SELECT id AS __k, name FROM users) AS __lk"
        assert seen["user"] == "ro" and seen["password"] == "pw"


def test_interpolated_path_write(spark, tmp_path):
    df = spark.createDataFrame(
        [("nginx", "h1", 1), ("nginx", "h2", 2), ("apache", "h1", 3)],
        "type string, host string, n int")
    cols = S.interpolated_path_write(df, str(tmp_path / "out"), "#{type}/#{host}")
    assert cols == ["type", "host"]
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 3
    one = spark.read.parquet(str(tmp_path / "out/type=nginx/host=h2"))
    assert [r.n for r in one.collect()] == [2]


def test_interpolated_path_rejects_literals(spark, tmp_path):
    df = spark.createDataFrame([("a",)], "type string")
    with pytest.raises(ValueError, match="pure"):
        S.interpolated_path_write(df, str(tmp_path / "x"), "prefix-#{type}")


def test_daily_index_write(spark, tmp_path):
    df = spark.createDataFrame(
        [("2024-01-01 10:00:00",), ("2024-01-02 10:00:00",)], "ts_s string") \
        .withColumn("@timestamp", F.to_timestamp("ts_s"))
    S.daily_index_write(df, str(tmp_path / "es"), prefix="logs")
    back = spark.read.parquet(str(tmp_path / "es"))
    idx = sorted(r._index for r in back.select("_index").collect())
    assert idx == ["logs-2024.01.01", "logs-2024.01.02"]


def test_statsd_metrics(spark):
    df = spark.createDataFrame(
        [("click", 1.0), ("click", 3.0), ("view", 2.0)],
        "event_type string, value double")
    out = {r.metric_key: r for r in
           S.statsd_metrics(df, key_template="ev.#{event_type}",
                            value_field="value").collect()}
    assert out["ev.click"].counter == 2
    assert out["ev.click"].timer_sum == 4.0
    assert out["ev.view"].timer_max == 2.0


def test_ndjson_serialize_formats_timestamp(spark):
    df = spark.createDataFrame([("2024-03-05 06:07:08.123",)], "ts_s string") \
        .withColumn("@timestamp", F.to_timestamp("ts_s")).drop("ts_s")
    j = S.ndjson_serialize(df).first().json
    assert '"@timestamp":"2024-03-05T06:07:08.123' in j


def test_parse_url_roundtrip():
    spec = parse_url("filter://grok://?pattern=%{INT:n}+%{WORD:w}&field=raw")
    assert spec["role"] == "filter" and spec["op"] == "grok"
    # literal '+' preserved (url_parser.js:18 %2B-protects before parsing);
    # spaces are written %20
    assert spec["pattern"] == "%{INT:n}+%{WORD:w}"
    assert spec["field"] == "raw"

    spec1b = parse_url("filter://grok://?pattern=%{INT:n}%20%{WORD:w}")
    assert spec1b["pattern"] == "%{INT:n} %{WORD:w}"

    spec2 = parse_url("filter://regex://?regex=^(\\w+)&fields=a,b&max_size=5")
    assert spec2["fields"] == ["a", "b"] and spec2["max_size"] == 5
    assert spec2["regex"] == "^(\\w+)"   # '+' not corrupted to a space

    spec3 = parse_url("input://file:///var/log/app.log?type=app")
    assert spec3["target"] == "/var/log/app.log" and spec3["type"] == "app"

    with pytest.raises(ValueError, match="bad plugin url"):
        parse_url("not-a-url")


def test_parse_urls_builds_runnable_chain(spark):
    urls = [
        "filter://grok://?pattern=%{WORD:lvl}%20%{INT:code}&field=message",
        "filter://mutate_replace://?field=lvl&from_regex=err&to=ERR",
    ]
    stages = parse_urls(urls)["filter"]
    df = spark.createDataFrame([("err 42",)], "message string")
    out = build(df, stages).first()
    assert out.lvl == "ERR" and out.code == "42"


def test_gelf_serialize_deflates(spark):
    import zlib, json
    from pastash_spark.sources.sinks import gelf_serialize
    df = spark.createDataFrame([("h1", "boom", 3, "svc")],
                               "host string, message string, level int, app string")
    blob = gelf_serialize(df, level_col="level",
                          extra_fields=["app"]).first().gelf
    doc = json.loads(zlib.decompress(bytes(blob)))
    assert doc == {"version": "1.1", "host": "h1", "short_message": "boom",
                   "level": 3, "_app": "svc"}


def _hep3_decode(b: bytes) -> dict:
    """Test-local HEPv3 decoder (independent framing oracle)."""
    import struct
    assert b[:4] == b"HEP3"
    total, = struct.unpack_from(">H", b, 4)
    assert total == len(b)
    i, chunks = 6, {}
    while i < len(b):
        vendor, ctype, clen = struct.unpack_from(">HHH", b, i)
        assert vendor == 0 and clen >= 6
        chunks[ctype] = b[i + 6:i + clen]
        i += clen
    return chunks


def test_hep_serialize_hepv3_framing(spark):
    import struct
    from pastash_spark.sources.sinks import hep_serialize
    df = spark.createDataFrame(
        [("INVITE sip:x SIP/2.0", "call-77", "2024-01-02 03:04:05.250")],
        "payload string, correlation_id string, ts string")
    blob = bytes(hep_serialize(df, ts_col="ts", proto_type=1,
                               capture_id=1234).first().hep)
    c = _hep3_decode(blob)
    assert c[0x0F] == b"INVITE sip:x SIP/2.0"
    assert c[0x11] == b"call-77"
    assert struct.unpack(">I", c[0x0C])[0] == 1234
    assert c[0x0B] == bytes([1]) and c[0x0E] == b"MyHep"
    assert struct.unpack(">I", c[0x0A])[0] == 250000        # usec
    assert c[0x01] == bytes([1]) and c[0x02] == bytes([17])  # ipv4/udp
    assert len(c[0x03]) == 4 and len(c[0x07]) == 2


def test_hep_serialize_per_row_rcinfo(spark):
    """output_hep.js preHep reads data.rcinfo PER EVENT — rows carrying
    proto_type/protocol/src/dst columns must frame with THEIR addressing,
    nulls falling back to the scalar defaults."""
    import struct
    from pastash_spark.sources.sinks import hep_serialize
    df = spark.createDataFrame(
        [("INVITE sip:x SIP/2.0", "c-1", 1, 6,
          "10.0.0.5", 5060, "10.0.0.9", 5061),
         ("log line", "c-2", None, None, None, None, None, None)],
        "payload string, correlation_id string, proto_type int, "
        "protocol int, src_ip string, src_port int, dst_ip string, "
        "dst_port int")
    rows = hep_serialize(df).collect()
    c1 = _hep3_decode(bytes([r for r in rows
                             if r.correlation_id == "c-1"][0].hep))
    assert c1[0x0B] == bytes([1]) and c1[0x02] == bytes([6])
    import socket
    assert c1[0x03] == socket.inet_aton("10.0.0.5")
    assert struct.unpack(">H", c1[0x07])[0] == 5060
    assert c1[0x04] == socket.inet_aton("10.0.0.9")
    assert struct.unpack(">H", c1[0x08])[0] == 5061
    c2 = _hep3_decode(bytes([r for r in rows
                             if r.correlation_id == "c-2"][0].hep))
    # null rcinfo -> the LOG-type localhost defaults, unchanged
    assert c2[0x0B] == bytes([100]) and c2[0x02] == bytes([17])
    assert c2[0x03] == socket.inet_aton("127.0.0.1")


def test_hep_serialize_ipv6_family(spark):
    from pastash_spark.sources.sinks import hep3_encapsulate
    b = hep3_encapsulate("x", src_ip="2001:db8::1", dst_ip="10.0.0.1")
    c = _hep3_decode(b)
    assert c[0x01] == bytes([2])          # family flips to IPv6
    assert len(c[0x05]) == 16 and 0x03 not in c
    assert len(c[0x04]) == 4              # v4 side keeps the v4 chunk


def test_msgpack_reader_gated(spark):
    import pytest as _pt
    from pastash_spark.sources.readers import read_msgpack
    from pyspark.sql import types as T
    try:
        import msgpack  # noqa: F401
        _pt.skip("msgpack installed; gate test not applicable")
    except ImportError:
        pass
    with _pt.raises(ImportError, match="msgpack"):
        read_msgpack(spark, "/tmp/nope", T.StructType([]))


def test_app_sonus_reassembly(spark):
    from pastash_spark.operators.correlate import app_sonus_reassemble
    rows = [
        ("s1", 1, "Incoming message on 10.0.0.1:5060"),
        ("s1", 2, "INVITE sip:bob SIP/2.0"),
        ("s1", 3, "Call-ID: abc-123"),
        ("s1", 4, ""),
        ("s1", 5, "sending from 10.0.0.2:5060"),
        ("s1", 6, "SIP/2.0 200 OK"),
        ("s1", 7, "Call-ID: abc-123"),
        ("s1", 8, ""),
    ]
    df = spark.createDataFrame(rows, "path string, line_no int, message string")
    out = app_sonus_reassemble(df).orderBy("line_no").collect()
    assert len(out) == 2
    assert out[0].payload == "INVITE sip:bob SIP/2.0\nCall-ID: abc-123"
    assert out[0].correlation_id == "abc-123"
    assert "Incoming message" in out[0].rcinfo
    assert "sending from" in out[1].rcinfo

    # a direction line between two payload lines: rcinfo is the fill in
    # force at the message's last kept line, whatever order rows arrive in
    rows = [
        ("s2", 1, "Incoming message on 10.0.0.3:5060"),
        ("s2", 2, "BYE sip:bob SIP/2.0"),
        ("s2", 3, "sending from 10.0.0.4:5060"),
        ("s2", 4, "Call-ID: xyz-9"),
        ("s2", 5, ""),
    ]
    for seed in range(3):
        shuffled = list(rows)
        random.Random(seed).shuffle(shuffled)
        df = spark.createDataFrame(
            shuffled, "path string, line_no int, message string")
        out = app_sonus_reassemble(df).collect()
        assert [(r.payload, r.rcinfo, r.line_no) for r in out] == [
            ("BYE sip:bob SIP/2.0\nCall-ID: xyz-9",
             "sending from 10.0.0.4:5060", 2)], seed
