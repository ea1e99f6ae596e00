"""Operator tests — each mirrors one reference filter unit suite shape:
(input events, config, expected output events) per
/root/reference/test/filter_helper.js:14-56."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pastash_spark.operators import correlate as C
from pastash_spark.operators import enrich as E
from pastash_spark.operators import mutate as M
from pastash_spark.operators import parse as P
from pastash_spark.operators import route as R
from pastash_spark.functions.grok import GrokCompiler


def msgs(spark, *lines):
    return spark.createDataFrame([(l,) for l in lines], "message string")


# --- parse ------------------------------------------------------------------

def test_regex_extract_native_and_coercion(spark):
    df = msgs(spark, "error 12 took 3,5s", "no match here")
    out = P.regex_extract(df, r"^(\w+) (\d+) took ([\d,\.]+)s",
                          fields=["lvl", "code", "dur"],
                          numerical_fields=["code", "dur"])
    rows = {r.message: r for r in out.collect()}
    hit = rows["error 12 took 3,5s"]
    assert (hit.lvl, hit.code, hit.dur) == ("error", 12.0, 3.5)
    miss = rows["no match here"]
    assert miss.lvl is None and miss.code is None


def test_regex_extract_matches_python_re(spark):
    """regex_extract's one JVM pass agrees with a re.search replay of the
    compiled grok's Python flavour: '' and non-participating groups read
    NULL, an unmatched or NULL line reads NULL everywhere and is tagged."""
    mb = 1 << 20
    cases = [
        # (pattern, lines, regex_flags)
        (r"(?<lvl>\w+) (?<code>\d+)(?:x(?<sub>\d+))? a=(?<a>\w*);",
         [None, "no match", "warn 7 a=;", "error 12x3 a=b;",
          "pre\u0001 error 12 a=b;", "no\u0001match",
          "élan 5 a=crème;"], None),
        (r"^error: (?<msg>.+)$", ["x\nERROR: multi\nline", "error"], "ims"),
        ("".join(f"(?<g{i}>\\w)" for i in range(11)),
         ["abcdefghijk", "abc"], None),
        # 1 MB lines: a 1 MB capture, a match after 1 MB, no match at all
        (r"(?<head>x+) key=(?<val>\w+)",
         ["x" * mb + " key=v1", "y" * mb + " xx key=v2", "y" * mb], None),
    ]
    for pattern, lines, flags in cases:
        cg = GrokCompiler().compile(pattern)
        py_re = re.compile(f"(?{flags})" * bool(flags) + cg.python_regex)
        df = spark.createDataFrame([(i, l) for i, l in enumerate(lines)],
                                   "i int, message string")
        got = P.regex_extract(df, cg, regex_flags=flags,
                              tag_on_failure="_fail").orderBy("i").collect()
        for line, row in zip(lines, got):
            m = py_re.search(line) if line is not None else None
            want = {f: (m.group(f) or None) if m else None for f in cg.fields}
            assert {f: row[f] for f in cg.fields} == want, (pattern, line)
            assert row.tags == ([] if m else ["_fail"]), (pattern, line)


def test_grok_failure_tag(spark):
    df = msgs(spark, "<13>Feb  5 17:32:18 h app[1]: x", "garbage")
    out = P.grok(df, r"%{SYSLOGPRI}%{SYSLOGTIMESTAMP:ts} %{NOTSPACE:h} %{SYSLOGPROG}: %{GREEDYDATA:m}",
                 field="message")
    rows = {r.message: r for r in out.collect()}
    assert rows["garbage"].tags == ["_grokparsefailure"]
    assert rows["<13>Feb  5 17:32:18 h app[1]: x"].tags == []
    assert rows["<13>Feb  5 17:32:18 h app[1]: x"].program == "app"


def test_grep_and_invert(spark):
    df = msgs(spark, "keep me", "drop me")
    assert P.grep(df, "^keep").count() == 1
    assert P.grep(df, "^keep", invert=True).first().message == "drop me"


def test_split_with_chunk_no(spark):
    df = msgs(spark, "a|b||c")
    out = P.split(df, delimiter="|").orderBy("chunk_no").collect()
    assert [(r.message, r.chunk_no) for r in out] == [("a", 0), ("b", 1), ("c", 3)]


def test_truncate_string_and_array(spark):
    df = spark.createDataFrame([("abcdef", [1, 2, 3, 4])],
                               "message string, tokens array<int>")
    assert P.truncate(df, max_size=3).first().message == "abc"
    assert P.truncate(df, field="tokens", max_size=2).first().tokens == [1, 2]


def test_json_fields_merge(spark):
    df = msgs(spark, 'prefix {"a": 1, "b": "x"}', "no json")
    schema = T.StructType([T.StructField("a", T.IntegerType()),
                           T.StructField("b", T.StringType())])
    rows = {r.message: r for r in P.json_fields(df, schema).collect()}
    assert rows['prefix {"a": 1, "b": "x"}'].a == 1
    assert rows["no json"].a is None


def test_csv_parse(spark):
    df = msgs(spark, 'x,1,"q,uoted"')
    out = P.csv_parse(df, "f1 string, f2 int, f3 string").first()
    assert (out.f1, out.f2, out.f3) == ("x", 1, "q,uoted")


def test_syslog_pri_decode(spark):
    df = spark.createDataFrame([("13",), ("165",)], "syslog_pri string")
    rows = {r.syslog_pri: r for r in P.syslog_pri(df).collect()}
    # 13 = facility 1 (user-level), severity 5 (notice)
    assert rows["13"].syslog_facility == 1
    assert rows["13"].syslog_severity == 5
    assert rows["13"].syslog_severity_name == "notice"
    assert rows["13"].syslog_facility_name == "user-level"
    # 165 = facility 20 (local4), severity 5
    assert rows["165"].syslog_facility_name == "local4"


def test_http_status_classifier(spark):
    df = spark.createDataFrame([(200,), (404,), (418,), (99,)], "status int")
    out = P.http_status_classifier(df, special_codes=[418])
    got = {r.status: r.status_class for r in out.collect()}
    assert got == {200: "2xx", 404: "4xx", 418: "418", 99: None}


def test_ipproto(spark):
    df = spark.createDataFrame([(6,), (17,), (99,)], "proto int")
    got = {r.proto: r.proto_name for r in P.ipproto(df).collect()}
    assert got == {6: "tcp", 17: "udp", 99: None}


def test_bunyan(spark):
    df = msgs(spark, '{"time":"2024-01-01T00:00:00Z","hostname":"h1","msg":"boom","name":"svc","level":50,"pid":9}')
    r = P.bunyan(df).first()
    assert r.host == "h1" and r.message == "boom" and r.level_name == "ERROR"


def test_jail_and_json_schema(spark):
    df = spark.createDataFrame([("a", 1)], "s string, n int")
    j = P.jail(df, "event").first()
    assert j.event.s == "a" and j.event.n == 1
    js = P.json_schema_serialize(df, ["s", "n"]).first().json
    assert js == '{"s":"a","n":1}'


# --- mutate -----------------------------------------------------------------

def test_mutate_chain(spark):
    df = spark.createDataFrame([("hello world", "x")], "message string, t string")
    out = M.gsub(df, "message", "o", "0")
    out = M.rename(out, "t", "type")
    out = M.add_fields(out, {"derived": "#{type}!"})
    out = M.add_tags(out, ["t1"])
    out = M.remove_tags(out, ["zzz"])
    r = out.first()
    assert r.message == "hell0 w0rld"
    assert r.type == "x" and r.derived == "x!" and r.tags == ["t1"]


def test_remove_field_when_equal_and_omit(spark):
    df = spark.createDataFrame([("-", 1), ("v", 2)], "f string, n int")
    out = M.remove_field_when_equal(df, "f", "-")
    got = {r.n: r.f for r in out.collect()}
    assert got == {1: None, 2: "v"}
    assert M.omit(df, whitelist=["n"]).columns == ["n"]
    assert M.omit(df, blacklist=["n"]).columns == ["f"]


def test_mutate_hash_deterministic(spark):
    df = spark.createDataFrame([("abc",), ("abc",)], "f string")
    vals = [r.f for r in M.mutate_hash(df, "f").collect()]
    assert vals[0] == vals[1] and len(vals[0]) == 64


def test_mutate_hash_murmur3_128_bit_parity(spark):
    """Canonical MurmurHash3 x64_128 vectors (public smhasher/mmh3 values)
    — the reference's murmur.hash128().hex() contract
    (filter_mutate_hash.js:24-29)."""
    from pastash_spark.functions.murmur3 import murmur3_128_hex
    assert murmur3_128_hex("") == "0" * 32
    assert murmur3_128_hex("hello") == "029bbd41b3a7d8cb191dae486a901e5b"
    assert murmur3_128_hex("The quick brown fox jumps over the lazy dog") \
        == "6c1b07bc7bbc4be347939ac4a93c437a"
    df = spark.createDataFrame([("hello",), (None,)], "f string")
    vals = [r.f for r in M.mutate_hash(df, "f", algo="murmur3_128").collect()]
    assert vals == ["029bbd41b3a7d8cb191dae486a901e5b", None]


def test_murmur3_smhasher_verification_both_variants(spark):
    """Both 128-bit variants bit-exact vs the published smhasher
    VerificationTest constants (MurmurHash3_x64_128=0x6384BA69,
    MurmurHash3_x86_128=0xB3ECE62A) — the algorithm-level oracle, since the
    reference's npm murmur3 module is unresolvable in its own tree."""
    from pastash_spark.functions.murmur3 import smhasher_verification
    assert smhasher_verification("x64") == 0x6384BA69
    assert smhasher_verification("x86") == 0xB3ECE62A
    df = spark.createDataFrame([("hello",)], "f string")
    v64 = M.mutate_hash(df, "f", algo="murmur3_128").first().f
    v86 = M.mutate_hash(df, "f", algo="murmur3_x86_128").first().f
    assert v64 != v86 and len(v86) == 32 and v86 == v86.lower()


def test_eval_expr_and_compute_date(spark):
    df = spark.createDataFrame([(21,)], "x int")
    assert M.eval_expr(df, "y", "x * 2 + 1").first().y == 43
    df2 = spark.createDataFrame([("2024-03-05 06:07:08",)], "ts string") \
        .withColumn("@timestamp", F.to_timestamp("ts"))
    assert M.compute_date_field(df2, "d", "YYYY/MM/DD").first().d == "2024/03/05"


def test_mustache(spark):
    df = spark.createDataFrame([("n1", 5)], "name string, n int")
    assert M.mustache(df, "out", "hi {{name}}:{{n}}").first().out == "hi n1:5"


def test_mustache_escaping_and_raw(spark):
    df = spark.createDataFrame([("<b>&'x'</b>",)], "v string")
    esc = M.mustache(df, "o", "{{v}}").first().o
    assert esc == "&lt;b&gt;&amp;&#39;x&#39;&lt;&#x2F;b&gt;"
    raw = M.mustache(df, "o", "{{{v}}}").first().o
    assert raw == "<b>&'x'</b>"
    amp = M.mustache(df, "o", "{{&v}}").first().o
    assert amp == "<b>&'x'</b>"


def test_mustache_sections(spark):
    df = spark.createDataFrame(
        [(["a", "b"], {"city": "x"}, True, "u1"),
         ([], None, False, "u2")],
        "items array<string>, addr struct<city:string>, ok boolean, "
        "user string")
    tpl = ("{{user}}:{{#items}}[{{.}}]{{/items}}{{^items}}none{{/items}}"
           "{{#addr}}@{{city}}{{/addr}}{{#ok}}!{{/ok}}{{!ignored}}")
    got = {r.user: r.o for r in M.mustache(df, "o", tpl).collect()}
    assert got == {"u1": "u1:[a][b]@x!", "u2": "u2:none"}


def test_mustache_dotted_and_missing(spark):
    df = spark.createDataFrame([(("deep",),)], "a struct<b string>")
    assert M.mustache(df, "o", "<{{a.b}}><{{nope}}>").first().o == "<deep><>"


def test_mustache_freeform_comments_dropped(spark):
    """mustache.js drops comments with ARBITRARY content ('{{! some note }}',
    punctuation, newlines) — not just word-character bodies."""
    df = spark.createDataFrame([("v",)], "x string")
    tpl = "a{{! some note, with punct! }}b{{!\n multi\n line }}c{{x}}"
    assert M.mustache(df, "o", tpl).first().o == "abcv"


def test_mustache_array_var_renders_js_style(spark):
    """A variable holding an array renders JS Array.toString ('1,2'), not
    Spark's '[1, 2]' — forced onto the UDF path by _dtype_ok."""
    df = spark.createDataFrame([([1, 2, 3], ["a", None, "b"])],
                               "nums array<int>, strs array<string>")
    assert M.mustache(df, "o", "{{nums}}|{{strs}}").first().o == "1,2,3|a,,b"


def test_esl_event_parse_and_bleg_correlation(spark):
    """ESL plain events (URL-encoded header values, optional body) parse to
    typed correlation fields and feed bleg_correlation end-to-end."""
    from pastash_spark.operators.correlate import bleg_correlation
    ev1 = ("Event-Name: CHANNEL_CREATE\n"
           "Unique-ID: leg-a\n"
           "variable_sip_call_id: abc%40host\n"
           "Event-Date-Timestamp: 1700000000016016\n\n")
    ev2 = ("Event-Name: CHANNEL_ANSWER\n"
           "Unique-ID: leg-b\n"
           "Other-Leg-Unique-ID: leg-a\n"
           "Event-Date-Timestamp: 1700000001000000\n\n"
           "some body text")
    df = spark.createDataFrame([(1, ev1), (2, ev2)], "seq int, message string")
    out = P.esl_event(df)
    rows = {r.seq: r for r in out.collect()}
    a, b = rows[1], rows[2]
    assert a.event_name == "CHANNEL_CREATE" and a.unique_id == "leg-a"
    assert a.sip_call_id == "abc@host"          # url-decoded
    assert str(a.event_ts).startswith("2023-11-14 22:13:20.016016")
    assert a.esl_body is None
    assert b.other_leg_unique_id == "leg-a" and b.esl_body == "some body text"
    # B-leg resolution over the parsed fields
    corr = bleg_correlation(
        out.withColumn("correlation_id", F.col("sip_call_id")))
    got = {r.unique_id: r.correlation_id for r in corr.collect()}
    assert got == {"leg-a": "abc@host", "leg-b": "abc@host"}


def _sflow_datagram(agent, samples):
    """Test-local sFlow v5 datagram builder. samples = [(rate, frame_len,
    eth_header_bytes)] — one raw-packet-header record per flow sample."""
    import struct
    body = b""
    for k, (rate, flen, hdr) in enumerate(samples):
        rec = struct.pack(">IIII", 1, flen, 4, len(hdr)) + hdr
        rec_fs = struct.pack(">II", 1, len(rec)) + rec
        s = struct.pack(">IIIIIIII", 100 + k, 9, rate, 10_000, 3, 1, 2, 1) \
            + rec_fs
        body += struct.pack(">II", 1, len(s)) + s
    return (struct.pack(">II", 5, 1) + bytes(agent)
            + struct.pack(">IIII", 7, 42, 1000, len(samples)) + body)


def _eth_ipv4_udp(src, dst, sp, dp):
    import struct
    ip = bytes([0x45, 0]) + struct.pack(">H", 28) + b"\x00" * 4 \
        + bytes([64, 17]) + b"\x00\x00" + bytes(src) + bytes(dst)
    udp = struct.pack(">HH", sp, dp) + b"\x00\x00\x00\x00"
    return b"\xaa" * 6 + b"\xbb" * 6 + b"\x08\x00" + ip + udp


def test_sflow_v5_decode(spark):
    """sFlow v5: flow samples with raw ethernet/IPv4/UDP headers dissect to
    the 5-tuple + sampling metadata; non-IPv4 frames keep NULL tuple;
    garbage datagrams drop."""
    d1 = _sflow_datagram((10, 9, 8, 7), [
        (4096, 1500, _eth_ipv4_udp((1, 2, 3, 4), (5, 6, 7, 8), 5060, 53)),
        (4096, 64, b"\xaa" * 12 + b"\x86\xdd" + b"\x00" * 30),   # ipv6 frame
    ])
    df = spark.createDataFrame([("a", d1), ("g", b"nope")],
                               "pkt string, payload binary")
    rows = sorted(P.sflow_v5(df).collect(), key=lambda r: r.frame_length)
    assert len(rows) == 2                       # garbage datagram dropped
    v6, v4 = rows
    assert v4.agent == "10.9.8.7" and v4.sampling_rate == 4096
    assert (v4.src_ip, v4.dst_ip, v4.protocol, v4.src_port, v4.dst_port) \
        == ("1.2.3.4", "5.6.7.8", 17, 5060, 53)
    assert v4.frame_length == 1500 and v4.drops == 3
    assert v6.src_ip is None and v6.protocol is None


def _nf9_packet(source_id, templates=None, data=None):
    """Test-local NetFlow v9 packet builder (RFC 3954 framing oracle).
    templates = {tid: [(type, len), ...]}; data = [(tid, [recbytes, ...])]."""
    import struct
    flowsets = b""
    for tid, fields in (templates or {}).items():
        body = struct.pack(">HH", tid, len(fields))
        for ftype, fl in fields:
            body += struct.pack(">HH", ftype, fl)
        flowsets += struct.pack(">HH", 0, 4 + len(body)) + body
    for tid, recs in (data or []):
        body = b"".join(recs)
        flowsets += struct.pack(">HH", tid, 4 + len(body)) + body
    hdr = struct.pack(">HHIIII", 9, len(templates or {}) + len(data or []),
                      1000, 1700000000, 1, source_id)
    return hdr + flowsets


_NF9_T = {300: [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1), (1, 4), (99, 2)]}


def _nf9_rec(src, dst, sp, dp, proto, nbytes, vendor):
    import struct
    return (bytes(src) + bytes(dst) + struct.pack(">H", sp)
            + struct.pack(">H", dp) + bytes([proto])
            + struct.pack(">I", nbytes) + struct.pack(">H", vendor))


def test_netflow_v9_decode_including_cross_packet_template(spark):
    """RFC 3954: packet A carries template 300 + one record; packet B (same
    source) carries TWO records with no template — resolved via the
    broadcast template pass; packet C is a different source with no
    template and must drop its records."""
    pa = _nf9_packet(7, templates=_NF9_T,
                     data=[(300, [_nf9_rec((10, 0, 0, 1), (10, 0, 0, 2),
                                           1234, 80, 6, 999, 0xBEEF)])])
    pb = _nf9_packet(7, data=[(300, [
        _nf9_rec((192, 168, 1, 9), (8, 8, 8, 8), 53, 53, 17, 100, 1),
        _nf9_rec((10, 1, 1, 1), (10, 1, 1, 2), 5060, 5060, 17, 7, 2)])])
    pc = _nf9_packet(8, data=[(300, [_nf9_rec((1, 1, 1, 1), (2, 2, 2, 2),
                                              1, 2, 6, 5, 3)])])
    df = spark.createDataFrame(
        [("a", pa), ("b", pb), ("c", pc)], "pkt string, payload binary")
    rows = {(r.pkt, r.ipv4_src_addr): r
            for r in P.netflow_v9(df).collect()}
    assert len(rows) == 3                       # packet C's record dropped
    r1 = rows[("a", "10.0.0.1")]
    assert (r1.ipv4_dst_addr, r1.l4_src_port, r1.l4_dst_port,
            r1.protocol, r1.in_bytes) == ("10.0.0.2", 1234, 80, 6, 999)
    assert r1.extras == {"99": "beef"}          # unnamed field -> hex extras
    assert r1.in_pkts is None and r1.source_id == 7
    r2 = rows[("b", "192.168.1.9")]
    assert r2.ipv4_dst_addr == "8.8.8.8" and r2.protocol == 17
    assert rows[("b", "10.1.1.1")].in_bytes == 7


def test_bencode_fields(spark):
    """Bencode decode: ints/strings/lists/dicts round-trip to canonical
    JSON; garbage -> NULL."""
    df = spark.createDataFrame(
        [("d3:agei30e4:name5:alice4:tagsl1:a1:bee",),
         ("i42e",), ("4:spam",), ("not bencode",), (None,)],
        "message string")
    got = [r.decoded for r in P.bencode_fields(df).collect()]
    assert got[0] == '{"age":30,"name":"alice","tags":["a","b"]}'
    assert got[1] == "42" and got[2] == '"spam"'
    assert got[3] is None and got[4] is None
    # and it composes with json_fields for typed access
    typed = P.json_fields(P.bencode_fields(df).filter(
        F.col("decoded").startswith("{")),
        "age int, name string", field="decoded").first()
    assert (typed.age, typed.name) == (30, "alice")


def test_sip_message_request_response_compact(spark):
    req = ("INVITE sip:bob@biloxi.com SIP/2.0\r\n"
           "Via: SIP/2.0/UDP pc33.atlanta.com;branch=z9hG4bK776\r\n"
           "To: Bob <sip:bob@biloxi.com>\r\n"
           "From: Alice <sip:alice@atlanta.com>;tag=1928301774\r\n"
           "Call-ID: a84b4c76e66710@pc33.atlanta.com\r\n"
           "CSeq: 314159 INVITE\r\n\r\n")
    resp = ("SIP/2.0 200 OK\r\n"
            "v: SIP/2.0/UDP pc33.atlanta.com\r\n"
            "t: <sip:bob@biloxi.com>;tag=a6c85cf\r\n"
            "f: <sip:alice@atlanta.com>;tag=1928301774\r\n"
            "i: a84b4c76e66710@pc33.atlanta.com\r\n"
            "CSeq: 314159 INVITE\r\n\r\n")
    df = spark.createDataFrame([(req,), (resp,), ("garbage",)],
                               "message string")
    rows = P.sip_message(df).collect()
    rq, rs, g = rows
    assert rq.sip_method == "INVITE" and rq.sip_uri == "sip:bob@biloxi.com"
    assert rq.sip_status is None
    assert rq.sip_call_id == "a84b4c76e66710@pc33.atlanta.com"
    assert rq.sip_from_tag == "1928301774" and rq.sip_to_tag is None
    assert rq.sip_cseq_num == 314159 and rq.sip_cseq_method == "INVITE"
    # response + COMPACT headers (v/t/f/i)
    assert rs.sip_method is None and rs.sip_status == 200
    assert rs.sip_reason == "OK"
    assert rs.sip_call_id == "a84b4c76e66710@pc33.atlanta.com"
    assert rs.sip_to_tag == "a6c85cf" and rs.sip_from_tag == "1928301774"
    # non-SIP payload: everything NULL (the reference drops method-less)
    assert g.sip_method is None and g.sip_call_id is None


def test_prometheus_metrics_parse(spark):
    """Exposition-format edges: label-less samples, explicit timestamps,
    TYPE comments joined back per metric, HELP/blank lines dropped."""
    lines = [
        "# HELP up Whether the target is up",
        "# TYPE up gauge",
        "up 1",
        '# TYPE http_requests_total counter',
        'http_requests_total{method="get",code="200"} 1027 1395066363000',
        'http_requests_total{method="post",code="400"} 3',
        "",
        "not a metric line !!",
    ]
    df = spark.createDataFrame([(l,) for l in lines], "message string")
    out = {(r.metric, tuple(sorted((r.labels or {}).items()))): r
           for r in P.prometheus_metrics(df).collect()}
    assert len(out) == 3
    up = out[("up", ())]
    assert up.value == 1.0 and up.metric_type == "gauge" and up.prom_ts is None
    get = out[("http_requests_total",
               (("code", "200"), ("method", "get")))]
    assert get.value == 1027.0 and get.metric_type == "counter"
    assert get.prom_ts == 1395066363000
    post = out[("http_requests_total",
                (("code", "400"), ("method", "post")))]
    assert post.value == 3.0


def test_xml_fields_schema_and_xpath(spark):
    df = spark.createDataFrame(
        [('<a><b>7</b><c>x</c><d><e>deep</e></d></a>',)], "message string")
    out = P.xml_fields(df, "b int, c string", xpaths={"e": "/a/d/e"})
    r = out.first()
    assert (r.b, r.c, r.e) == (7, "x", "deep")
    # target mode keeps the parsed struct whole
    out2 = P.xml_fields(df, "b int", target="parsed")
    assert out2.first().parsed.b == 7


def test_rfc3339_modes_roundtrip(spark):
    df = spark.createDataFrame([("2023-11-14T22:13:20.016016Z",)],
                               "t string")
    ns = P.rfc3339(df, source="t", mode=0, target="ns").first().ns
    assert ns == 1700000000016016000
    back = P.rfc3339(
        spark.createDataFrame([(ns,)], "ns long"),
        source="ns", mode=1, target="txt").first().txt
    assert back == "2023-11-14T22:13:20.016016Z"
    from_us = P.rfc3339(
        spark.createDataFrame([(ns // 1000,)], "us long"),
        source="us", mode=2, target="txt").first().txt
    assert from_us == back


def test_apply_when_gating(spark):
    df = spark.createDataFrame([("nginx", "a"), ("apache", "b")],
                               "type string, message string")
    out = M.only_type(df, "nginx", lambda d: M.add_fields(d, {"hit": "y"}))
    got = {r.type: r.hit for r in out.collect()}
    assert got == {"nginx": "y", "apache": None}


# --- enrich -----------------------------------------------------------------

def test_broadcast_lookup_left_join(spark):
    facts = spark.createDataFrame([("web",), ("unknown",)], "source string")
    dim = spark.createDataFrame([("web", "global")], "source string, region string")
    got = {r.source: r.region for r in E.broadcast_lookup(facts, dim, "source").collect()}
    assert got == {"web": "global", "unknown": None}


def test_range_lookup(spark):
    facts = spark.createDataFrame([(5,), (50,)], "v int")
    ranges = spark.createDataFrame([(0, 10, "low")],
                                   "range_start int, range_end int, label string")
    got = {r.v: r.label for r in E.range_lookup(facts, ranges, "v").collect()}
    assert got == {5: "low", 50: None}


def test_geoip_private_skip(spark):
    facts = spark.createDataFrame([("8.8.8.8",), ("192.168.0.1",)], "ip string")
    geo = spark.createDataFrame([("8.8.8.8", "US"), ("192.168.0.1", "XX")],
                                "ip string, country string")
    got = {r.ip: r.country for r in E.geoip(facts, geo).collect()}
    assert got == {"8.8.8.8": "US", "192.168.0.1": None}


def test_reverse_dns_with_injected_resolver(spark):
    df = spark.createDataFrame([("1.1.1.1",), ("9.9.9.9",)], "host string")
    out = E.reverse_dns(df, resolver={"1.1.1.1": "one.one.one.one"})
    got = {r.host: r.hostname for r in out.collect()}
    assert got == {"1.1.1.1": "one.one.one.one", "9.9.9.9": None}
    short = E.reverse_dns(df, resolver={"1.1.1.1": "one.one.one.one"},
                          only_hostname=True)
    assert {r.hostname for r in short.collect()} == {"one", None}


def test_asof_lookup_set_get(spark):
    # lru set/get: row t=2 and t=3 read the value set at t=1; t=5 reads t=4's
    df = spark.createDataFrame(
        [("k", 1, "set", "v1"), ("k", 2, "get", None), ("k", 3, "get", None),
         ("k", 4, "set", "v2"), ("k", 5, "get", None)],
        "key string, t int, action string, value string")
    out = E.asof_lookup(df, key="key", order="t", values={
        "got": F.when(F.col("action") == "set", F.col("value"))})
    got = {r.t: r.got for r in out.collect()}
    assert got == {1: "v1", 2: "v1", 3: "v1", 4: "v2", 5: "v2"}
    # a multi-column order breaks ties on t: the set at (5, 1) is seen by
    # (5, 2) but not by (5, 0)
    ties = spark.createDataFrame(
        [("k", 5, 0, None), ("k", 5, 1, "v3"), ("k", 5, 2, None)],
        "key string, t int, s int, value string").unionByName(
            df.drop("action").withColumn("s", F.lit(0)))
    out = E.asof_lookup(ties, key="key", order=["t", "s"],
                        values={"got": F.col("value")})
    got = {(r.t, r.s): r.got for r in out.collect()}
    assert got[(5, 0)] == "v2" and got[(5, 2)] == "v3"


def test_asof_lookup_targets_fill_independently(spark):
    # src and dst publish on interleaved rows: a row publishing src alone
    # keeps the earlier dst, and both targets share one Window operator
    df = spark.createDataFrame(
        [("k", 1, "a", "x"), ("k", 2, "b", None), ("k", 3, None, None),
         ("k", 4, None, "y"), ("k", 5, "c", None), ("j", 1, None, "z")],
        "key string, t int, s string, d string")
    out = E.asof_lookup(df, key="key", order="t",
                        values={"src": F.col("s"), "dst": F.col("d")})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"(?m)^\W*Window \[", plan)) == 1
    got = {(r.key, r.t): (r.src, r.dst) for r in out.collect()}
    assert got == {("k", 1): ("a", "x"), ("k", 2): ("b", "x"),
                   ("k", 3): ("b", "x"), ("k", 4): ("b", "y"),
                   ("k", 5): ("c", "y"), ("j", 1): (None, "z")}


def test_asof_join_strictly_prior_and_consume(spark):
    # sets and gets are separate frames; a get reads the latest set of its
    # key STRICTLY before it — a set sharing its order value is not yet
    # visible (the create/reply tie on one order value)
    sets = spark.createDataFrame(
        [("k", 1, "v1"), ("k", 4, "v2"), ("k", 6, "v3"), ("j", 9, "w")],
        "key string, t int, value string")
    gets = spark.createDataFrame(
        [("k", 1, "a"), ("k", 2, "b"), ("k", 3, "c"), ("k", 5, "d"),
         ("k", 6, "e"), ("j", 7, "f")],
        "key string, t int, tag string")
    out = E.asof_join(gets, sets, key="key", order="t", value="value",
                      target="got")
    assert out.columns == ["key", "t", "tag", "got"]
    got = {r.tag: r.got for r in out.collect()}
    assert got == {"a": None, "b": "v1", "c": "v1", "d": "v2", "e": "v2",
                   "f": None}
    # consume: read-then-null — only the first get after a set matches
    out = E.asof_join(gets, sets, key="key", order="t",
                      value=F.upper("value"), target="got", consume=True)
    got = {r.tag: r.got for r in out.collect()}
    assert got == {"a": None, "b": "V1", "c": None, "d": "V2", "e": None,
                   "f": None}


def _ipcache_replay(lines):
    """The reference's rtpproxy ipcache (filter_app_rtpproxy.js:55-100),
    one line at a time: a create sets ipcache[token], an alias line sets
    ipcache['port_'+port], a doreply reads the port's token, then its
    session, emits, and nulls both."""
    cache, out = {}, set()
    for no, line in lines:
        if line.startswith("received command "):
            tok, _mode, corr = line.split('"')[1].split()[:3]
            cache[tok] = corr
        elif "new session on IPv4 port " in line:
            words = line.split()
            cache["port_" + words[6]] = words[-1]
        elif "rtpc_doreply: sending reply " in line:
            port, ip = line.split('"')[1][:-2].split()
            tok = cache.pop("port_" + port, None)
            corr = cache.pop(tok, None) if tok is not None else None
            if corr is not None:
                out.add((tok, corr, port, ip, no))
    return out


def test_rtpproxy_hot_port_matches_ipcache_replay(spark):
    # one hot port: 5,000 alias publications and 5,000 doreplies alternate
    # on it, tokens drawn from a small pool, creates for about half of them
    import random
    rng = random.Random(11)
    lines = []
    for i in range(5000):
        tok = f"t{rng.randrange(50)}"
        if rng.random() < 0.5:
            lines.append(f'received command "{tok} Uc0 corr-{i} 1 2"')
        lines.append(f"rtpproxy: new session on IPv4 port 4000 created, "
                     f"tag {tok}")
        lines.append(f'rtpc_doreply: sending reply '
                     f'"4000 10.0.{i // 250}.{i % 250}\\n"')
    numbered = list(enumerate(lines, start=1))
    df = spark.createDataFrame(numbered, "line_no long, message string")
    out = C.app_rtpproxy_correlate(df).filter(F.col("method") == "create")
    got = {(r.token, r.correlation_id, r.port, r.ip, r.line_no)
           for r in out.collect()}
    want = _ipcache_replay(numbered)
    assert len(want) > 1000
    assert got == want



# the rtpproxy branch regexes verbatim (filter_app_rtpproxy.js:58-133)
_RTP_REPLAY = (
    (r'received command "(.*)\s+(US|U|L)c(.*?)\s(.*?)\s',
     ("c_token", "c_mode", "c_codecs", "c_corr")),
    (r"new session on IPv4 port\s+(.*) created.*tag\s+(.*)",
     ("a_port", "a_token")),
    (r'rtpc_doreply: sending reply "(.*)\s+([0-9.].*)\\n"',
     ("d_port", "d_ip")),
    (r'sending reply "(.*)\s+(.*?)\s(.*?)#012',
     ("r_token", "r_port", "r_ip")),
    (r"session on ports (.*)/(.*?)\sis cleaned up",
     ("x_p1", "x_p2")),
)


def _rtp_replay(line):
    """The Python matcher's line masks, then a re.ASCII search per family."""
    s = line or ""
    is_do = "rtpc_doreply: sending reply " in s
    masks = ("received command " in s, "new session on IPv4 port " in s,
             is_do, "sending reply " in s and not is_do, "is cleaned up" in s)
    out = {}
    for mask, (rx, names) in zip(masks, _RTP_REPLAY):
        m = re.search(rx, s, re.ASCII) if mask else None
        out.update(zip(names, m.groups() if m else [None] * len(names)))
    return out


def test_rtp_matcher_matches_python_re(spark):
    """rtpproxy's JVM matcher reads the same groups as a re.ASCII search
    of each verbatim family regex under the family's line mask: NULL where
    the mask is false or the regex misses, '' for an empty capture."""
    mb = 1 << 20
    lines = [
        None,
        "nothing to see here",
        'received command "no mode here"',              # mask only
        'received command " Uc   ',                     # empty captures
        'received command "tok\r1 Uc8,101 call x\u0085 y z "',
        'received command "t 1 Lc0 c\u0001d 1 2"',  # holds the SEP
        'sending reply "tok\u0001 35000 10.0.0.2#012"',
        # two families on one line
        'received command "4442_5 Uc8 call-1 1 2" session on ports '
        '35000/36000 is cleaned up',
        'rtpproxy: new session on IPv4 port 36000 created, tag 7000_1',
        'new session on IPv4 port 1\u2028 created, tag t\u2028u\rv',
        'new session on IPv4 port\u00a036000 created, tag t',  # not \s
        # doreply wins over a plain reply on the same line, and its mask
        # still keeps the plain-reply regex off when the doreply one misses
        'rtpc_doreply: sending reply "36000 10.0.0.3 x#012\\n"',
        'rtpc_doreply: sending reply "36000 x y#012"',
        'sending reply "4442_5 35000 10.0.0.2#012"',
        'session on ports 35000/36000 is cleaned up',
        'session on ports /\tis cleaned up',
        # 1 MB lines: a 1 MB token, a match after 1 MB, a mask-only miss
        'received command "' + "a" * mb + ' Uc8 corr 1 2"',
        "y" * mb + 'rtpproxy: new session on IPv4 port 1 created, tag t',
        "sending reply " + "z" * mb,
    ]
    df = spark.createDataFrame([(i, l) for i, l in enumerate(lines)],
                               "i int, message string")
    got = C._rtp_match(df, F.col("message"), "i").orderBy("i").collect()
    assert len(got) == len(lines)
    for line, row in zip(lines, got):
        want = _rtp_replay(line)
        assert row._m.asDict() == want, (line or "")[:80]
    # the cases above exercise every family, an empty capture and a miss
    seen = [_rtp_replay(l) for l in lines]
    for _, names in _RTP_REPLAY:
        assert any(r[names[0]] for r in seen), names
    assert any(v == "" for r in seen for v in r.values())


# --- correlate --------------------------------------------------------------

def test_multiline_reassembly(spark):
    df = spark.createDataFrame(
        [("h", 1, "START one"), ("h", 2, "  cont1"), ("h", 3, "  cont2"),
         ("h", 4, "START two"), ("h", 5, "  tail")],
        "host string, line_no int, message string")
    out = C.multiline(df, key=["host"], order="line_no",
                      start_line_regex="^START").orderBy("line_no").collect()
    assert [r.message for r in out] == ["START one\n  cont1\n  cont2",
                                       "START two\n  tail"]
    assert [r.n_lines for r in out] == [3, 2]


def test_sessionize_gap(spark):
    df = spark.createDataFrame(
        [("u", "2024-01-01 00:00:00"), ("u", "2024-01-01 00:10:00"),
         ("u", "2024-01-01 02:00:00")],
        "user string, ts_s string").withColumn("ts", F.to_timestamp("ts_s"))
    out = C.sessionize(df, key="user", gap_seconds=1800)
    got = sorted((r.ts_s, r.session_id) for r in out.collect())
    assert [s for _, s in got] == [1, 1, 2]


def test_forward_fill_correlation(spark):
    df = spark.createDataFrame(
        [("c1", 1, "CREATE", "corr-A"), ("c1", 2, "MEDIA", None),
         ("c1", 3, "DESTROY", None)],
        "call string, t int, ev string, corr string")
    out = C.forward_fill_correlation(df, key="call", order="t", value="corr")
    assert {r.correlation_id for r in out.collect()} == {"corr-A"}


def test_bleg_correlation(spark):
    df = spark.createDataFrame(
        [("A", None, "corr-1"), ("B", "A", None)],
        "unique_id string, other_leg_unique_id string, correlation_id string")
    out = C.bleg_correlation(df)
    got = {r.unique_id: r.correlation_id for r in out.collect()}
    assert got == {"A": "corr-1", "B": "corr-1"}


def test_cacheloop_aggregate(spark):
    df = spark.createDataFrame(
        [("k1", 1, 10.0), ("k1", 2, 20.0), ("k2", 3, 5.0)],
        "cid string, t int, metric double")
    out = C.cacheloop_aggregate(df, extract="cid", avg_fields=["metric"],
                                member_fields=["t", "metric"], order="t",
                                custom_type="agg")
    rows = {r.extract: r for r in out.collect()}
    assert rows["k1"]["count"] == 2 and rows["k1"].avg_metric == 15.0
    assert [m.t for m in rows["k1"].group] == [1, 2]
    assert rows["k2"].type == "agg"


def test_salted_aggregate_matches_plain(spark):
    df = spark.createDataFrame(
        [("a", i * 1.0) for i in range(50)] + [("b", 7.0)], "k string, v double")
    out = C.salted_aggregate(df, key="k",
                             aggs={"cnt": F.count("*"), "total": F.sum("v"),
                                   "mean": F.avg("v")})
    rows = {r.k: r for r in out.collect()}
    assert rows["a"].cnt == 50 and rows["a"].total == sum(range(50)) * 1.0
    assert rows["a"].mean == pytest.approx(24.5)
    assert rows["b"].cnt == 1 and rows["b"].mean == 7.0


# --- route ------------------------------------------------------------------

def test_route_first_match_wins_and_default(spark):
    df = spark.createDataFrame([(1,), (15,), (99,)], "v int")
    out = R.route(df, [("small", F.col("v") < 10), ("mid", F.col("v") < 50)])
    got = {r.v: r[R.ROUTE_COL] for r in out.collect()}
    assert got == {1: "small", 15: "mid", 99: R.DEFAULT_SINK}


def test_sink_counts_partition_of_input(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "v int")
    routed = R.route(df, [("even", F.col("v") % 2 == 0),
                          ("div3", F.col("v") % 3 == 0)])
    counts = {r.sink: r.rows for r in R.sink_counts(routed).collect()}
    assert sum(counts.values()) == 100
    assert counts["even"] == 50
    # div3 only gets odd multiples of 3
    assert counts["div3"] == len([v for v in range(100) if v % 2 and v % 3 == 0])


def test_fan_out_write_and_bypass(spark, tmp_path):
    df = spark.createDataFrame([(i,) for i in range(20)], "v int")
    routed = R.route(df, [("even", F.col("v") % 2 == 0)])
    sinks = R.fan_out_write(routed, str(tmp_path / "out"))
    assert sinks == [R.DEFAULT_SINK, "even"]
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 20
    per_sink = {r[R.ROUTE_COL]: r["cnt"] for r in
                back.groupBy(R.ROUTE_COL).agg(F.count("*").alias("cnt")).collect()}
    assert per_sink == {"even": 10, R.DEFAULT_SINK: 10}

    agg = C.cacheloop_aggregate(df.withColumn("k", F.lit("x")), extract="k",
                                collect=False)
    both = R.bypass_union(df, agg)
    assert both.count() == 21


def test_fan_out_write_unescapes_sink_names(spark, tmp_path):
    """Partition-dir escaping must not leak into returned sink names
    (spaces become %20 on disk), and null routes are skipped."""
    df = spark.createDataFrame([(1, "sink a"), (2, "b:c"), (3, None)],
                               "v int, _route string")
    sinks = R.fan_out_write(df, str(tmp_path / "out"), mode="overwrite")
    assert sinks == ["b:c", "sink a"]
