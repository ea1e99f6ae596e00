"""Golden cases lifted from the reference's own test suites — same inputs,
same expected outputs, re-expressed on DataFrames.  File/case names cite the
reference test they mirror (semantics only; no code copied)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pastash_spark.operators import mutate as M
from pastash_spark.operators import parse as P
from pastash_spark.operators import route as R
from pastash_spark.plans.builder import build


def msgs(spark, *lines):
    return spark.createDataFrame([(l,) for l in lines], "message string")


class TestFilterRegex202:
    """/root/reference/test/test_202_filter_regex.js"""

    def test_unicode_capture(self, spark):
        # the reference asserts regex capture works on accented text
        df = msgs(spark, "été: çava éè")
        out = P.regex_extract(df, r"^(\w+): (.*)$", fields=["saison", "rest"])
        r = out.first()
        assert r.saison == "été" and r.rest == "çava éè"

    def test_numeric_coercion_triplet(self, spark):
        # int / dot-float / comma-float, exactly regex_helper.js:37-48
        df = msgs(spark, "a=12 b=12.3 c=12,3")
        out = P.regex_extract(df, r"a=(\S+) b=(\S+) c=(\S+)",
                              fields=["a", "b", "c"],
                              numerical_fields=["a", "b", "c"]).first()
        assert (out.a, out.b, out.c) == (12.0, 12.3, 12.3)

    def test_non_numeric_declared_field_dropped(self, spark):
        df = msgs(spark, "x=abc")
        out = P.regex_extract(df, r"x=(\S+)", fields=["x"],
                              numerical_fields=["x"]).first()
        assert out.x is None

    def test_no_match_leaves_event_unchanged(self, spark):
        df = msgs(spark, "will not match").withColumn("keep", F.lit("v"))
        out = P.regex_extract(df, r"^zzz(\d+)", fields=["n"]).first()
        assert out.keep == "v" and out.n is None


class TestFilterGrok218:
    """/root/reference/test/test_218_filter_grok.js"""

    def test_failure_tag_default(self, spark):
        out = P.grok(msgs(spark, "nope"), r"%{IP:ip}").first()
        assert out.tags == ["_grokparsefailure"]

    def test_ip_and_user_extraction(self, spark):
        out = P.grok(msgs(spark, "from 10.1.2.3 user frank"),
                     r"from %{IP:ip} user %{USER:user}").first()
        assert out.ip == "10.1.2.3" and out.user == "frank"

    def test_custom_extra_pattern(self, spark):
        out = P.grok(msgs(spark, "id=ab12"), r"id=%{MYID:the_id}",
                     extra_patterns={"MYID": r"[a-z]{2}\d{2}"}).first()
        assert out.the_id == "ab12"

    def test_haproxy_golden_record(self, spark):
        """The reference's %{HAPROXYHTTP} golden case
        (test_218_filter_grok.js:38-84), field-for-field.  Numeric captures
        are declared (typed columns; the reference coerces dynamically —
        coerce.py documents the divergence)."""
        line = ('Sep 14 02:01:37 lb haproxy[11223]: 127.0.0.1:12345 '
                '[14/Sep/2014:02:01:37.452] public nginx/server1 0/0/0/5/5 '
                '200 490 - - ---- 1269/1269/0/1/0 0/0 '
                '"GET /my/path HTTP/1.1"')
        num = ["pid", "client_port", "haproxy_monthday", "haproxy_year",
               "haproxy_hour", "haproxy_minute", "haproxy_second",
               "haproxy_milliseconds", "time_request", "time_queue",
               "time_backend_connect", "time_backend_response",
               "time_duration", "http_status_code", "bytes_read", "actconn",
               "feconn", "beconn", "srvconn", "retries", "srv_queue",
               "backend_queue", "http_version"]
        r = P.grok(msgs(spark, line), "%{HAPROXYHTTP}",
                   numerical_fields=num).first()
        want_str = {
            "syslog_timestamp": "Sep 14 02:01:37", "syslog_server": "lb",
            "program": "haproxy", "client_ip": "127.0.0.1",
            "accept_date": "14/Sep/2014:02:01:37.452",
            "haproxy_month": "Sep", "haproxy_time": "02:01:37",
            "frontend_name": "public", "backend_name": "nginx",
            "server_name": "server1", "captured_request_cookie": "-",
            "captured_response_cookie": "-", "termination_state": "----",
            "http_verb": "GET", "http_request": "/my/path",
        }
        for k, v in want_str.items():
            assert getattr(r, k) == v, k
        want_num = {
            "pid": 11223, "client_port": 12345, "haproxy_monthday": 14,
            "haproxy_year": 2014, "haproxy_hour": 2, "haproxy_minute": 1,
            "haproxy_second": 37, "haproxy_milliseconds": 452,
            "time_request": 0, "time_queue": 0, "time_backend_connect": 0,
            "time_backend_response": 5, "time_duration": 5,
            "http_status_code": 200, "bytes_read": 490, "actconn": 1269,
            "feconn": 1269, "beconn": 0, "srvconn": 1, "retries": 0,
            "srv_queue": 0, "backend_queue": 0, "http_version": 1.1,
        }
        for k, v in want_num.items():
            assert getattr(r, k) == pytest.approx(v), k
        assert r.tags == []          # no _grokparsefailure

    def test_haproxy_tcp_and_badreq(self, spark):
        tcp = ('Sep 14 02:01:37 lb haproxy[123]: 10.0.0.1:555 '
               '[14/Sep/2014:02:01:37.452] fe be/srv 0/1/2 312 -- '
               '5/4/3/2/0 0/0')
        r = P.grok(msgs(spark, tcp), "%{HAPROXYTCP}").first()
        assert (r.frontend_name, r.backend_name, r.server_name) == \
            ("fe", "be", "srv")
        assert r.time_duration == "2" and r.bytes_read == "312"
        badreq = ('Sep 14 02:01:37 lb haproxy[123]: 10.0.0.1:555 '
                  '[14/Sep/2014:02:01:37.452] fe be/srv 0/0/0/5/5 400 187 '
                  '- - ---- 1/1/0/1/0 0/0 "<BADREQ>"')
        r2 = P.grok(msgs(spark, badreq), "%{HAPROXYHTTP}").first()
        assert r2.tags == [] and r2.http_verb is None

    def test_linux_syslog_line(self, spark):
        r = P.grok(msgs(spark, "Oct 11 22:14:15 host1 sshd[4123]: "
                               "Failed password for root"),
                   "%{SYSLOGLINE}").first()
        assert r.logsource == "host1" and r.program == "sshd"
        assert r.pid == "4123"
        assert r.syslog_message == "Failed password for root"

    def test_syslog5424_line(self, spark):
        r = P.grok(msgs(spark,
                        '<165>1 2024-08-13T22:14:15.003Z mymachine.example.com '
                        'evntslog 1370 ID47 - BOMAn application event'),
                   "%{SYSLOG5424LINE}").first()
        assert r.syslog5424_pri == "165" and r.syslog5424_ver == "1"
        assert r.syslog5424_host == "mymachine.example.com"
        assert r.syslog5424_app == "evntslog"
        assert r.syslog5424_proc == "1370"
        assert r.syslog5424_msg == "BOMAn application event"

    def test_java_stacktrace_part(self, spark):
        r = P.grok(msgs(spark,
                        "    at org.apache.spark.sql.Dataset.collect"
                        "(Dataset.scala:3321)"),
                   "%{JAVASTACKTRACEPART}").first()
        assert r.__getattr__("class") == "org.apache.spark.sql.Dataset"
        assert r.method == "collect"
        assert r.file == "Dataset.scala" and r.line == "3321"
        r2 = P.grok(msgs(spark, "\tat com.foo.Bar.<init>(Native Method)"),
                    "%{JAVASTACKTRACEPART}").first()
        assert r2.method == "<init>" and r2.file == "Native Method"
        assert r2.line is None

    def test_ruby_logger_line(self, spark):
        r = P.grok(msgs(spark,
                        "W, [2024-08-13T10:11:12.123456 #4123]  WARN -- "
                        "myapp: something odd"),
                   "%{RUBY_LOGGER}").first()
        assert r.pid == "4123" and r.loglevel == "WARN"
        assert r.progname == "myapp" and r.log_message == "something odd"

    def test_cisco_asa_teardown(self, spark):
        r = P.grok(msgs(spark,
                        "Teardown TCP connection 517934 for outside:"
                        "192.0.2.9/443 to inside:10.1.2.3/52041 "
                        "duration 0:01:02 bytes 4312 TCP FINs"),
                   "%{CISCOFW302013_302014_302015_302016}").first()
        assert r.action == "Teardown" and r.protocol == "TCP"
        assert r.src_ip == "192.0.2.9" and r.dst_port == "52041"
        assert r.duration == "0:01:02" and r.bytes == "4312"

    def test_junos_rt_flow_close(self, spark):
        line = ("RT_FLOW_SESSION_CLOSE: session closed TCP FIN: "
                "10.0.0.1/51000->192.0.2.7/443 junos-https "
                "172.16.0.1/51000->192.0.2.7/443 src-nat None 6 "
                "allow-web trust untrust 4087 21(1832) 18(9383) 42 .")
        r = P.grok(msgs(spark, line), "%{RT_FLOW1}").first()
        # hyphenated grok aliases sanitize to underscores (Java/Python
        # named groups forbid '-')
        assert r.event == "RT_FLOW_SESSION_CLOSE"
        assert r.src_ip == "10.0.0.1" and r.dst_ip == "192.0.2.7"
        assert r.policy_name == "allow-web" and r.session_id == "4087"
        assert r.elapsed_time == "42"

    def test_nagios_service_alert(self, spark):
        line = ("[1427925600] SERVICE ALERT: web01;http;CRITICAL;SOFT;1;"
                "Connection refused")
        r = P.grok(msgs(spark, line),
                   "%{NAGIOSTIME} %{NAGIOS_SERVICE_ALERT}").first()
        assert r.nagios_epoch == "1427925600"
        assert r.nagios_type == "SERVICE ALERT"
        assert r.nagios_hostname == "web01" and r.nagios_service == "http"
        assert r.nagios_state == "CRITICAL" and r.nagios_attempt == "1"
        assert r.nagios_message == "Connection refused"

    def test_netscreen_and_mikrotik(self, spark):
        ns = ("Oct 11 22:14:15 fw01 ns5gt: NetScreen device_id=ns5gt "
              "[Root]system-notification-00257(traffic): "
              "start_time=\"2024-10-11 22:14:00\" duration=15 policy_id=2 "
              "service=https proto=6 src zone=Trust dst zone=Untrust "
              "action=Permit sent=1024 rcvd=4096 src=10.0.0.5 dst=192.0.2.1 "
              "src_port=51000 dst_port=443 src-xlated ip=203.0.113.9 "
              "port=51000 dst-xlated ip=192.0.2.1 port=443 "
              "session_id=12345 reason=Close - TCP FIN")
        r = P.grok(msgs(spark, ns), "%{NETSCREENSESSIONLOG}").first()
        assert r.device_id == "ns5gt" and r.action == "Permit"
        assert r.src_ip == "10.0.0.5" and r.session_id == "12345"
        mk = ("gw1 forward: in:ether1 out:ether2, proto TCP (SYN), "
              "10.0.0.9:51234->192.0.2.4:80, len 60")
        r2 = P.grok(msgs(spark, mk), "%{MIKROTIKFWALL}").first()
        assert r2.srcip == "10.0.0.9" and r2.dstport == "80"
        assert r2.action == "forward" and r2.len == "60"

    def test_inline_oniguruma_named_group(self, spark):
        # grok's second capture syntax: (?<name>...) inline
        r = P.grok(msgs(spark, "took 137ms"),
                   r"took (?<duration>[0-9]+)ms").first()
        assert r.duration == "137"


class TestBuiltinRegexPatterns:
    """/root/reference/lib/patterns/{http_combined,syslog,...} via
    patterns_loader.js:14-46 name resolution."""

    APACHE = ('203.0.113.9 - frank [05/Feb/2024:10:11:12 +0000] '
              '"GET /index.html HTTP/1.1" 200 5316 '
              '"http://ref.example/" "Mozilla/5.0"')

    def test_http_combined_by_name(self, spark):
        r = P.regex_extract(msgs(spark, self.APACHE),
                            builtin="http_combined").first()
        assert r.ip == "203.0.113.9" and r.user == "frank"
        assert r.request == "GET /index.html HTTP/1.1"
        assert r.status == 200.0 and r.bytes_sent == 5316.0
        assert r.referer == "http://ref.example/"
        assert r.user_agent == "Mozilla/5.0"

    def test_http_vhost_combined_by_name(self, spark):
        r = P.regex_extract(msgs(spark, "shop.example " + self.APACHE),
                            builtin="http_vhost_combined").first()
        assert r.vhost == "shop.example" and r.ip == "203.0.113.9"

    def test_syslog_by_name(self, spark):
        r = P.regex_extract(
            msgs(spark, "<13>Oct 11 22:14:15 host1 cron[888]: job done"),
            builtin="syslog").first()
        assert r.syslog_priority == "13" and r.host == "host1"
        assert r.syslog_program == "cron" and r.syslog_pid == 888.0
        assert r.message == "job done"

    def test_syslog_no_prio_by_name(self, spark):
        r = P.regex_extract(
            msgs(spark, "Oct 11 22:14:15 host1 cron: job done"),
            builtin="syslog_no_prio").first()
        assert r.syslog_program == "cron" and r.message == "job done"
        assert r.syslog_pid is None          # empty capture -> absent

    def test_unknown_builtin_raises(self, spark):
        with pytest.raises(KeyError, match="unknown builtin regex"):
            P.regex_extract(msgs(spark, "x"), builtin="nope")

    def test_url_front_end_resolves_builtin(self, spark):
        from pastash_spark.plans.urls import parse_urls
        stages = parse_urls(["filter://regex://syslog"])["filter"]
        out = build(msgs(spark, "<13>Oct 11 22:14:15 h cron[1]: ok"), stages)
        assert out.first().syslog_program == "cron"


class TestBaseFilters200_201_213:
    """test_200_filter_add_timestamp.js / test_201_filter_add_host.js /
    test_213_filter_add_version.js — set-if-absent, never overwrite."""

    def test_add_timestamp_sets_and_preserves(self, spark):
        df = msgs(spark, "x")
        out = M.add_timestamp(df).first()
        assert out["@timestamp"] is not None
        df2 = spark.createDataFrame([("x", "2020-01-02 03:04:05")],
                                    "message string, ts string") \
            .withColumn("@timestamp", F.to_timestamp("ts")).drop("ts")
        kept = M.add_timestamp(df2).first()
        assert str(kept["@timestamp"]).startswith("2020-01-02")

    def test_add_host_sets_and_preserves(self, spark):
        out = M.add_host(msgs(spark, "x"), hostname="me").first()
        assert out.host == "me"
        df2 = spark.createDataFrame([("x", "toto")],
                                    "message string, host string")
        assert M.add_host(df2, hostname="me").first().host == "toto"

    def test_add_version_sets_and_preserves(self, spark):
        assert M.add_version(msgs(spark, "x")).first()["@version"] == "1"
        df2 = spark.createDataFrame([("x", "2")],
                                    "message string, `@version` string")
        assert M.add_version(df2).first()["@version"] == "2"


class TestMessageFiltering206:
    """/root/reference/test/test_206_message_filtering.js — only_type gates."""

    def test_only_type_applies_and_skips(self, spark):
        df = spark.createDataFrame(
            [("nginx", "hello"), ("apache", "hello")],
            "type string, message string")
        out = M.only_type(df, "nginx",
                          lambda d: M.add_fields(d, {"tagged": "yes"}))
        got = {r.type: r.tagged for r in out.collect()}
        assert got == {"nginx": "yes", "apache": None}


class TestSyslogPri209:
    """/root/reference/test/test_209_filter_syslog_pri.js — the vows truth
    table: 158 -> local3/informational, 0 -> kernel/emergency,
    191 -> local7/debug; non-numeric and out-of-range stay undecoded."""

    def test_truth_table(self, spark):
        from pastash_spark.operators import parse as P
        df = spark.createDataFrame(
            [("a",), ("158",), ("0",), ("191",), ("250",), (None,)],
            "syslog_priority string")
        out = P.syslog_pri(df, field="syslog_priority")
        got = [(r.syslog_priority, r.syslog_facility_name,
                r.syslog_severity_name) for r in out.collect()]
        assert got == [
            ("a", None, None),
            ("158", "local3", "informational"),
            ("0", "kernel", "emergency"),
            ("191", "local7", "debug"),
            ("250", None, None),          # > 191: the reference's guard
            (None, None, None),
        ]


class TestComputeDateField210:
    """/root/reference/test/test_210_compute_date_field.js — golden:
    '2012-07-31T18:02:28.123+02:00' with 'DD/MMMM/YYYY HH' renders
    '31/July/2012 16' (UTC)."""

    def test_golden_record(self, spark):
        df = spark.createDataFrame([("2012-07-31T18:02:28.123+02:00",),
                                    (None,)],
                                   "`@timestamp` string")
        out = M.compute_date_field(df, "titi", "DD/MMMM/YYYY HH")
        vals = [r.titi for r in out.collect()]
        assert vals == ["31/July/2012 16", None]


class TestSplit207Truncate219:
    """test_207_filter_split.js / test_219_filter_truncate.js vows tables:
    split drops EMPTY segments ('toto||tata|titi' -> 3 events), carries the
    other fields onto every child, supports multi-char literal delimiters;
    truncate cuts to max_size and leaves shorter values alone."""

    def test_split_truth_table(self, spark):
        from pastash_spark.operators import parse as P
        df = spark.createDataFrame(
            [("toto||tata|titi", "a"), ("tete|bouh|", "b")],
            "message string, host string")
        got = [(r.message, r.host) for r in
               P.split(df, delimiter="|").orderBy("host", "chunk_no")
               .select("message", "host").collect()]
        assert got == [("toto", "a"), ("tata", "a"), ("titi", "a"),
                       ("tete", "b"), ("bouh", "b")]
        df2 = spark.createDataFrame([("toto|()tata|()|()titi", "a", 2)],
                                    "message string, host string, z int")
        got2 = [(r.message, r.host, r.z) for r in
                P.split(df2, delimiter="|()").orderBy("chunk_no")
                .select("message", "host", "z").collect()]
        assert got2 == [("toto", "a", 2), ("tata", "a", 2), ("titi", "a", 2)]

    def test_truncate_truth_table(self, spark):
        from pastash_spark.operators import parse as P
        df = spark.createDataFrame([("toto",), ("t",)], "message string")
        assert [r.message for r in P.truncate(df, max_size=3).collect()] \
            == ["tot", "t"]


class TestGrep203Replace204:
    """test_203_filter_grep.js (incl. regex_flags=i) and
    test_204_filter_mutate_replace.js (incl. the FLOAT field becoming the
    replaced STRING '10-42')."""

    def test_grep_flags(self, spark):
        from pastash_spark.operators import parse as P
        df = spark.createDataFrame([("abcd",), ("ABcD",), ("abd5",)],
                                   "message string")
        assert [r.message for r in P.grep(df, r"\d").collect()] == ["abd5"]
        assert [r.message for r in
                P.grep(df, "abc", invert=True).collect()] == ["ABcD", "abd5"]
        assert [r.message for r in
                P.grep(df, "abc", regex_flags="i").collect()] \
            == ["abcd", "ABcD"]

    def test_mutate_replace_float_field(self, spark):
        df = spark.createDataFrame([(10.42,), (None,)], "toto double")
        got = [r.toto for r in M.gsub(df, "toto", r"\.", "-").collect()]
        assert got == ["10-42", None]


class TestHttpStatus217RemoveEqual220:
    """test_217_filter_http_status_classifier.js full boundary table
    (99/612 stay unclassified; 100..599 bucket; special_codes pass
    through) and test_220_remove_field_when_equal.js."""

    def test_status_boundaries(self, spark):
        from pastash_spark.operators import parse as P
        vals = [None, 99, 100, 200, 299, 302, 404, 499, 500, 504, 612]
        df = spark.createDataFrame([(v,) for v in vals], "http_status int")
        out = P.http_status_classifier(df, field="http_status",
                                       target="http_class")
        got = [r.http_class for r in out.collect()]
        assert got == [None, None, "1xx", "2xx", "2xx", "3xx", "4xx",
                       "4xx", "5xx", "5xx", None]
        sp = P.http_status_classifier(df, field="http_status",
                                      target="http_class",
                                      special_codes=[499, 302])
        got_sp = [r.http_class for r in sp.collect()]
        assert got_sp == [None, None, "1xx", "2xx", "2xx", "302", "4xx",
                          "499", "5xx", "5xx", None]

    def test_remove_field_when_equal(self, spark):
        df = spark.createDataFrame(
            [("a", "b"), ("b", "-"), ("c", None)],
            "message string, request_id string")
        got = [(r.message, r.request_id) for r in
               M.remove_field_when_equal(df, "request_id", "-").collect()]
        assert got == [("a", "b"), ("b", None), ("c", None)]


class TestLogstash421:
    """/root/reference/test/test_421_logstash/* config fixtures."""

    def test_if_regex_shape(self, spark):
        # fixture if_regex: if [message] =~ /abc/ { add_field } else { other }
        df = msgs(spark, "abc here", "no match")
        out = build(df, [
            {"op": "if",
             "cond": {"op": "=~", "left": {"field": "message"}, "right": "abc"},
             "then": [{"op": "add_fields", "fields": {"cls": "matched"}}],
             "else": [{"op": "add_fields", "fields": {"cls": "other"}}]},
        ])
        got = {r.message: r.cls for r in out.collect()}
        assert got == {"abc here": "matched", "no match": "other"}

    def test_else_else_if_exclusivity(self, spark):
        # fixture else_else_if: exactly one branch fires per event
        df = spark.createDataFrame(
            [("a", 1), ("b", 2), ("c", 3)], "k string, n int")
        routed = R.route(df, [
            ("first", F.col("k") == "a"),
            ("second", F.col("n") > 1),        # b and c match this too
        ], default="fallthrough")
        got = {r.k: r[R.ROUTE_COL] for r in routed.collect()}
        # first-match-wins: 'a' never reaches the second branch
        assert got == {"a": "first", "b": "second", "c": "second"}

    def test_fields_tags_combination(self, spark):
        # fixtures fields_tags_*: add_fields + add_tags together
        df = msgs(spark, "x")
        out = build(df, [
            {"op": "add_fields", "fields": {"site": "main"}},
            {"op": "add_tags", "tags": ["t1", "t2"]},
            {"op": "remove_tags", "tags": ["t1"]},
        ]).first()
        assert out.site == "main" and out.tags == ["t2"]

    def test_upper_fixture_equivalent(self, spark):
        # fixture `upper`: eval-style transformation of the message
        out = build(msgs(spark, "shout"),
                    [{"op": "eval", "target": "message",
                      "expression": "upper(message)"}]).first()
        assert out.message == "SHOUT"


class TestConditionEvaluator105:
    """/root/reference/test/test_105_condition_evaluator.js ops."""

    @pytest.mark.parametrize("op,left,right,expected", [
        ("==", "5", 5, True),          # string-compare bridges types
        ("!=", "5", "6", True),
        (">=", "10", "10", True),
        ("<", "9", "10", True),        # numeric, not lexicographic
        ("in", "b", ["a", "b"], True),
        ("not in", "z", ["a", "b"], True),
    ])
    def test_op_table(self, spark, op, left, right, expected):
        from pastash_spark.functions.conditions import compile_condition
        df = spark.createDataFrame([(left,)], "v string")
        ast = {"op": op, "left": {"field": "v"}, "right": right}
        assert df.select(compile_condition(ast).alias("c")).first().c == expected


class TestAppCdrKamailio:
    """plugins/filters/app_cdr_kamailio/filter_app_cdr_kamailio.js — lines
    with 'cdr(): ' re-emit as the parsed ;-separated k=v record, everything
    else drops; JS split('=')[1] value quirk; keys trimmed."""

    LINE = ("Jan  5 04:05:06 sbc /usr/sbin/kamailio[123]: INFO: acc [cdr.c] "
            "cdr(): call_id=abc@10.0.0.1;from_tag=ft1; to_tag=tt9;"
            "start_time=1600000000;end_time=1600000042;duration=42;"
            "weird=a=b;novalue=")

    def test_parse_and_drop(self, spark):
        from pastash_spark.operators import parse as P
        df = spark.createDataFrame(
            [(self.LINE,), ("unrelated noise line",)], "message string")
        out = P.app_cdr_kamailio(
            df, fields=("call_id", "from_tag", "to_tag", "duration",
                        "weird", "novalue", "absent"))
        rows = out.collect()
        assert len(rows) == 1               # non-cdr line dropped
        r = rows[0]
        assert r.call_id == "abc@10.0.0.1"
        assert r.from_tag == "ft1"
        assert r.to_tag == "tt9"            # ' to_tag' key trimmed
        assert r.duration == "42"
        assert r.weird == "a"               # split('=')[1]: a=b -> 'a'
        assert r.novalue == ""              # present, empty value
        assert r.absent is None             # missing key -> undefined

    def test_keep_map_last_wins(self, spark):
        from pastash_spark.operators import parse as P
        df = spark.createDataFrame(
            [("x cdr(): k=1;k=2;other=v",)], "message string")
        out = P.app_cdr_kamailio(df, fields=(), keep_map=True)
        m = out.first()["cdr"]
        assert m["k"] == "2" and m["other"] == "v"


class TestAppRtpProxy:
    """plugins/filters/app_rtpproxy/filter_app_rtpproxy.js — the ipcache
    token/port correlation: command -> create, reply completes + consumes,
    cleanup emits the delete clone."""

    def _lines(self):
        return [
            'received command "4442_5 Uc8,101 call-1@10.0.0.1 14858 15694"',
            'sending reply "4442_5 35000 10.0.0.2#012"',
            'received command "7000_1 Lc0 call-2@10.0.0.9 1 2"',
            'rtpproxy: new session on IPv4 port 36000 created, tag 7000_1',
            'rtpc_doreply: sending reply "36000 10.0.0.3\\n"',
            'session on ports 35000/36000 is cleaned up',
        ]

    def _run(self, spark):
        from pastash_spark.operators import correlate as C
        rows = [(i + 1, l) for i, l in enumerate(self._lines())]
        df = spark.createDataFrame(rows, "line_no long, message string")
        return C.app_rtpproxy_correlate(df).collect()

    def test_create_emissions(self, spark):
        got = {(r.method, r.token): r for r in self._run(spark)}
        c1 = got[("create", "4442_5")]
        # token-keyed reply branch (:102-115): RTPmap 8 -> PCMA, U -> 0
        assert c1.correlation_id == "call-1@10.0.0.1"
        assert (c1.codec_name, c1.codec_pt, c1.codec_rate) == ("PCMA", 8, 8000)
        assert c1.direction == 0
        assert (c1.port, c1.ip) == ("35000", "10.0.0.2")
        c2 = got[("create", "7000_1")]
        # port-aliased rtpc_doreply branch (:80-100): PCMU, L -> 1
        assert c2.correlation_id == "call-2@10.0.0.9"
        assert (c2.codec_name, c2.codec_pt) == ("PCMU", 0)
        assert c2.direction == 1
        assert (c2.port, c2.ip) == ("36000", "10.0.0.3")

    def test_delete_clones_and_consumption(self, spark):
        rows = self._run(spark)
        dels = {r.token: r for r in rows if r.method == "delete"}
        assert set(dels) == {"4442_5", "7000_1"}  # both ports cleaned
        assert dels["4442_5"].correlation_id == "call-1@10.0.0.1"
        # a second reply for a consumed token emits nothing
        from pastash_spark.operators import correlate as C
        extra = self._lines() + ['sending reply "4442_5 39999 10.9.9.9#012"']
        df = spark.createDataFrame(
            [(i + 1, l) for i, l in enumerate(extra)],
            "line_no long, message string")
        out = C.app_rtpproxy_correlate(df).collect()
        creates_4442 = [r for r in out
                        if r.method == "create" and r.token == "4442_5"]
        assert len(creates_4442) == 1 and creates_4442[0].port == "35000"

    def test_doreply_consumes_alias(self, spark):
        # the reference nulls ipcache['port_'+port] after a doreply emits
        # (:100) — a SECOND doreply on the same port without a fresh alias
        # publication must not resolve through the stale alias, even if a
        # new create for the token arrives in between
        from pastash_spark.operators import correlate as C
        lines = self._lines() + [
            'received command "7000_1 Lc0 call-3@10.0.0.9 1 2"',
            'rtpc_doreply: sending reply "36000 10.0.0.4\\n"',
        ]
        df = spark.createDataFrame(
            [(i + 1, l) for i, l in enumerate(lines)],
            "line_no long, message string")
        out = C.app_rtpproxy_correlate(df).collect()
        c_7000 = [r for r in out
                  if r.method == "create" and r.token == "7000_1"]
        assert len(c_7000) == 1 and c_7000[0].ip == "10.0.0.3"


class TestAppJanusSip:
    """plugins/filters/app_janus_sip/filter_app_janus_sip.js — websocket/
    session cache dims + sip-in/sip-out addressing."""

    SIP = ("INVITE sip:x SIP/2.0\r\n"
           "Via: SIP/2.0/UDP 10.0.0.5:5071;rport=5072\r\n"
           "Call-ID: jsip-1\r\n\r\n")

    def _run(self, spark, rows):
        from pastash_spark.operators import correlate as C
        df = spark.createDataFrame(
            rows, "event_id long, ts_us long, type int, session_id string, "
                  "ws_id string, ws_event string, ws_ip string, sip string")
        return C.app_janus_sip_correlate(df).collect()

    def test_cached_session_addressing(self, spark):
        rows = [
            (1, 1000000, 128, None, "w1", "connected", "9.9.9.9", None),
            (2, 2000000, 1, "s1", "w1", None, None, None),
            (3, 3500000, 2, "s1", None, "sip-out", None, self.SIP),
            (4, 4000000, 2, "s1", None, "sip-in", None, self.SIP),
        ]
        got = {r.event_id: r for r in self._run(spark, rows)}
        out = got[3]
        # sip-out (:115-128): src = cached ws ip, port 5050 fallback
        assert (out.src_ip, out.src_port) == ("9.9.9.9", 5050)
        assert (out.dst_ip, out.dst_port) == ("10.0.0.5", 5071)
        assert out.correlation_id == "jsip-1"
        assert (out.ts_sec, out.ts_usec) == (3, 500)
        inn = got[4]
        # sip-in (:129-147): src = Via, dst = session ip + Via rport
        assert (inn.src_ip, inn.src_port) == ("10.0.0.5", 5071)
        assert (inn.dst_ip, inn.dst_port) == ("9.9.9.9", 5072)

    def test_cache_miss_infers_from_via(self, spark):
        rows = [(1, 1000000, 2, "s9", None, "sip-out", None, self.SIP)]
        r = self._run(spark, rows)[0]
        # no session entry: ip AND port inferred from the first Via (:97)
        assert (r.src_ip, r.src_port) == ("10.0.0.5", 5071)


class TestAppGenesys:
    """plugins/filters/app_genesys/filter_app_genesys.js — CID:CUUID
    pairing + Received/Sending addressing + log CallUUID rows."""

    RCV = ("12:00:01 SIPTR: Received [0,UDP] 300 bytes from 10.0.0.7:5060 \n"
           "INVITE sip:x SIP/2.0\r\n"
           "Contact: <sip:a@10.0.0.9:5080>\r\n"
           "Call-ID: gen-1@10.0.0.9\r\n\r\n")
    SND = ("12:00:02 SIPSR: Sending  [0,TCP] 280 bytes to 10.0.0.7:5060 \n"
           "SIP/2.0 200 OK\r\n"
           "Contact: <sip:a@10.0.0.9:5080>\r\n"
           "Call-ID: gen-1@10.0.0.9\r\n\r\n")

    def _run(self, spark, lines):
        from pastash_spark.operators import correlate as C
        df = spark.createDataFrame(
            [(i + 1, l) for i, l in enumerate(lines)],
            "line_no long, message string")
        return C.app_genesys_correlate(df).collect()

    def test_received_and_sending_addressing(self, spark):
        got = {r.line_no: r for r in self._run(spark, [self.RCV, self.SND])}
        r = got[1]
        # Received (:88-95): src = remote, dst = local (callid @host +
        # first host:port> match); no pairing -> correlation = Call-ID
        assert (r.src_ip, r.src_port) == ("10.0.0.7", 5060)
        assert (r.dst_ip, r.dst_port) == ("10.0.0.9", 5080)
        assert r.protocol == 17 and r.proto_type == 1
        assert r.correlation_id == "gen-1@10.0.0.9"
        # JS .replace('\n','\r\n') on an already-CRLF body doubles the
        # first \r — faithful quirk
        assert r.payload.startswith("INVITE sip:x SIP/2.0\r\r\n")
        s = got[2]
        assert (s.src_ip, s.src_port) == ("10.0.0.9", 5080)
        assert (s.dst_ip, s.dst_port) == ("10.0.0.7", 5060)
        assert s.protocol == 6                      # TCP head

    def test_cuuid_pairing_and_log_rows(self, spark):
        pub = "x CID:CUUID>gen-1@10.0.0.9:UUID-42"
        log = "event: message\nAttributeThisDN\tCallUUID\t'UUID-42'\nmore"
        got = self._run(spark, [pub, self.RCV, log])
        sip = [r for r in got if r.proto_type == 1][0]
        # published uuid wins over the Call-ID (:119-122)
        assert sip.correlation_id == "UUID-42"
        logs = [r for r in got if r.proto_type == 100]
        assert len(logs) == 1 and logs[0].correlation_id == "UUID-42"
        assert logs[0].src_ip == "127.0.0.1" and logs[0].protocol == 17


class TestAppAvaya:
    """plugins/filters/app_avaya/filter_app_avaya.js — SIPMSGT block
    buffer/release with continuation append."""

    def _block(self, n, sip="INVITE sip:x SIP/2.0#015#012"
                            "Call-ID: av-1#015#012"):
        return ("tracer SIPMSGT #012--------------------#012"
                f"01/02/2023 10:20:30.500#012hdr#012"
                f"L10.0.0.1:5060/R10.0.0.{n}:5062/UDP/#012" + sip)

    def _run(self, spark, lines, **kw):
        from pastash_spark.operators import correlate as C
        df = spark.createDataFrame(
            [(i + 1, l) for i, l in enumerate(lines)],
            "line_no long, message string")
        # key=(): the reference's one-agent global stream, explicitly
        # (r06: scale-safe per-device default requires an opt-in here)
        kw.setdefault("key", ())
        return C.app_avaya_correlate(df, **kw).collect()

    def test_block_release_and_datagram(self, spark):
        rows = self._run(spark, [self._block(7), self._block(8)],
                         correlation_hdr="Call-ID")
        # block 1 emits at block 2's arrival; the trigger is consumed
        assert len(rows) == 1
        r = rows[0]
        assert (r.src_ip, r.src_port) == ("10.0.0.7", 5062)  # R side (:72)
        assert (r.dst_ip, r.dst_port) == ("10.0.0.1", 5060)  # L fallback
        assert r.protocol == 17
        assert r.payload.startswith("INVITE sip:x SIP/2.0\r\n")
        assert r.correlation_id == "av-1"
        assert r.ts_sec == 1675246830 and r.ts_usec == 500000

    def test_continuation_appends_to_held_block(self, spark):
        cont = "tracer SIPMSGT+ #015#012more-header: 1"
        rows = self._run(spark, [self._block(7), cont, self._block(8)])
        assert len(rows) == 1
        assert "more-header: 1" in rows[0].payload

    def test_alternating_emission(self, spark):
        rows = self._run(spark, [self._block(n) for n in range(1, 5)])
        # 4 blocks -> blocks 1 and 3 emit (odd ranks with a later release)
        assert sorted(r.src_ip for r in rows) == ["10.0.0.1", "10.0.0.3"]


class TestSmallAppPacks:
    """app_cdr_opensips / app_sesm / app_summa / app_sonus_monitor —
    stateless per-line packs."""

    def test_opensips_cdr(self, spark):
        from pastash_spark.operators import parse as P
        df = spark.createDataFrame(
            [("ACC: call ended: a=1;b=x y;dup=1;dup=2",), ("other",)],
            "message string")
        rows = P.app_cdr_opensips(df).collect()
        assert len(rows) == 1
        cdr = rows[0].cdr
        assert cdr["a"] == "1" and cdr["b"] == "x y"
        assert cdr["dup"] == "2"          # sequential overwrite like JS

    def test_sesm_influx_line(self, spark):
        from pastash_spark.operators import parse as P
        line = "2020-01-02,03:04:05,sysA,typeB,metricC,k1,7,k2,9"
        df = spark.createDataFrame([(line,)], "message string")
        out = P.app_sesm(df).first().message
        assert out.startswith("metricC,system=sysA,type=typeB k1=7,k2=9 ")
        assert out.endswith("000000")
        ts = int(out.rsplit(" ", 1)[1]) // 1_000_000
        assert ts == 1577934245000        # epoch ms of 2020-01-02T03:04:05Z

    def test_summa_correlation_coalesce(self, spark):
        from pastash_spark.operators import parse as P
        import json
        a = json.dumps({"source": {"host": "10.0.0.1:100",
                                   "session_id": "sess-s"},
                        "destination": {"host": "10.0.0.2:200"},
                        "content": {"sip-call-id": "cid-a"}})
        b = json.dumps({"source": {}, "destination": {},
                        "origin": {"session_id": "orig-b"}})
        c = json.dumps({"source": {}, "destination": {}})  # no cid: drops
        df = spark.createDataFrame([(a,), (b,), (c,)], "message string")
        rows = P.app_summa(df).collect()
        assert len(rows) == 2
        got = {r.correlation_id: r for r in rows}
        assert got["cid-a"].src_ip == "10.0.0.1"
        assert got["cid-a"].src_port == 100
        assert got["cid-a"].dst_port == 200
        assert got["cid-a"].proto_type == 100 and got["cid-a"].protocol == 6
        assert "orig-b" in got                # origin wins over source
        assert got["orig-b"].src_ip == "10.0.0.1"  # default host (:39)

    def test_sonus_monitor_headers(self, spark):
        from pastash_spark.operators import parse as P
        pay = ("srcIp: 10.0.0.5:5060\ndstIp: 10.0.0.9:5061\n"
               "Timestamp=1700000000.250\nINVITE sip 2.0/TLS\r\n"
               "Call-ID: sm-1\r\n")
        df = spark.createDataFrame([(pay,), ("empty",)], "payload string")
        rows = P.app_sonus_monitor(df, correlation_hdr="Call-ID").collect()
        got = rows[0]
        assert (got.src_ip, got.src_port) == ("10.0.0.5", 5060)
        assert (got.dst_ip, got.dst_port) == ("10.0.0.9", 5061)
        assert (got.ts_sec, got.ts_usec) == (1700000000, 250)
        assert got.protocol == 6              # 2.0/TLS flip (:71-73)
        assert got.correlation_id == "sm-1"
        dflt = rows[1]
        assert (dflt.src_ip, dflt.src_port) == ("127.0.0.1", 5061)
        assert dflt.protocol == 17


class TestAppIngate:
    """plugins/filters/app_ingate/filter_app_ingate.js — egress/ingress
    ipcache forward-fill + indented SIP block reassembly (the readme
    family's SIParator recipe)."""

    BLOCK = ("\n".join([
        "<134>May 27 02:52:53 netlogger:              SIP/2.0 200 OK",
        "<134>May 27 02:52:53 netlogger:              Via: SIP/2.0/TLS "
        "1.1.1.1:6005",
        "<134>May 27 02:52:53 netlogger:              Call-ID: ing-77",
        "<134>May 27 02:52:53 netlogger:",
        "<134>May 27 02:52:53 netlogger:              v=0",
        "<134>May 27 02:52:53 netlogger: Info: sipfw: other log noise",
        "<134>May 27 02:52:53 netlogger:              NEVER REACHED",
    ]))

    def _run(self, spark, lines):
        from pastash_spark.operators import correlate as C
        df = spark.createDataFrame(
            [(i + 1, l) for i, l in enumerate(lines)],
            "line_no long, message string")
        # key=(): explicit one-agent global-stream opt-in (see TestAppAvaya)
        return C.app_ingate_correlate(df, key=()).collect()

    def test_egress_addressing_and_block(self, spark):
        rows = self._run(spark, [
            "Info: sipfw: send sf (0x1381b50) to 4.8.12.4:5061 via "
            "1.1.1.1:6005 TLS connection 2:",
            self.BLOCK,
        ])
        assert len(rows) == 1
        r = rows[0]
        # egress (:67-74): src = via, dst = to; TLS -> protocol 6
        assert (r.src_ip, r.src_port) == ("1.1.1.1", 6005)
        assert (r.dst_ip, r.dst_port) == ("4.8.12.4", 5061)
        assert r.protocol == 6 and r.proto_type == 1
        # block assembly (:135-160): 14-space capture + blank SDP line +
        # sipfw bailout past line 3
        assert r.payload.startswith("SIP/2.0 200 OK\r\n")
        assert "\r\n\r\nv=0\r\n" in r.payload
        assert "NEVER REACHED" not in r.payload
        assert r.correlation_id == "ing-77"

    def test_ingress_addressing_udp(self, spark):
        rows = self._run(spark, [
            "Info: sipfw: recv from 4.8.12.4:5061 via 8.8.8.8:6005 UDP "
            "connection 3:",
            self.BLOCK,
        ])
        r = rows[0]
        # ingress (:92-99): src = from, dst = via; UDP -> 17
        assert (r.src_ip, r.src_port) == ("4.8.12.4", 5061)
        assert (r.dst_ip, r.dst_port) == ("8.8.8.8", 6005)
        assert r.protocol == 17


class TestAppCisco:
    """plugins/filters/app_cisco/filter_app_cisco.js — ccsipDisplayMsg
    block -> SIP/HEP with direction-resolved addressing."""

    def _block(self, direction, extra=""):
        return "\n".join([
            "Jul 12 16:59:53.123: //1234//SIP/Msg/ccsipDisplayMsg:",
            direction + ":",
            "INVITE sip:bob@10.0.0.9:5060 SIP/2.0",
            'From: "a" <sip:alice@10.0.0.5>;tag=1',
            "To: <sip:bob@10.0.0.9>",
            "Call-ID: cid-cisco-1"]) + extra

    def _run(self, spark, blocks):
        from pastash_spark.operators import correlate as C
        df = spark.createDataFrame(
            [(i + 1, "r1", b) for i, b in enumerate(blocks)],
            "line_no long, host string, message string")
        return C.app_cisco_correlate(df).collect()

    def test_sent_direction_and_payload(self, spark):
        r = self._run(spark, [self._block("Sent")])[0]
        # Sent (:123-135): src = device, dst = the From host (!= device)
        assert r.src_ip == "r1" and r.dst_ip == "10.0.0.5"
        assert r.correlation_id == "cid-cisco-1"
        # header line stripped (:157), CRLF terminator added
        assert r.payload.startswith("INVITE sip:bob@10.0.0.9:5060 SIP/2.0")
        assert r.payload.endswith("\r\n")
        # timestamp: sec + moment-style msec*1000 usec (:149-156)
        assert r.ts_usec == 123000

    def test_received_direction_and_xcid_wins(self, spark):
        r = self._run(spark,
                      [self._block("Received", "\nx-cid: xcid-9")])[0]
        assert r.dst_ip == "r1" and r.src_ip == "10.0.0.5"
        # x-cid overrides Call-ID (:101-106)
        assert r.correlation_id == "xcid-9"


class TestAppHsp:
    """plugins/filters/app_hsp/filter_app_hsp.js — HSP bencode CDR decode
    with derived fields + the qrelate scored-correlation vectors."""

    @staticmethod
    def _benc(d):
        def enc(v):
            if isinstance(v, int):
                return f"i{v}e"
            if isinstance(v, float):
                return f"i{v}e"
            s = str(v)
            return f"{len(s)}:{s}"
        body = "".join(enc(k) + enc(v) for k, v in d.items())
        return "d" + body + "e"

    def _cdr_line(self, d):
        return "cdr" + self._benc(d)[1:-1]

    def test_cdr_decode_and_derived_fields(self, spark):
        from pastash_spark.operators import hsp as H
        line = self._cdr_line({
            "callid": "X1", "cdr_connect": 1000, "cdr_stop": 61000,
            "status": 5, "source_ip": "10.0.0.5",
            "geo_lat": "52.1", "geo_lan": "4.3"})
        df = spark.createDataFrame([(1, line), (2, "not hsp at all")],
                                   "line_no long, message string")
        groups = [{"name": "nl-core", "active": True,
                   "ipbegin": 167772160, "ipend": 167772260},  # 10.0.0.x
                  {"name": "inactive", "active": False, "ip": "10.0.0.5"}]
        out = {r.line_no: r for r in
               H.app_hsp_cdr(df, ip_groups=groups).collect()}
        r = out[1]
        assert r.cdr["callid"] == "X1"
        # duration = int(stop/1000 - connect/1000) (:160)
        assert r.duration == 60
        assert r.status_text == "CONNECTED"         # callStatus[5] (:124)
        assert r.geopoint == "52.1,4.3"
        assert r.group == "nl-core"                 # int-range match (:178)
        assert out[2].cdr is None and out[2].group == "default"

    def test_float_aware_bencode_and_omit(self, spark):
        from pastash_spark.operators import hsp as H
        from pastash_spark.operators.parse import bencode_decode_py
        assert bencode_decode_py(b"d3:mosi3.5ee") == {"mos": 3.5}
        line = self._cdr_line({"callid": "Z", "secret": "x", "mos": 4.1})
        df = spark.createDataFrame([(1, line)],
                                   "line_no long, message string")
        r = H.app_hsp_cdr(df, omit=("secret",)).first()
        assert "secret" not in r.cdr and r.cdr["mos"] == "4.1"

    def test_scored_correlation_vectors(self, spark):
        from pastash_spark.operators import hsp as H
        rows = [
            # b2b pair: leg2's callid = leg1's + '_b2b-1' (vector suffix)
            (1, "X", None, None, None),
            (2, "X_b2b-1", None, None, None),
            # x-cid folds into the callid namespace (score 100)
            (3, "Y", None, None, None),
            (4, "other-id", "Y", None, None),
            # ruri_user alone scores 50 < threshold 100 -> unlinked
            (5, "A", None, "0031612345678", None),
            (6, "B", None, "0031612345678", None),
            # ruri_user gate: national numbers never participate
            (7, "C", None, "0612345678", None),
            (8, "D", None, "0612345678", None),
        ]
        df = spark.createDataFrame(
            rows, "line_no long, callid string, `x-cid` string, "
                  "ruri_user string, from_user string")
        out = {r.line_no: r for r in
               H.scored_correlation(df, order="line_no").collect()}
        assert out[2].hsp_correlation == "X" and out[2].hsp_score == 100
        assert out[4].hsp_correlation == "Y"
        assert out[1].hsp_correlation is None      # earliest has no prior
        assert out[6].hsp_correlation is None and out[6].hsp_score == 0
        assert out[8].hsp_correlation is None

    def test_scored_correlation_sums_namespaces(self, spark):
        from pastash_spark.operators import hsp as H
        rows = [(1, None, "0031612345678", "0031698765432"),
                (2, None, "0031612345678", "0031698765432")]
        df = spark.createDataFrame(
            rows, "line_no long, callid string, ruri_user string, "
                  "from_user string")
        out = {r.line_no: r for r in
               H.scored_correlation(df, order="line_no").collect()}
        # two 50-point namespaces sum to the 100 threshold (:22-30)
        assert out[2].hsp_score == 100

    def test_scored_correlation_counts_its_cap(self, spark):
        """The max_bucket cap keeps each handle bucket's earliest rows and
        counts what it truncates: 10 records share callid X, so both X
        buckets (X and the derived X_b2b-1) keep 4 rows and drop 6."""
        from pastash_spark.operators import dataset as D
        from pastash_spark.operators import hsp as H
        rows = [(i, "X") for i in range(1, 11)] + [(11, "Y"), (12, "Y")]
        df = spark.createDataFrame(rows, "line_no long, callid string")
        out = {r.line_no: r for r in H.scored_correlation(
            df, order="line_no", max_bucket=4).collect()}
        assert [out[i].hsp_correlation for i in range(1, 13)] == (
            [None, "X", "X", "X"] + [None] * 6 + [None, "Y"])
        counts = {"dropped_rows": 12, "dropped_groups": 2, "total_groups": 4}
        assert D.cap_drop_stats("hsp_max_bucket") == counts
        assert D.cap_drop_report()["hsp_max_bucket"] == counts


class TestJanusTraceSpans:
    """filter_app_janus_tracer.js:174-919 / filter_app_janus_uptrace.js:
    140-420 — the span-assembly kernel: open/close pairing per session,
    real durations, deterministic trace/span ids, point-span parents."""

    def _spans(self, spark, rows):
        from pastash_spark.operators import correlate as C
        df = spark.createDataFrame(
            rows, "ord long, ts_us long, session_id string, type int, "
                  "subtype int, event_name string, jsep_type string, "
                  "jsep_owner string, ice_state string, dtls_state string, "
                  "data_event string, emitter string")
        return C.janus_trace_spans(df, order="ord", ts="ts_us").collect()

    @staticmethod
    def _ev(ord_, ts, sess, type_, sub=0, name=None, jt=None, jo=None,
            ice=None, dtls=None, dev=None, em=None):
        return (ord_, ts, sess, type_, sub, name, jt, jo, ice, dtls,
                dev, em)

    def test_session_pairing_ids_and_duration(self, spark):
        import hashlib
        rows = [
            self._ev(1, 100, "s1", 1, name="created"),
            self._ev(2, 150, "s1", 4),
            self._ev(3, 900, "s1", 1, name="destroyed"),
        ]
        got = {r.name: r for r in self._spans(spark, rows)}
        tid = hashlib.md5(b"s1").hexdigest()
        root = tid[:16]
        sess = got["Session"]
        # uptrace :153-173: created opens, destroyed closes -> duration
        assert sess.span_id == root and sess.parent_span_id is None
        assert (sess.start_us, sess.end_us, sess.duration_us) == (100, 900,
                                                                  800)
        assert sess.trace_id == tid
        dest = got["Session destroyed"]
        assert dest.parent_span_id == root and dest.duration_us == 0
        ext = got["External Event"]
        assert ext.service == "External" and ext.parent_span_id == root

    def test_handle_jsep_ice_families(self, spark):
        rows = [
            self._ev(1, 10, "s2", 1, name="created"),
            self._ev(2, 20, "s2", 2, name="attached"),
            self._ev(3, 30, "s2", 8, jt="offer"),
            self._ev(4, 40, "s2", 16, sub=1, ice="gathering"),
            self._ev(5, 45, "s2", 16, sub=1, ice="connecting"),
            self._ev(6, 50, "s2", 16, sub=2),          # local candidate
            self._ev(7, 55, "s2", 16, sub=5, dtls="connected"),
            self._ev(8, 60, "s2", 16, sub=1, ice="ready"),
            self._ev(9, 70, "s2", 8, jo="local"),
            self._ev(10, 80, "s2", 2, name="detached"),
        ]
        got = {r.name: r for r in self._spans(spark, rows)}
        ice = got["ICE gathering"]
        assert (ice.start_us, ice.end_us, ice.duration_us) == (40, 60, 20)
        # all ICE children parent to the open gathering span (:447-566)
        for child in ("ICE connecting", "Local Candidate",
                      "DTLS connected", "ICE ready"):
            assert got[child].parent_span_id == ice.span_id, child
        sdp = got["JSEP Event - Offer"]
        assert (sdp.start_us, sdp.end_us) == (30, 70)
        assert got["JSEP Event - Answer"].parent_span_id == sdp.span_id
        att = got["Handle attached"]
        assert (att.start_us, att.end_us, att.duration_us) == (20, 80, 60)
        assert got["Handle detached"].parent_span_id == att.span_id
        # non-root spans all parent to the Session root unless family-held
        import hashlib
        root = hashlib.md5(b"s2").hexdigest()[:16]
        assert ice.parent_span_id == root
        assert sdp.parent_span_id == root

    def test_unclosed_open_never_exports_and_stale_pairing(self, spark):
        rows = [
            self._ev(1, 10, "s3", 2, name="attached"),
            self._ev(2, 20, "s3", 2, name="detached"),
            self._ev(3, 30, "s3", 2, name="detached"),   # stale re-pair
            self._ev(4, 40, "s3", 8, jt="offer"),        # never answered
        ]
        spans = self._spans(spark, rows)
        names = [r.name for r in spans]
        # the lru keeps att_* after a close (uptrace never deletes it):
        # a second detach pairs with the SAME stale attach
        atts = [r for r in spans if r.name == "Handle attached"]
        assert len(atts) == 2
        assert {(a.start_us, a.end_us) for a in atts} == {(10, 20), (10, 30)}
        # an open that never closes is never exported
        assert "JSEP Event - Offer" not in names

    def test_sessionless_types_key_on_emitter(self, spark):
        rows = [
            self._ev(1, 10, None, 128, em="janus-a"),
            self._ev(2, 20, None, 256, sub=1, em="janus-a"),
            self._ev(3, 30, None, 256, sub=2, em="janus-a"),
        ]
        got = {r.name: r for r in self._spans(spark, rows)}
        import hashlib
        tid = hashlib.md5(b"em:janus-a").hexdigest()
        assert got["Transport connected"].trace_id == tid
        assert got["Transport connected"].service == "Transport Originated"
        assert got["Startup"].service == "Core"
        assert got["Shutdown"].trace_id == tid

    def test_session_id_keeps_input_type(self, spark):
        """A bigint session_id comes back as bigint, with the same spans
        (trace ids hash the session's string form either way)."""
        from pyspark.sql import functions as F
        from pastash_spark.operators import correlate as C
        rows = [self._ev(1, 10, "7", 1, name="created"),
                self._ev(2, 20, "7", 2, name="attached"),
                self._ev(3, 50, "7", 2, name="detached"),
                self._ev(4, 90, "7", 1, name="destroyed")]
        df = spark.createDataFrame(
            rows, "ord long, ts_us long, session_id string, type int, "
                  "subtype int, event_name string, jsep_type string, "
                  "jsep_owner string, ice_state string, dtls_state string, "
                  "data_event string, emitter string")
        as_long = df.withColumn("session_id", F.col("session_id")
                                .cast("bigint"))
        out = C.janus_trace_spans(as_long, order="ord", ts="ts_us")
        assert out.schema["session_id"].dataType.simpleString() == "bigint"
        def key(r):
            return r["ord"], r["span_id"]
        got = sorted((r.asDict() for r in out.collect()), key=key)
        want = sorted((r.asDict() for r in self._spans(spark, rows)),
                      key=key)
        assert got and {r["session_id"] for r in got} == {7}
        assert got == [dict(r, session_id=7) for r in want]

    def test_type_filter(self, spark):
        rows = [
            self._ev(1, 10, "s4", 4),
            self._ev(2, 20, "s4", 64, dev="joined"),
        ]
        from pastash_spark.operators import correlate as C
        df = spark.createDataFrame(
            rows, "ord long, ts_us long, session_id string, type int, "
                  "subtype int, event_name string, jsep_type string, "
                  "jsep_owner string, ice_state string, dtls_state string, "
                  "data_event string, emitter string")
        out = C.janus_trace_spans(df, order="ord", ts="ts_us",
                                  types=[4]).collect()
        assert [r.name for r in out] == ["External Event"]
        out2 = self._spans(spark, rows)
        assert {r.name for r in out2} == {"External Event", "User joined"}
        joined = [r for r in out2 if r.name == "User joined"][0]
        assert joined.service == "Plugin"


class TestAppAudiocodes:
    """plugins/filters/app_audiocodes/filter_app_audiocodes.js (default
    version 7.20A.260.012): SIP extraction + direction, #012 payload
    restore, Call-ID/SID correlation, seq+1 reassembly, MEDIA_END QoS
    legs."""

    IN_LINE = ("[S=5] [SID=ac1:12:777] ---- Incoming SIP Message from "
               "10.0.0.5:5060 to SIPInterface #0 (SIPGRP) UDP TO(#1) ---"
               "#012INVITE sip:bob@x.com SIP/2.0#012Call-ID: cid-77#012"
               "CSeq: 1 INVITE#012 #012 [Time:04-05@123]")
    OUT_LINE = ("[S=6] [SID=ac1:12:777] ---- Outgoing SIP Message to "
                "10.0.0.9:5061 from SIPInterface #0 (SIPGRP) TCP TO(#1) ---"
                "#012SIP/2.0 200 OK sip 2.0/TCP#012Call-ID: cid-77#012"
                "#012 x [Time:04-05@124]")

    def _run(self, spark, lines, **kw):
        from pastash_spark.operators import correlate as C
        df = spark.createDataFrame(
            [(i + 1, l) for i, l in enumerate(lines)],
            "line_no long, message string")
        return C.app_audiocodes_correlate(df, **kw).collect()

    def test_incoming_outgoing_direction_and_payload(self, spark):
        rows = self._run(spark, [self.IN_LINE, self.OUT_LINE],
                         localip="1.1.1.1", localport=5060)
        by_ord = {r.line_no: r for r in rows}
        rin = by_ord[1]
        assert rin.proto_type == 1
        assert rin.payload.startswith("INVITE sip:bob@x.com SIP/2.0\r\n")
        assert rin.payload.endswith("\r\n\r\n")
        assert "Call-ID: cid-77" in rin.payload
        assert rin.correlation_id == "cid-77"
        # Incoming: remote is the source, local the destination (:265-268)
        assert (rin.src_ip, rin.src_port) == ("10.0.0.5", 5060)
        assert (rin.dst_ip, rin.dst_port) == ("1.1.1.1", 5060)
        assert rin.protocol == 17
        rout = by_ord[2]
        # Outgoing: local is the source; 2.0/TCP flips protocol -> 6 (:96)
        assert (rout.src_ip, rout.dst_ip) == ("1.1.1.1", "10.0.0.9")
        assert rout.dst_port == 5061
        assert rout.protocol == 6

    def test_seq_reassembly(self, spark):
        frag = ("[S=7] [SID=ac1:12:888] ---- Incoming SIP Message from "
                "10.0.0.5:5060 to SIPInterface #0 (SIPGRP) UDP TO(#1) ---"
                "#012INVITE sip:carol@x.com SIP/2.0#012Call-ID: cid-88"
                " [Time:04-05@125]")
        cont = ("[S=8] [SID=ac1:12:888] #012CSeq: 2 INVITE#012 #012 x "
                "[Time:04-05@126]")
        rows = self._run(spark, [frag, cont])
        sips = [r for r in rows if r.proto_type == 1]
        assert len(sips) == 1                     # continuation consumed
        assert "CSeq: 2 INVITE" in sips[0].payload
        assert sips[0].correlation_id == "cid-88"

    def test_media_end_qos_legs(self, spark):
        toks = ["f%02d" % i for i in range(23)]
        toks[2], toks[4], toks[5] = "cid-9", "RTP1", "G711"
        toks[7], toks[8], toks[9], toks[10] = ("10.0.0.5", "6000",
                                               "10.0.0.6", "7000")
        toks[11], toks[12] = "1000", "2000"
        toks[17], toks[18] = "127", "64"
        line = ("[S=9] [SID=ac1:12:999] MEDIA_END " + toks[0]
                + " |" + " |".join(toks[1:]))
        rows = self._run(spark, [line], qos=True)
        import json
        legs = sorted((json.loads(r.payload) for r in rows
                       if r.proto_type == 35), key=lambda d: d["DIR"])
        assert len(legs) == 2
        a, b = legs
        assert a["CORRELATION_ID"] == "cid-9" and a["CODEC_NAME"] == "G711"
        assert a["MOS"] == 4.5 and abs(b["MOS"] - 4.5 * 64 / 127) < 1e-6
        assert a["TOTAL_PK"] == 1000 and b["TOTAL_PK"] == 2000
        assert a["REPORT_NAME"] == "RTP1_10.0.0.5:6000"
        assert b["REPORT_NAME"] == "RTP1_10.0.0.6:7000"
        srcs = {(r.src_ip, r.src_port, r.dst_ip, r.dst_port) for r in rows}
        assert ("10.0.0.5", 6000, "10.0.0.6", 7000) in srcs
        assert ("10.0.0.6", 7000, "10.0.0.5", 6000) in srcs

    def test_media_end_25_fields_drop_idx_5_and_15(self, spark):
        # a 25-field vector drops fields 5 and 15 (:299-302), so both QoS
        # legs read the same fields as the 23-field line
        toks = ["f%02d" % i for i in range(23)]
        toks[2], toks[4], toks[5] = "cid-9", "RTP1", "G711"
        toks[7], toks[8], toks[9], toks[10] = ("10.0.0.5", "6000",
                                               "10.0.0.6", "7000")
        toks[11], toks[12], toks[17], toks[18] = "1000", "2000", "127", "64"
        wide = toks[:5] + ["x5"] + toks[5:14] + ["x15"] + toks[14:]

        def line(sid, ts):
            return (f"[S=9] [SID=ac1:12:{sid}] MEDIA_END " + ts[0]
                    + " |" + " |".join(ts[1:]))

        rows = self._run(spark, [line(23, toks), line(25, wide)], qos=True)
        legs = {ln: sorted((r.payload, r.correlation_id, r.src_ip,
                            r.src_port, r.dst_ip, r.dst_port)
                           for r in rows if r.line_no == ln)
                for ln in (1, 2)}
        assert len(legs[1]) == 2 and legs[1] == legs[2]
        assert all(r.proto_type == 35 for r in rows)

    def test_call_end_row_under_logs(self, spark):
        line = ("[S=3] [SID=ac1:12:555] CALL_END |a1 |b2 |cid-x | e |f6  "
                "|g|h")
        rows = self._run(spark, [line], logs=True)
        assert len(rows) == 1
        r = rows[0]
        import json
        assert r.proto_type == 100
        assert json.loads(r.payload) == [
            "[S=3] [SID=ac1:12:555] CALL_END", "a1", "b2", "cid-x", "f6",
            "g|h"]
        assert r.correlation_id == "cid-x"

    def test_sequence_past_long_range_still_emits(self, spark):
        # an [S=n] above 2^63 reads as a NULL sequence: the line emits its
        # SIP row and merges with nothing
        big = self.IN_LINE.replace("[S=5]", "[S=99999999999999999999]")
        rows = self._run(spark, [big, self.OUT_LINE])
        got = sorted((r.line_no, r.proto_type, r.correlation_id)
                     for r in rows)
        assert got == [(1, 1, "cid-77"), (2, 1, "cid-77")]

    def test_log_lines_resolve_via_sidcache(self, spark):
        log1 = "[S=9] [SID=ac1:12:777] some device log chatter"
        rows = self._run(spark, [self.IN_LINE, log1], logs=True, qos=False,
                         localip="1.1.1.1")
        logs = [r for r in rows if r.proto_type == 100]
        assert len(logs) == 1
        # SID 777 resolved to the SIP leg's Call-ID (sidcache get, :348)
        assert logs[0].correlation_id == "cid-77"
        assert logs[0].src_port == 514 and logs[0].dst_port == 514

    def test_log_line_before_first_sip_message_keeps_sid(self, spark):
        # a log line whose sid gets its Call-ID only on a LATER line still
        # emits, correlated by the bare sid (sidcache miss)
        early = "[S=4] [SID=ac1:12:777] early device log chatter"
        log1 = "[S=9] [SID=ac1:12:777] some device log chatter"
        rows = self._run(spark, [early, self.IN_LINE, log1], logs=True,
                         qos=False)
        got = sorted((r.line_no, r.proto_type, r.correlation_id)
                     for r in rows)
        assert got == [(1, 100, "777"), (2, 1, "cid-77"),
                       (3, 100, "cid-77")]
