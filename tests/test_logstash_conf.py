"""Logstash .conf grammar front-end — the shapes the reference's own config
tests exercise (/root/reference/test/test_104_logstash_parser.js and
test_421_logstash/{base,simple_if,if_regex,else_else_if,grep,regex,
fields_tags_*,upper}), run end-to-end from literal .conf text."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pastash_spark.plans.logstash_conf import (
    build_conf, conf_to_specs, parse_conf, run_conf_files)


def msgs(spark, *lines):
    return spark.createDataFrame([(l,) for l in lines], "message string")


class TestParser104:
    """test_104_logstash_parser.js shapes."""

    def test_base_input_file(self):
        tree = parse_conf("input {\n  file {\n    path => input.txt\n  }\n}\n")
        assert tree == {"input": [{"file": {"path": "input.txt"}}]}

    def test_comments_numbers_bools_quotes(self):
        tree = parse_conf("""
        # a comment
        filter {
          thing {
            a => 12          # int
            b => 3.5         # float
            c => true
            d => "with \\" quote"
            e => 'single'
            f => /a(.*)b/
          }
        }
        """)
        p = tree["filter"][0]["thing"]
        assert p == {"a": 12, "b": 3.5, "c": True, "d": 'with " quote',
                     "e": "single", "f": "a(.*)b"}

    def test_array_and_hash_values(self):
        tree = parse_conf("""
        filter { grok {
          match => '%{IP}'
          add_tags => ['a', 'b']
          add_fields => { a => b, c => d }
        } }
        """)
        p = tree["filter"][0]["grok"]
        assert p["add_tags"] == ["a", "b"]
        assert p["add_fields"] == {"a": "b", "c": "d"}

    def test_multiline_hash_without_commas(self):
        tree = parse_conf("""
        filter { grok {
          match => '%{IP}'
          add_tags => toto
          add_fields => {
            a => b
            c => d
          }
        } }
        """)
        p = tree["filter"][0]["grok"]
        assert p["add_tags"] == "toto"
        assert p["add_fields"] == {"a": "b", "c": "d"}

    def test_special_chars_fixtures(self):
        """test/parser/special_chars_* fixture shapes: escaped newline,
        escaped/nested quotes, spaces, utf8, empty plugin blocks."""
        t = parse_conf('output { es { host => "\\nlocalhost" } stdout { } }')
        assert t["output"][0]["es"]["host"] == "\nlocalhost"
        assert t["output"][1] == {"stdout": {}}
        t = parse_conf('output { es { host => "\\"localhost" '
                       "host2 => \"'localhost\" } }")
        assert t["output"][0]["es"] == {"host": '"localhost',
                                        "host2": "'localhost"}
        t = parse_conf("output { es { host => '\\'localhost' "
                       "host2 => '\"localhost' } }")
        assert t["output"][0]["es"] == {"host": "'localhost",
                                        "host2": '"localhost'}
        t = parse_conf('output { es { host => "local host" } }')
        assert t["output"][0]["es"]["host"] == "local host"
        t = parse_conf('output { es { host => "éàlocalhost" } }')
        assert t["output"][0]["es"]["host"] == "éàlocalhost"

    def test_version_string_stays_one_token(self):
        # the reference lexer only lexes a float when a non-digit-non-dot
        # follows; '3.5.1' is a single ID value
        t = parse_conf("output { es { ver => 3.5.1 num => 3.5 n => 42 } }")
        assert t["output"][0]["es"] == {"ver": "3.5.1", "num": 3.5, "n": 42}

    def test_if_else_if_else_tree(self):
        tree = parse_conf("""
        filter {
          if [message] =~ 'cd' { compute_field { field => toto value => tata } }
          else if [message] =~ 'ef' { compute_field { field => toto value => titi } }
          else { compute_field { field => toto value => tutu } }
        }
        """)
        node = tree["filter"][0]["__if__"]
        assert len(node["ifs"]) == 2 and "else" in node
        assert node["ifs"][0]["cond"] == {"op": "=~",
                                          "left": {"field": "message"},
                                          "right": "cd"}

    def test_condition_connectives_and_parens(self):
        tree = parse_conf("""
        output {
          if ([a] == "x" or [b] > 3) and ! [c] miss {
            file { path => o.txt }
          }
        }
        """)
        cond = tree["output"][0]["__if__"]["ifs"][0]["cond"]
        assert cond["op"] == "and"
        assert cond["left"]["op"] == "or"
        assert cond["right"] == {"op": "!", "operand": {"op": "miss",
                                 "operand": {"field": "c"}}}

    def test_in_and_not_in(self):
        tree = parse_conf("""
        filter {
          if [t] in [a, b] { noop {} }
          if [t] not in ["c"] { noop {} }
        }
        """)
        c1 = tree["filter"][0]["__if__"]["ifs"][0]["cond"]
        c2 = tree["filter"][1]["__if__"]["ifs"][0]["cond"]
        assert c1 == {"op": "in", "left": {"field": "t"}, "right": ["a", "b"]}
        assert c2 == {"op": "not in", "left": {"field": "t"}, "right": ["c"]}

    def test_in_field_ref_right_side(self):
        # `[tags]` on the right of in/not-in is a FIELD REF, not the literal
        # one-element list ["tags"] (condition_evaluator.js requires the
        # right side to resolve to an array; test_104 'multi if' shape).
        tree = parse_conf("""
        filter {
          if "x" in [tags] { noop {} }
          if [t] not in [tags] { noop {} }
        }
        """)
        c1 = tree["filter"][0]["__if__"]["ifs"][0]["cond"]
        c2 = tree["filter"][1]["__if__"]["ifs"][0]["cond"]
        assert c1 == {"op": "in", "left": "x", "right": {"field": "tags"}}
        assert c2 == {"op": "not in", "left": {"field": "t"},
                      "right": {"field": "tags"}}


class TestEndToEnd421:
    """test_421_logstash/* fixtures run from literal .conf text."""

    def test_else_else_if(self, spark):
        conf = """
        filter {
          if [message] =~ 'cd' { compute_field { field => toto value => tata } }
          else if [message] =~ 'ef' { compute_field { field => toto value => titi } }
          else { compute_field { field => toto value => tutu } }
        }
        output { file { path => output.txt serializer => json_logstash } }
        """
        df = msgs(spark, "has cd here", "has ef here", "neither")
        out, outputs = build_conf(df, conf)
        got = {r.message: r.toto for r in out.collect()}
        assert got == {"has cd here": "tata", "has ef here": "titi",
                       "neither": "tutu"}
        assert outputs[0][0] == {"op": "file", "path": "output.txt",
                                 "serializer": "json_logstash"}

    def test_grep_invert(self, spark):
        conf = """
        filter { grep { regex => /abcd/ invert => true } }
        output { file { path => output.txt serializer => json_logstash } }
        """
        df = msgs(spark, "abcd here", "keep me")
        out, _ = build_conf(df, conf)
        assert [r.message for r in out.collect()] == ["keep me"]

    def test_regex_positional_and_builtin(self, spark):
        conf = """
        filter {
          regex {
            regex => /a(.*)b(.*)c/
            fields => [toto, tata]
            numerical_fields => [tata]
          }
        }
        """
        df = msgs(spark, "aXb12c")
        out, _ = build_conf(df, conf)
        r = out.first()
        assert r.toto == "X" and r.tata == 12.0

        conf2 = "filter { regex { builtin_regex => syslog_no_prio } }\n"
        df2 = msgs(spark, "Oct 11 22:14:15 host1 cron[9]: done")
        r2 = build_conf(df2, conf2)[0].first()
        assert r2.syslog_program == "cron" and r2.message == "done"

    def test_fields_tags(self, spark):
        conf = """
        filter {
          grok {
            match => '%{IP:ip}'
            add_tags => ['a', 'b']
            add_fields => { src => "ip=#{ip}" }
          }
        }
        """
        df = msgs(spark, "from 10.1.2.3")
        r = build_conf(df, conf)[0].first()
        assert r.ip == "10.1.2.3"
        assert set(r.tags) == {"a", "b"}
        assert r.src == "ip=10.1.2.3"

    def test_simple_if_conditional_output(self, spark):
        conf = """
        output {
          if [message] != "abcd" {
            file { path => output.txt serializer => json_logstash }
          }
        }
        """
        df = msgs(spark, "abcd", "other")
        _, outputs = build_conf(df, conf)
        (spec, view), = outputs
        assert spec["path"] == "output.txt"
        assert [r.message for r in view.collect()] == ["other"]

    def test_if_regex_output(self, spark):
        conf = """
        output {
          if [message] =~ ab {
            file { path => output.txt serializer => json_logstash }
          }
        }
        """
        df = msgs(spark, "xaby", "nope")
        _, outputs = build_conf(df, conf)
        assert [r.message for r in outputs[0][1].collect()] == ["xaby"]

    def test_upper_numeric_compare(self, spark):
        conf = """
        filter {
          if [message] > 30 { compute_field { field => toto value => tata } }
        }
        """
        df = msgs(spark, "35", "12", "abc")
        out, _ = build_conf(df, conf)
        got = {r.message: r.toto for r in out.collect()}
        assert got == {"35": "tata", "12": None, "abc": None}

    def test_run_conf_files_file_to_file(self, spark, tmp_path):
        """The reference's canonical file -> filters -> file e2e
        (test_421_logstash.js): literal .conf, real input file, NDJSON
        outputs partitioned by the output conditions."""
        import json
        import os
        (tmp_path / "input.txt").write_text(
            "ERROR disk full\nINFO all good\nERROR cpu melted\n")
        conf = """
        input { file { path => input.txt type => applog } }
        filter {
          regex { regex => /^(\\w+) (.*)$/ fields => [lvl, rest] }
          compute_field { field => summary value => "#{lvl}:#{rest}" }
        }
        output {
          if [lvl] == "ERROR" {
            file { path => errors.ndjson serializer => json_logstash }
          }
          else { file { path => other.ndjson serializer => json_logstash } }
        }
        """
        written = run_conf_files(spark, conf, base_dir=str(tmp_path))
        assert sorted(os.path.basename(p) for p in written) == \
            ["errors.ndjson", "other.ndjson"]
        errs = [json.loads(l) for l in
                spark.read.text(str(tmp_path / "errors.ndjson"))
                .toPandas()["value"]]
        assert sorted(e["summary"] for e in errs) == \
            ["ERROR:cpu melted", "ERROR:disk full"]
        assert all(e["type"] == "applog" for e in errs)
        other = [json.loads(l) for l in
                 spark.read.text(str(tmp_path / "other.ndjson"))
                 .toPandas()["value"]]
        assert [e["summary"] for e in other] == ["INFO:all good"]

    def test_agent_chaining_file2file2file(self, spark, tmp_path):
        """test_410_file2x2x2file.js shape: agent 1 parses raw lines and
        writes NDJSON; agent 2 consumes that NDJSON (json_fields), routes,
        and writes the final sink — two .conf runs chained through files."""
        import json
        (tmp_path / "input.txt").write_text(
            "ERROR disk full\nINFO all good\nERROR cpu melted\n")
        conf1 = """
        input { file { path => input.txt } }
        filter {
          regex { regex => /^(\\w+) (.*)$/ fields => [lvl, rest] }
        }
        output { file { path => stage1.ndjson serializer => json_logstash } }
        """
        run_conf_files(spark, conf1, base_dir=str(tmp_path))
        conf2 = """
        input { file { path => stage1.ndjson } }
        filter {
          json_fields { schema => 'lvl string, rest string' }
          compute_field { field => alert value => "ALERT #{rest}" }
        }
        output {
          if [lvl] == "ERROR" {
            file { path => final.ndjson serializer => json_logstash }
          }
        }
        """
        run_conf_files(spark, conf2, base_dir=str(tmp_path))
        final = [json.loads(l) for l in
                 spark.read.text(str(tmp_path / "final.ndjson"))
                 .toPandas()["value"]]
        assert sorted(e["alert"] for e in final) == \
            ["ALERT cpu melted", "ALERT disk full"]

    def test_add_field_singular_alias(self, spark):
        """base_filter.js aliases add_field/remove_field to the plural
        params on every filter."""
        conf = """
        filter {
          noop { add_field => { extra => yes } }
          noop { remove_field => extra2 }
        }
        output { file { path => o } }
        """
        df = msgs(spark, "m1").withColumn("extra2", F.lit("gone"))
        out, _ = build_conf(df, conf)
        r = out.first()
        assert r.extra == "yes"
        assert "extra2" not in out.columns

    def test_mutate_replace_and_noop_plugins(self, spark):
        """conf plugin names `mutate_replace` (param `from`) and `noop`
        resolve through the builder registry."""
        conf = """
        filter {
          noop {}
          mutate_replace { field => message from => "a+" to => "X" }
        }
        output { file { path => out } }
        """
        df = msgs(spark, "aaa bca")
        out, _ = build_conf(df, conf)
        assert out.first().message == "X bcX"

    def test_tinymath_plugin(self, spark):
        """conf plugin `tinymath` (filter_tinymath.js) resolves through the
        builder registry to the eval operator: its math is Spark SQL."""
        conf = """
        filter {
          tinymath { target => total expression => "a * 2 + b" }
        }
        output { file { path => out } }
        """
        df = spark.createDataFrame([(3, 4)], "a int, b int")
        out, _ = build_conf(df, conf)
        assert out.first().total == 10

    def test_net2file_landing_zone(self, spark, tmp_path):
        """test_405_net2file.js shape: a tcp input (landing-zone model —
        the socket collector deposits raw lines into a directory) with the
        agent's add_host/add_timestamp/add_version base filters; the
        json_logstash output carries @version/host/message/type/tcp_port,
        the reference's checked record."""
        import json
        lz = tmp_path / "lz"
        lz.mkdir()
        (lz / "conn1.txt").write_text("toto\n")
        conf = """
        input { tcp { port => 17874 type => "2" landing_zone => lz } }
        filter { add_host {} add_timestamp {} add_version {} }
        output { file { path => output.ndjson serializer => json_logstash } }
        """
        written = run_conf_files(spark, conf, base_dir=str(tmp_path))
        assert len(written) == 1
        recs = [json.loads(l) for l in
                spark.read.text(str(tmp_path / "output.ndjson"))
                .toPandas()["value"]]
        assert len(recs) == 1
        r = recs[0]
        assert r["message"] == "toto" and r["type"] == "2"
        assert r["tcp_port"] == 17874 and r["@version"] == "1"
        assert r["host"] and r["@timestamp"]

    def test_app_ingate_plugin_conf_surface(self, spark):
        """The app_ingate PLUGIN on the conf surface: the per-file key
        default (scale-safe _PARAM_DEFAULTS) binds to the input's path
        column, egress ipcache fill + SIP block assembly run from literal
        .conf text, and the output carries HEP-ready rcinfo columns."""
        lines = [
            "Info: sipfw: send sf (0x1) to 4.8.12.4:5061 via "
            "1.1.1.1:6005 UDP connection 2:",
            "\n".join([
                "<134>May 27 02:52:53 netlogger:              "
                "INVITE sip:x SIP/2.0",
                "<134>May 27 02:52:53 netlogger:              "
                "Call-ID: conf-ing-1",
            ]),
        ]
        df = spark.createDataFrame(
            [("f1.txt", i + 1, l) for i, l in enumerate(lines)],
            "path string, line_no long, message string")
        out, _ = build_conf(df, "filter { app_ingate {} }")
        rows = out.collect()
        assert len(rows) == 1
        r = rows[0]
        assert r.src_ip == "1.1.1.1" and r.dst_port == 5061
        assert r.protocol == 17 and r.proto_type == 1
        assert r.correlation_id == "conf-ing-1"
        assert r.payload.startswith("INVITE sip:x SIP/2.0\r\n")

    def test_ingate_recipe_shape(self, spark, tmp_path):
        """The shipped ingate recipe (plugins/filters/app_ingate/
        ingate_udp_syslog.conf) run e2e through the landing-zone model:
        udp input, type-gated builtin `syslogingate_all` regex with
        comma-joined fields + regex_flags, syslog_pri with the reference's
        default priority_field, and file-order multiline reassembly
        (max_delay dropped — arrival-time-only).  app_ingate's SIP domain
        parse maps to noop; the start-line regex is adapted to the
        post-regex message (the ingate regex consumes the program token)."""
        import json
        lz = tmp_path / "lz"
        lz.mkdir()
        lines = [
            "<134>Jan  5 04:05:06 gw sipfw: send F1 via UDP connection 3:",
            "<134>Jan  5 04:05:06 gw sipfw: INVITE sip:bob@x.com SIP/2.0",
            "<134>Jan  5 04:05:06 gw sipfw: Call-ID: abc123",
            "<134>Jan  5 04:05:07 gw sipfw: recv F2 via UDP connection 3:",
            "<134>Jan  5 04:05:07 gw sipfw: SIP/2.0 200 OK",
            "<134>Jan  5 04:05:07 gw sipfw: Call-ID: abc123",
        ]
        (lz / "p1.txt").write_text("\n".join(lines) + "\n")
        conf = """
        input { udp { host => 0.0.0.0 port => 514 type => syslog
                      landing_zone => lz } }
        filter {
          if [type] == syslog {
            regex {
              regex => /<(\\S+)>(\\S+\\s+\\S+\\s+\\d+:\\d+:\\d+)(\\s\\S+[^:]){1,2}(:.*|:)/
              fields => "syslog_priority,timestamp,syslog_program,message"
              builtin_regex => syslogingate_all
              regex_flags => gm
            }
            syslog_pri {}
          }
          multiline {
            start_line_regex => /^:?\\s*(send|recv).*via.*connection\\s\\d+:/
            max_delay => 10
            regex_flags => i
          }
          noop {}
        }
        output { file { path => out.ndjson serializer => json_logstash } }
        """
        run_conf_files(spark, conf, base_dir=str(tmp_path))
        recs = [json.loads(l) for l in
                spark.read.text(str(tmp_path / "out.ndjson"))
                .toPandas()["value"]]
        assert len(recs) == 2
        recs.sort(key=lambda r: r["line_no"])
        assert all(r["n_lines"] == 3 for r in recs)
        assert "INVITE sip:bob@x.com SIP/2.0" in recs[0]["message"]
        assert recs[0]["message"].splitlines()[0].lstrip(": ").startswith("send")
        assert "200 OK" in recs[1]["message"]

    def test_syslog_pri_severity_facility_fields(self, spark):
        """filter_syslog_pri.js optional_params severity_field /
        facility_field: the named columns receive the LABELS (the
        reference writes labels, not numbers, into them)."""
        conf = """
        filter {
          syslog_pri {
            priority_field => pri
            severity_field => syslog_severity
            facility_field => syslog_facility
          }
        }
        """
        df = msgs(spark, "m").withColumn("pri", F.lit(134))
        out, _ = build_conf(df, conf)
        r = out.first()
        # 134 = facility 16 (local0), severity 6 (informational)
        assert r["syslog_severity"] == "informational"
        assert r["syslog_facility"] == "local0"

    def test_conditional_outputs_partition_rows(self, spark):
        """if/else-if/else over outputs = mutually-exclusive routed sinks."""
        conf = """
        output {
          if [message] =~ err { file { path => errors } }
          else if [message] =~ warn { file { path => warns } }
          else { file { path => bulk } }
        }
        """
        df = msgs(spark, "err 1", "warn 1", "ok 1", "err 2")
        _, outputs = build_conf(df, conf)
        counts = {spec["path"]: view.count() for spec, view in outputs}
        assert counts == {"errors": 2, "warns": 1, "bulk": 1}


class TestAudiocodesRecipe:
    """The shipped audiocodes recipe (plugins/filters/app_audiocodes/
    readme.md: udp syslog input -> app_audiocodes -> conditional hep
    output) run e2e through the landing-zone model, with the recipe's own
    params (version/autolocal) accepted on the conf surface."""

    def test_recipe_end_to_end(self, spark, tmp_path):
        lz = tmp_path / "lz"
        lz.mkdir()
        lines = [
            "[S=5] [SID=ac1:12:777] ---- Incoming SIP Message from "
            "10.0.0.5:5060 to SIPInterface #0 (SIPGRP) UDP TO(#1) ---"
            "#012INVITE sip:bob@x.com SIP/2.0#012Call-ID: cid-77#012"
            "CSeq: 1 INVITE#012 #012 [Time:04-05@123]",
            "[S=6] [SID=ac1:12:778] device chatter without sip",
        ]
        (lz / "p1.txt").write_text("\n".join(lines) + "\n")
        conf = """
        input { udp { host => 0.0.0.0 port => 514 type => syslog
                      landing_zone => lz } }
        filter {
          app_audiocodes {
            version => '7.40A.100.114'
            debug => false
            autolocal => true
          }
        }
        output {
          if [correlation_id] != '' {
            hep { host => '127.0.0.1' port => 9060 hep_id => 2222
                  landing_zone => hep_out }
          }
        }
        """
        from pastash_spark.plans.logstash_conf import run_conf_files
        written = run_conf_files(spark, conf, base_dir=str(tmp_path))
        assert len(written) == 1
        frames = [bytes(r.hep) for r in
                  spark.read.parquet(str(tmp_path / "hep_out")).collect()]
        assert len(frames) == 1              # only the SIP row (gated)
        f = frames[0]
        assert f.startswith(b"HEP3")
        assert b"INVITE sip:bob@x.com SIP/2.0\r\n" in f
        assert b"cid-77" in f
        # capture-id chunk carries the recipe's hep_id 2222
        import struct
        assert struct.pack(">HHI", 0x0C, 10, 2222) in f[4:]
        # per-event rcinfo (output_hep.js preHep): the SIP row frames as
        # proto_type 1 with the line's remote addressing — NOT the LOG
        # (type 100) localhost defaults
        import socket
        assert struct.pack(">HHH", 0, 0x0B, 7) + bytes([1]) in f
        assert (struct.pack(">HHH", 0, 0x03, 10)
                + socket.inet_aton("10.0.0.5")) in f

    def test_version_variants_parse(self, spark):
        """7.40A.500 / 7.20A.256.511 regex variants extract the same
        payload fields (filter_app_audiocodes.js:151-162)."""
        from pastash_spark.operators import correlate as C
        l740 = ("[S=5] [SID=ac1:12:900] ---- Incoming SIP Message from "
                "10.0.0.5:5060 to SIPInterface #0 (G) UDP TO(#1) ----  "
                "INVITE sip:x@y SIP/2.0#012Call-ID: cid-740#012 [Time:1-2@3]")
        df = spark.createDataFrame([(1, l740)], "line_no long, message string")
        r = C.app_audiocodes_correlate(df, version="7.40A.500").collect()
        assert len(r) == 1 and r[0].correlation_id == "cid-740"
        assert r[0].payload.startswith("INVITE sip:x@y SIP/2.0\r\n")
        assert "[Time:" not in r[0].payload


class TestOrderReadingPacksFromFiles:
    """Packs whose `order` defaults to line_no run from a `file` input:
    run_conf_files numbers the input lines for every stage whose resolved
    order (the spec value, else the operator's default) is line_no."""

    AVAYA = ("tracer SIPMSGT #012--------------------#012"
             "01/02/2023 10:20:30.500#012hdr#012"
             "L10.0.0.1:5060/R10.0.0.{}:5062/UDP/#012"
             "INVITE sip:x SIP/2.0#015#012Call-ID: av-1#015#012")
    PACKS = {
        "app_ingate": ("app_ingate {}", [
            "Info: sipfw: send sf (0x1) to 4.8.12.4:5061 via 1.1.1.1:6005 "
            "UDP connection 2:",
            "<134>May 27 02:52:53 netlogger:              SIP/2.0 200 OK"],
            "src_ip", [(2, "1.1.1.1")]),
        "app_avaya": ("app_avaya {}", [AVAYA.format(7), AVAYA.format(8)],
                      "src_ip", [(1, "10.0.0.7")]),
        "app_cisco": ("app_cisco { host => path }", [
            "Jul 12 16:59:53.123: //1234//SIP/Msg/ccsipDisplayMsg:",
            "Sent:", "INVITE sip:bob@10.0.0.9:5060 SIP/2.0",
            "Call-ID: cid-cisco-1"],
            "correlation_id", [(1, ""), (2, ""), (3, ""),
                               (4, "cid-cisco-1")]),
        "app_sonus": ("app_sonus {}", [
            "Incoming message on 10.0.0.1:5060", "INVITE sip:bob SIP/2.0",
            "Call-ID: abc-123", "", "sending from 10.0.0.2:5060",
            "SIP/2.0 200 OK", "Call-ID: abc-123", ""],
            "correlation_id", [(2, "abc-123"), (6, "abc-123")]),
        "app_genesys": ("app_genesys {}", [
            "12:00:01 SIPTR: Received [0,UDP] 300 bytes from "
            "10.0.0.7:5060 ",
            "12:00:02 SIPSR: Sending  [0,TCP] 280 bytes to 10.0.0.7:5060 "],
            "src_ip", [(1, "10.0.0.7"), (2, "127.0.0.1")]),
    }

    @pytest.mark.parametrize("pack", sorted(PACKS))
    def test_pack_runs_from_file_input(self, spark, tmp_path, pack):
        import json
        plugin, lines, field, want = self.PACKS[pack]
        (tmp_path / "in.txt").write_text("\n".join(lines) + "\n")
        conf = f"""
        input {{ file {{ path => in.txt }} }}
        filter {{ {plugin} }}
        output {{ file {{ path => out.ndjson }} }}
        """
        run_conf_files(spark, conf, base_dir=str(tmp_path))
        recs = [json.loads(r.value) for r in
                spark.read.text(str(tmp_path / "out.ndjson")).collect()]
        assert sorted((r["line_no"], r[field]) for r in recs) == want
