"""Parsing / projection / predicate operators (SURVEY.md §2.1).

Each reimplements one reference filter's semantics on columns.  Hot paths are
native Catalyst expressions; multi-field regex/grok extraction is one JVM
regex pass per row (a whole-line ``regexp_replace`` that rewrites the line to
its separator-joined captures, then ``split``) instead of one
``regexp_extract`` per field, so no Python worker runs on the parse path."""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pastash_spark.functions.coerce import coerce_numeric_str
from pastash_spark.functions.grok import CompiledGrok, GrokCompiler
from pastash_spark.functions.interpolate import moment_to_java

DEFAULT_FIELD = "message"
# regex_extract's capture separator: a control character log text rarely holds
_SEP = "\u0001"


def _add_tag(df: DataFrame, cond: Column, tag: str) -> DataFrame:
    """Append `tag` to the tags array where cond holds (creates tags col).

    Reference: base_component.js:356-365 (add_tags) used by grok's
    tag_on_failure (filter_grok.js:151-167)."""
    tags = F.col("tags") if "tags" in df.columns else F.lit(None).cast("array<string>")
    base = F.coalesce(tags, F.array().cast("array<string>"))
    return df.withColumn(
        "tags", F.when(cond, F.array_union(base, F.array(F.lit(tag)))).otherwise(base)
    )


def regex_groups(src: Column, java_re: str, groups: Sequence[int]) -> Column:
    """ONE JVM regex pass capturing ``groups`` of java_re's first match:
    ``['', g1, g2, ...]`` on a match ('' for an empty or absent group), at
    most one element on a miss, NULL for a NULL line.  The wrapped pattern
    rewrites the whole line to SEP g1 SEP g2 ... and splits it; a line
    already holding SEP would be ambiguous, so it takes one regexp_extract
    per group instead (NULL on a miss)."""
    whole = r"\A[\s\S]*?(?:" + java_re + r")[\s\S]*\z"
    rep = "".join(f"{_SEP}${g}" for g in groups) or _SEP
    per_group = F.when(src.rlike(java_re), F.array(
        F.lit(""), *[F.regexp_extract(src, java_re, g) for g in groups]))
    return F.when(src.contains(_SEP), per_group).otherwise(
        F.split(F.regexp_replace(src, whole, rep), _SEP, -1))


def inline_flags(pattern: str, flags: str | None) -> str:
    """``pattern`` under JS RegExp ``flags`` (filter_regex.js passes them to
    new RegExp): i/m/s become a Java inline ``(?ims)`` prefix; g is
    meaningless for a single match (the reference matches once per event
    too), and no other letter has a Java inline form."""
    inline = "".join(ch for ch in flags or "" if ch in "ims")
    return f"(?{inline}){pattern}" if inline else pattern


def regex_extract(
    df: DataFrame,
    regex: "CompiledGrok | str | None" = None,
    *,
    builtin: str | None = None,
    field: str = DEFAULT_FIELD,
    fields: Sequence[str] | None = None,
    numerical_fields: Sequence[str] = (),
    date_field: str | None = None,
    date_format: str | None = None,
    tag_on_failure: str | None = None,
    regex_flags: str | None = None,
) -> DataFrame:
    """Regex/grok capture extraction with reference coercion semantics.

    Mirrors filter_regex (/root/reference/lib/filters/filter_regex.js:58-70):
    positional captures -> named columns; no match leaves the row unchanged
    (columns null) plus optional failure tag (grok semantics,
    filter_grok.js:151-167); fields named in ``numerical_fields`` go through
    the regex_helper coercion quirks (-> double, null on mismatch);
    ``date_format`` (moment syntax) parses ``date_field``'s capture into
    ``@timestamp``.

    ``regex`` is either a plain pattern with positional groups + ``fields``
    naming them, or a :class:`CompiledGrok` whose named groups define fields.
    ``builtin`` resolves a shipped pattern-file name instead
    (``http_combined``, ``syslog``, ... — patterns_loader.js:14-46): the
    spec supplies regex/fields/numerical_fields/date_format, and a captured
    field named ``timestamp``/``@timestamp`` is parsed into ``@timestamp``
    (regex_helper.js:19-28).  Explicit kwargs override spec entries.
    """
    if builtin is not None:
        from pastash_spark.functions.regex_patterns import lookup_regex_pattern
        spec = lookup_regex_pattern(builtin)
        regex = regex if isinstance(regex, CompiledGrok) else spec["regex"]
        fields = list(fields) if fields else list(spec["fields"])
        numerical_fields = (list(numerical_fields) or
                            list(spec.get("numerical_fields", [])))
        date_format = date_format or spec.get("date_format")
        if date_field is None and date_format:
            date_field = next((f for f in fields
                               if f in ("@timestamp", "timestamp")), None)

    if isinstance(regex, CompiledGrok):
        java_re, out_fields = regex.java_regex, list(regex.fields)
        groups = [regex.group_index(f) for f in out_fields]
    else:
        if not fields:
            raise ValueError("plain-regex mode requires `fields`")
        java_re, out_fields = regex, list(fields)
        groups = list(range(1, len(out_fields) + 1))

    java_re = inline_flags(java_re, regex_flags)

    # Java character classes (\w \b \s) are ASCII-only by default; the
    # reference's engines (Oniguruma for grok, JS for regex) are
    # Unicode-aware.  (?U) turns on UNICODE_CHARACTER_CLASS.
    if not java_re.startswith("(?U)"):
        java_re = "(?U)" + java_re

    df = df.withColumn("_ex", regex_groups(F.col(field), java_re, groups))
    matched = F.coalesce(F.size("_ex") > 1, F.lit(False))
    # '' means unmatched or an empty capture -> absent field
    df = df.withColumns({f: F.nullif(F.get("_ex", i + 1), F.lit(""))
                         for i, f in enumerate(out_fields)})

    for f in numerical_fields:
        if f in out_fields:
            df = df.withColumn(f, coerce_numeric_str(F.col(f)))

    if date_field and date_format:
        # try_: an unparseable capture leaves @timestamp NULL instead of
        # failing the job (the reference's moment parse is lenient too,
        # regex_helper.js:19-28)
        df = df.withColumn(
            "@timestamp",
            F.try_to_timestamp(F.col(date_field),
                               F.lit(moment_to_java(date_format))),
        )
    if tag_on_failure:
        df = _add_tag(df, ~matched, tag_on_failure)
    return df.drop("_ex")


def grok(
    df: DataFrame,
    pattern: str,
    *,
    field: str = DEFAULT_FIELD,
    extra_patterns: dict[str, str] | None = None,
    numerical_fields: Sequence[str] = (),
    tag_on_failure: str = "_grokparsefailure",
) -> DataFrame:
    """Grok = offline-compiled pattern + regex_extract (filter_grok.js:151-167)."""
    cg = GrokCompiler(extra_patterns).compile(pattern)
    return regex_extract(
        df, cg, field=field, numerical_fields=numerical_fields,
        tag_on_failure=tag_on_failure,
    )


def grep(df: DataFrame, regex: str, *, field: str = DEFAULT_FIELD,
         invert: bool = False, regex_flags: str | None = None) -> DataFrame:
    """Keep rows whose field matches (filter_grep.js:26-32); regex_flags
    maps JS i/m/s to inline flags like filter_regex."""
    m = F.coalesce(F.col(field).rlike(inline_flags(regex, regex_flags)),
                   F.lit(False))
    return df.filter(~m if invert else m)


def drop_when(df: DataFrame, cond: Column) -> DataFrame:
    """filter_drop under a config `if` (filter_drop.js:20-22)."""
    return df.filter(~F.coalesce(cond, F.lit(False)))


def split(df: DataFrame, *, field: str = DEFAULT_FIELD,
          delimiter: str = "\n") -> DataFrame:
    """One event per non-empty chunk — the 1->N flatMap
    (filter_split.js:27-44).  Emits `chunk_no` so downstream ordered/stateful
    operators keep a deterministic within-message order (SURVEY §7 hard-part a)."""
    import re as _re
    parts = F.split(F.col(field), _re.escape(delimiter), -1)
    out = df.select("*", F.posexplode(parts).alias("chunk_no", "_chunk"))
    return (out.withColumn(field, F.col("_chunk"))
            .drop("_chunk")
            .filter(F.col(field) != ""))


def truncate(df: DataFrame, *, field: str = DEFAULT_FIELD,
             max_size: int = 1024) -> DataFrame:
    """filter_truncate.js:21-26; array columns use slice (token truncation)."""
    dtype = df.schema[field].dataType
    if isinstance(dtype, T.ArrayType):
        return df.withColumn(field, F.slice(F.col(field), 1, max_size))
    return df.withColumn(field, F.substring(F.col(field), 1, max_size))


def json_fields(df: DataFrame, schema: "T.StructType | str", *,
                field: str = DEFAULT_FIELD) -> DataFrame:
    """Parse JSON embedded in the message (from the first '{') and merge its
    keys into the event (filter_json_fields.js:13-24).  Schema is explicit —
    plan-time typing instead of the reference's dynamic merge.  A DDL string
    works too (the .conf front-end passes one)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    payload = F.regexp_extract(F.col(field), r"(\{.*)", 1)
    parsed = F.from_json(payload, schema)
    out = df.withColumn("_j", parsed)
    for f in schema.fieldNames():
        out = out.withColumn(f, F.col("_j")[f])
    return out.drop("_j")


def csv_parse(df: DataFrame, schema: str | T.StructType, *,
              field: str = DEFAULT_FIELD, sep: str = ",",
              quote: str = '"') -> DataFrame:
    """filter_csv.js:17-44 -> native from_csv."""
    if isinstance(schema, T.StructType):
        ddl = ",".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
    else:
        ddl = schema
    parsed = F.from_csv(F.col(field), F.lit(ddl), {"sep": sep, "quote": quote})
    out = df.withColumn("_c", parsed)
    for name in [p.split()[0].strip() for p in ddl.split(",")]:
        out = out.withColumn(name, F.col("_c")[name])
    return out.drop("_c")


# Label tables from RFC 5424 (public) — the reference embeds the same public
# tables (filter_syslog_pri.js:12-44).
SYSLOG_FACILITIES = [
    "kernel", "user-level", "mail", "daemon", "security/authorization",
    "syslogd", "line printer", "network news", "uucp", "clock",
    "security/authorization", "ftp", "ntp", "log audit", "log alert", "clock",
    "local0", "local1", "local2", "local3", "local4", "local5", "local6",
    "local7",
]
SYSLOG_SEVERITIES = [
    "emergency", "alert", "critical", "error", "warning", "notice",
    "informational", "debug",
]


def syslog_pri(df: DataFrame, *, field: str = "syslog_pri",
               prefix: str = "syslog_",
               severity_field: str | None = None,
               facility_field: str | None = None) -> DataFrame:
    """Decode priority int: severity = pri & 7, facility = pri >> 3, plus
    label lookup (filter_syslog_pri.js:59-67).  Pure bitwise + array index —
    no join needed for a static 31-entry vocabulary.  Out-of-range values
    stay undecoded (the reference's `> -1 && < 192` guard,
    filter_syslog_pri.js:60), as do non-numeric ones.

    Field layout: the reference's severity_field/facility_field params
    (optional_params, filter_syslog_pri.js:11-15) name the columns that
    receive the LABELS (it writes only labels, defaulting to
    syslog_severity/syslog_facility).  This port's default layout is a
    documented superset-divergence: numeric codes in {prefix}severity /
    {prefix}facility, labels in {prefix}severity_name / *_facility_name.
    Pass severity_field/facility_field explicitly (e.g. 'syslog_severity')
    to get the reference's exact label-in-that-column behavior — the
    numeric column is then skipped when the names collide."""
    pri0 = F.col(field).try_cast("int")   # non-numeric -> NULL, not ANSI error
    pri = F.when((pri0 >= 0) & (pri0 < 192), pri0)
    sev = pri.bitwiseAND(F.lit(7))
    fac = F.shiftright(pri, 3)
    sev_labels = F.array(*[F.lit(s) for s in SYSLOG_SEVERITIES])
    fac_labels = F.array(*[F.lit(s) for s in SYSLOG_FACILITIES])
    sev_name_col = severity_field or (prefix + "severity_name")
    fac_name_col = facility_field or (prefix + "facility_name")
    out = df
    if prefix + "severity" != sev_name_col:
        out = out.withColumn(prefix + "severity", sev)
    if prefix + "facility" != fac_name_col:
        out = out.withColumn(prefix + "facility", fac)
    # explicit null guard: element_at(arr, NULL) resolves like a
    # negative index (returns the LAST element), not NULL
    return (out
            .withColumn(sev_name_col,
                        F.when(sev.isNotNull(),
                               F.element_at(sev_labels, sev + 1)))
            .withColumn(fac_name_col,
                        F.when(fac.isNotNull() & (fac < len(SYSLOG_FACILITIES)),
                               F.element_at(fac_labels, fac + 1))))


def http_status_classifier(df: DataFrame, *, field: str = "status",
                           target: str = "status_class",
                           special_codes: Sequence[int] = ()) -> DataFrame:
    """Bucket status -> '1xx'..'5xx', with passthrough special codes
    (filter_http_status_classifier.js:33-57)."""
    s = F.col(field).cast("int")
    cls = F.concat(F.floor(s / 100).cast("int").cast("string"), F.lit("xx"))
    if special_codes:
        cls = F.when(s.isin(list(special_codes)), s.cast("string")).otherwise(cls)
    return df.withColumn(target, F.when(s.isNotNull() & (s >= 100) & (s < 600), cls))


# IANA protocol numbers (public registry) — same 13 the reference maps
# (filter_ipproto.js:15-29).
IPPROTO = {1: "icmp", 2: "igmp", 6: "tcp", 17: "udp", 41: "ipv6", 47: "gre",
           50: "esp", 51: "ah", 58: "ipv6-icmp", 89: "ospf", 94: "ipip",
           103: "pim", 132: "sctp"}


def ipproto(df: DataFrame, *, field: str = "proto",
            target: str = "proto_name") -> DataFrame:
    """Static-dict enrichment via a literal MAP expression — stays in codegen;
    the broadcast-join variant of this pattern lives in operators/enrich.py."""
    pairs = []
    for k, v in IPPROTO.items():
        pairs.extend([F.lit(k), F.lit(v)])
    return df.withColumn(target, F.create_map(*pairs)[F.col(field).cast("int")])


BUNYAN_LEVELS = [(60, "FATAL"), (50, "ERROR"), (40, "WARN"),
                 (30, "INFO"), (20, "DEBUG")]


def bunyan(df: DataFrame, *, field: str = DEFAULT_FIELD) -> DataFrame:
    """bunyan NDJSON: parse + canonical renames + numeric level -> name
    (filter_bunyan.js:5-25,44-63)."""
    schema = T.StructType([
        T.StructField("time", T.StringType()),
        T.StructField("hostname", T.StringType()),
        T.StructField("msg", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("level", T.IntegerType()),
        T.StructField("pid", T.IntegerType()),
    ])
    out = json_fields(df, schema, field=field)
    lvl = F.col("level")
    name = F.lit("TRACE")
    for threshold, label in reversed(BUNYAN_LEVELS):
        name = F.when(lvl >= threshold, label).otherwise(name)
    return (out
            .withColumn("@timestamp", F.to_timestamp(F.col("time")))
            .withColumnRenamed("hostname", "host")
            .withColumn(field, F.coalesce(F.col("msg"), F.col(field)))
            .drop("msg", "time")
            .withColumn("level_name", name))


def jail(df: DataFrame, target: str, keep: Sequence[str] = ()) -> DataFrame:
    """Wrap the whole event under one key (filter_jail.js:22-25)."""
    others = [c for c in df.columns if c not in keep]
    return df.select(*keep, F.struct(*others).alias(target))


def json_schema_serialize(df: DataFrame, fields: Sequence[str],
                          target: str = "json") -> DataFrame:
    """Schema-enforced JSON output (filter_json_schema.js:20-47): explicit
    field list == the JSON schema, enforced at plan time."""
    return df.withColumn(target, F.to_json(F.struct(*[F.col(f) for f in fields])))


def xml_fields(df: DataFrame, schema: "T.StructType | str", *,
               field: str = DEFAULT_FIELD, target: str | None = None,
               xpaths: dict[str, str] | None = None) -> DataFrame:
    """XML event parsing (plugins/filters/xml/filter_xml.js:36-43: the
    reference converts the whole event with xml-js).  Spark-first: with a
    ``schema`` the document parses via native ``from_xml`` (JVM, columnar)
    into ``target`` (or merged top-level columns); alternatively/additionally
    ``xpaths`` extracts named scalars with the `xpath_string` builtin — the
    schemaless path for picking a few leaves out of deep documents without
    materializing the tree.  NOTE xpath_string evaluates a javax XPath per
    row (~0.5 ms/row measured) — convenience only; hot paths should carry a
    schema and read leaves from the from_xml struct (~10x faster)."""
    out = df
    if schema is not None:
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        parsed = F.from_xml(F.col(field), schema)
        if target:
            out = out.withColumn(target, parsed)
        else:
            out = out.withColumn("_x", parsed)
            for f in schema.fieldNames():
                out = out.withColumn(f, F.col(f"_x.{f}"))
            out = out.drop("_x")
    for name, xp in (xpaths or {}).items():
        out = out.withColumn(name, F.xpath_string(F.col(field), F.lit(xp)))
    return out


# RFC 3954 field types the reference's collector names (node-netflowv9
# public vocabulary) — the common flow 9-tuple; others ride an extras map.
NETFLOW_V9_FIELDS = {
    1: "in_bytes", 2: "in_pkts", 4: "protocol", 7: "l4_src_port",
    8: "ipv4_src_addr", 11: "l4_dst_port", 12: "ipv4_dst_addr",
    21: "last_switched", 22: "first_switched",
}
_NF_IP_FIELDS = {8, 12, 15}


def _nf9_parse_packet(data: bytes):
    """Parse one NetFlow v9 export packet (RFC 3954): header + flowsets.
    Returns (source_id, templates {tid: [(type, len), ...]},
    data_flowsets [(tid, bytes)])."""
    import struct
    version, _count, _up, _secs, _seq, source_id = struct.unpack_from(
        ">HHIIII", data, 0)
    if version != 9:
        raise ValueError(f"not a NetFlow v9 packet (version={version})")
    i, templates, datasets = 20, {}, []
    while i + 4 <= len(data):
        fsid, flen = struct.unpack_from(">HH", data, i)
        if flen < 4:
            break
        body = data[i + 4:i + flen]
        if fsid == 0:                        # template flowset
            j = 0
            while j + 4 <= len(body):
                tid, nf = struct.unpack_from(">HH", body, j)
                j += 4
                fields = []
                for _ in range(nf):
                    ftype, fl = struct.unpack_from(">HH", body, j)
                    fields.append((ftype, fl))
                    j += 4
                templates[tid] = fields
        elif fsid >= 256:                    # data flowset
            datasets.append((fsid, body))
        i += flen
    return source_id, templates, datasets


def netflow_v9(df: DataFrame, *, payload_col: str = "payload") -> DataFrame:
    """NetFlow v9 decode over landing-zone export packets — the batch twin
    of the reference's collector input (plugins/inputs/netflowv9 emits one
    event per decoded flow via node-netflowv9).

    Spark shape: TWO passes because templates and data arrive in different
    packets of a stream (RFC 3954 sends templates periodically).  Pass 1
    (mapInPandas) scans only template flowsets and collects the tiny
    (source_id, template_id) -> field-layout dictionary on the driver
    (same legitimacy class as IVF's 8-row centroid collect); pass 2 decodes
    every data flowset against the broadcast template dict — 1 packet ->
    N flow rows, each with the common flow 9-tuple as typed columns and
    every other field hex-encoded in an extras map.
    """
    tmpl_schema = "source_id long, template_id int, layout string"

    def scan_templates(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json
        for pdf in batches:
            rows = []
            for p in pdf[payload_col]:
                if p is None:
                    continue
                try:
                    sid, templates, _ = _nf9_parse_packet(bytes(p))
                except Exception:
                    continue
                for tid, fields in templates.items():
                    rows.append((sid, tid, json.dumps(fields)))
            yield pd.DataFrame(rows, columns=["source_id", "template_id",
                                              "layout"])

    import json
    tmpl_rows = (df.mapInPandas(scan_templates, schema=tmpl_schema)
                 .dropDuplicates(["source_id", "template_id"]).collect())
    templates = {(r.source_id, r.template_id):
                 [tuple(x) for x in json.loads(r.layout)]
                 for r in tmpl_rows}

    fields = [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
              if f.name != payload_col]
    out_schema = ", ".join(fields + [
        "source_id bigint", "ipv4_src_addr string", "ipv4_dst_addr string",
        "l4_src_port int", "l4_dst_port int", "protocol int",
        "in_bytes bigint", "in_pkts bigint",
        "first_switched bigint", "last_switched bigint",
        "extras map<string,string>"])
    keep = [f.name for f in df.schema.fields if f.name != payload_col]

    named = ["ipv4_src_addr", "ipv4_dst_addr", "l4_src_port", "l4_dst_port",
             "protocol", "in_bytes", "in_pkts", "first_switched",
             "last_switched"]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # zip over plain column arrays, not pdf.iterrows(): building a
        # pandas Series per row costs 10-100x the dissection itself
        for pdf in batches:
            out = []
            for p, *passthru in zip(pdf[payload_col].to_numpy(),
                                    *(pdf[k].to_numpy() for k in keep)):
                if p is None:
                    continue
                try:
                    sid, local_t, datasets = _nf9_parse_packet(bytes(p))
                except Exception:
                    continue
                carried = dict(zip(keep, passthru))
                for tid, body in datasets:
                    layout = local_t.get(tid) or templates.get((sid, tid))
                    if layout is None:
                        continue                 # template never seen: drop
                    rec_len = sum(fl for _, fl in layout)
                    if rec_len == 0:
                        continue
                    j = 0
                    while j + rec_len <= len(body):
                        # every schema column present: a template missing a
                        # named field must yield NULL, not a NaN float that
                        # breaks the Arrow bigint cast
                        rec = {"source_id": sid, "extras": {},
                               **{n: None for n in named}}
                        for ftype, fl in layout:
                            raw = body[j:j + fl]
                            j += fl
                            name = NETFLOW_V9_FIELDS.get(ftype)
                            if ftype in _NF_IP_FIELDS and fl == 4:
                                val = ".".join(str(b) for b in raw)
                            else:
                                val = int.from_bytes(raw, "big")
                            if name:
                                rec[name] = val
                            else:
                                rec["extras"][str(ftype)] = raw.hex()
                        out.append({**carried, **rec})
            yield pd.DataFrame(out) if out else pd.DataFrame(
                columns=keep + ["source_id", "ipv4_src_addr",
                                "ipv4_dst_addr", "l4_src_port",
                                "l4_dst_port", "protocol", "in_bytes",
                                "in_pkts", "first_switched",
                                "last_switched", "extras"])

    return df.mapInPandas(decode, schema=out_schema)


def esl_event(df: DataFrame, *, field: str = DEFAULT_FIELD,
              url_decode: bool = True) -> DataFrame:
    """FreeSWITCH ESL plain-event parse (the reference's esl input receives
    these via modesl; filter_esl.js then reads Event-Name / Unique-ID /
    Other-Leg-Unique-ID headers): `Name: value` header lines, blank line,
    optional body; text-mode values are URL-encoded.

    All native: one str_to_map over the header block, `transform_values` +
    url_decode for the encoding, and the correlation-relevant headers
    surfaced as typed columns feeding operators/correlate.py's esl ops
    (forward_fill_correlation / bleg_correlation).  Event-Date-Timestamp
    is FreeSWITCH epoch MICROseconds -> `event_ts` timestamp."""
    src = F.col(field)
    hdr_block = F.regexp_extract(src, r"(?s)^(.*?)(?:\n\n|$)", 1)
    body = F.regexp_extract(src, r"(?s)\n\n(.*)$", 1)
    m = F.str_to_map(hdr_block, F.lit("\n"), F.lit(": "))
    if url_decode:
        m = F.transform_values(m, lambda _k, v: F.try_url_decode(v))
    nn = lambda c: F.when(c != "", c)  # noqa: E731
    out = df.withColumn("esl_headers", m)
    h = F.col("esl_headers")
    return (out
            .withColumn("event_name", h["Event-Name"])
            .withColumn("unique_id", h["Unique-ID"])
            .withColumn("other_leg_unique_id", h["Other-Leg-Unique-ID"])
            .withColumn("sip_call_id", h["variable_sip_call_id"])
            .withColumn("event_ts", F.timestamp_micros(
                h["Event-Date-Timestamp"].try_cast("long")))
            .withColumn("esl_body", nn(body)))


def _sflow_parse_datagram(data: bytes):
    """Parse one sFlow v5 datagram (public InMon spec): header + samples;
    returns (agent_ip, [flow_sample dicts]).  Standard flow samples
    (format 1) with raw-packet-header records (format 1) are dissected
    down to the IPv4/TCP/UDP 5-tuple; other sample/record kinds skip."""
    import struct

    def u32(i):
        return struct.unpack_from(">I", data, i)[0]

    if u32(0) != 5:
        raise ValueError("not sFlow v5")
    addr_type = u32(4)
    if addr_type == 1:
        agent = ".".join(str(b) for b in data[8:12])
        i = 12
    else:                                    # IPv6 agent
        agent = data[8:24].hex()
        i = 24
    i += 12                                  # sub_agent_id, seq, uptime
    n_samples = u32(i)
    i += 4
    flows = []
    for _ in range(n_samples):
        stype, slen = u32(i), u32(i + 4)
        body_at, i = i + 8, i + 8 + slen
        if stype != 1:                       # standard flow sample only
            continue
        j = body_at
        seq, source_id, rate, pool, drops = (u32(j), u32(j + 4), u32(j + 8),
                                             u32(j + 12), u32(j + 16))
        n_records = u32(j + 28)
        j += 32
        for _r in range(n_records):
            rfmt, rlen = u32(j), u32(j + 4)
            rec_at, j = j + 8, j + 8 + rlen
            if rfmt != 1:                    # raw packet header record only
                continue
            proto_hdr, frame_len, _stripped, hdr_len = (
                u32(rec_at), u32(rec_at + 4), u32(rec_at + 8),
                u32(rec_at + 12))
            flow = {"sampling_rate": rate, "frame_length": frame_len,
                    "source_id": source_id, "drops": drops,
                    "sample_pool": pool, "sample_seq": seq,
                    "src_ip": None, "dst_ip": None, "protocol": None,
                    "src_port": None, "dst_port": None}
            hdr = data[rec_at + 16:rec_at + 16 + hdr_len]
            if proto_hdr == 1 and len(hdr) >= 34 and hdr[12:14] == b"\x08\x00":
                ip = hdr[14:]
                ihl = (ip[0] & 0x0F) * 4
                flow["protocol"] = ip[9]
                flow["src_ip"] = ".".join(str(b) for b in ip[12:16])
                flow["dst_ip"] = ".".join(str(b) for b in ip[16:20])
                if ip[9] in (6, 17) and len(ip) >= ihl + 4:
                    sp, dp = struct.unpack_from(">HH", ip, ihl)
                    flow["src_port"], flow["dst_port"] = sp, dp
            flows.append(flow)
    return agent, flows


def sflow_v5(df: DataFrame, *, payload_col: str = "payload") -> DataFrame:
    """sFlow v5 decode over landing-zone datagrams — the batch twin of the
    reference's sflow collector input (plugins/inputs/sflow).  One
    mapInPandas pass (sFlow is stateless — unlike NetFlow v9 there are no
    cross-packet templates): each standard flow sample's raw packet header
    dissects to the IPv4/TCP/UDP 5-tuple plus the sampling metadata
    (sampling_rate, frame_length, drops) that flow accounting scales by.
    Malformed datagrams drop."""
    fields = [f"`{f.name}` {f.dataType.simpleString()}"
              for f in df.schema.fields if f.name != payload_col]
    out_schema = ", ".join(fields + [
        "agent string", "source_id bigint", "sample_seq bigint",
        "sampling_rate bigint", "sample_pool bigint", "drops bigint",
        "frame_length bigint", "src_ip string", "dst_ip string",
        "protocol int", "src_port int", "dst_port int"])
    keep = [f.name for f in df.schema.fields if f.name != payload_col]
    cols = ["agent", "source_id", "sample_seq", "sampling_rate",
            "sample_pool", "drops", "frame_length", "src_ip", "dst_ip",
            "protocol", "src_port", "dst_port"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # zip over column arrays (iterrows builds a Series per row — 10-100x
        # the cost of the dissection)
        for pdf in batches:
            out = []
            for p, *passthru in zip(pdf[payload_col].to_numpy(),
                                    *(pdf[k].to_numpy() for k in keep)):
                if p is None:
                    continue
                try:
                    agent, flows = _sflow_parse_datagram(bytes(p))
                except Exception:
                    continue
                carried = dict(zip(keep, passthru))
                for fl in flows:
                    out.append({**carried, "agent": agent, **fl})
            yield (pd.DataFrame(out) if out
                   else pd.DataFrame(columns=keep + cols))

    return df.mapInPandas(run, schema=out_schema)


def bencode_decode_py(data: bytes):
    """Pure-Python bencode decoder (the @qxip/bencode analogue the
    reference's bencode udp input runs per datagram): i<int>e, <len>:<str>,
    l...e lists, d...e dicts (keys utf-8)."""
    def rd(i):
        c = data[i:i + 1]
        if c == b"i":
            j = data.index(b"e", i)
            raw = data[i + 1:j]
            # @qxip/bencode's float-aware extension (the HSP protocol,
            # filter_app_hsp.js:3): a fractional i-token decodes as float
            return (float(raw) if b"." in raw else int(raw)), j + 1
        if c == b"l":
            out, i = [], i + 1
            while data[i:i + 1] != b"e":
                v, i = rd(i)
                out.append(v)
            return out, i + 1
        if c == b"d":
            out, i = {}, i + 1
            while data[i:i + 1] != b"e":
                k, i = rd(i)
                v, i = rd(i)
                out[k if isinstance(k, str) else str(k)] = v
            return out, i + 1
        j = data.index(b":", i)
        n = int(data[i:j])
        raw = data[j + 1:j + 1 + n]
        try:
            return raw.decode("utf-8"), j + 1 + n
        except UnicodeDecodeError:
            return raw.hex(), j + 1 + n
    v, end = rd(0)
    if end != len(data):
        raise ValueError("trailing bencode bytes")
    return v


def bencode_fields(df: DataFrame, *, field: str = DEFAULT_FIELD,
                   target: str = "decoded") -> DataFrame:
    """Bencode event decode (plugins/inputs/bencode landing-zone analogue):
    each row's bencoded payload decodes to its JSON representation in one
    Arrow pass — JSON keeps the column schema-stable across heterogenous
    nested documents (the same trade base_input's json_logstash
    unserializer makes); undecodable rows yield NULL."""
    import json

    @F.pandas_udf("string")
    def dec(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            try:
                b = v if isinstance(v, (bytes, bytearray)) else \
                    str(v).strip().encode("utf-8")
                return json.dumps(bencode_decode_py(bytes(b)),
                                  sort_keys=True, separators=(",", ":"))
            except Exception:
                return None
        return s.map(one)

    return df.withColumn(target, dec(F.col(field)))


def _sip_header(src, names: str):
    """First occurrence of a SIP header (long or RFC3261 compact form),
    case-insensitive, multiline; '' -> NULL."""
    v = F.regexp_extract(src, rf"(?im)^(?:{names})\s*:\s*(.*?)\s*$", 1)
    return F.when(v != "", v)


def sip_message(df: DataFrame, *, field: str = DEFAULT_FIELD,
                prefix: str = "sip_") -> DataFrame:
    """SIP message parse — the landing-zone analogue of the reference's
    SIP socket input (plugins/inputs/sip/input_sip.js emits the npm `sip`
    parser's request object) and the header fields its telephony filters
    correlate on (esl/app_sonus extract Call-ID; HEP pairing uses
    from/to tags).

    Native single-pass regexes over the raw payload: start line (request
    method+URI or response status+reason), core headers in long AND
    compact form (Call-ID/i, From/f, To/t, Via/v, Contact/m), from/to
    tags, CSeq number+method.  Requests have method set and status NULL;
    responses the reverse — the reference drops method-less datagrams, a
    downstream `filter(sip_method is not null)` reproduces that.
    """
    src = F.col(field)
    first = F.regexp_extract(src, r"^([^\r\n]*)", 1)
    method = F.regexp_extract(first, r"^([A-Z]+)\s+\S+\s+SIP/2\.0$", 1)
    uri = F.regexp_extract(first, r"^[A-Z]+\s+(\S+)\s+SIP/2\.0$", 1)
    status = F.regexp_extract(first, r"^SIP/2\.0\s+(\d{3})", 1)
    reason = F.regexp_extract(first, r"^SIP/2\.0\s+\d{3}\s+(.*)$", 1)
    frm = _sip_header(src, "From|f")
    to = _sip_header(src, "To|t")
    tag = r";tag=([^;>\s]+)"
    cseq = _sip_header(src, "CSeq")
    nn = lambda c: F.when(c != "", c)  # noqa: E731  '' -> NULL
    return (df
            .withColumn(prefix + "method", nn(method))
            .withColumn(prefix + "uri", nn(uri))
            .withColumn(prefix + "status", nn(status).cast("int"))
            .withColumn(prefix + "reason", nn(reason))
            .withColumn(prefix + "call_id", _sip_header(src, "Call-ID|i"))
            .withColumn(prefix + "from", frm)
            .withColumn(prefix + "from_tag", nn(F.regexp_extract(frm, tag, 1)))
            .withColumn(prefix + "to", to)
            .withColumn(prefix + "to_tag", nn(F.regexp_extract(to, tag, 1)))
            .withColumn(prefix + "via", _sip_header(src, "Via|v"))
            .withColumn(prefix + "contact", _sip_header(src, "Contact|m"))
            .withColumn(prefix + "cseq_num",
                        nn(F.regexp_extract(cseq, r"^(\d+)", 1)).cast("long"))
            .withColumn(prefix + "cseq_method",
                        nn(F.regexp_extract(cseq, r"^\d+\s+([A-Z]+)", 1))))


PROM_SAMPLE_RE = (r"^([a-zA-Z_:][a-zA-Z0-9_:]*)"
                  r"(?:\{(.*)\})?\s+([-+0-9.eE]+|NaN|[+-]Inf)"
                  r"(?:\s+([0-9]+))?\s*$")
PROM_TYPE_RE = r"^# TYPE ([a-zA-Z_:][a-zA-Z0-9_:]*) ([a-z]+)\s*$"


def prometheus_metrics(df: DataFrame, *,
                       field: str = DEFAULT_FIELD) -> DataFrame:
    """Prometheus text-exposition parser — the landing-zone analogue of the
    reference's /metrics scraper input (plugins/inputs/prometheus: each
    sample becomes an event carrying name + flattened labels + float value
    + the metric type from the `# TYPE` comment).

    All native: one regexp per sample line (name, label blob, value,
    optional timestamp), `str_to_map` for the label set, and the TYPE
    comments aggregated per metric name then broadcast-joined back — no
    per-line Python.  Simple-case label parsing (no embedded commas/escaped
    quotes inside label values — the overwhelmingly common exporter
    output).

    Output: (metric, labels map<string,string>, value double,
    prom_ts long|null, metric_type string|null), one row per sample line;
    comments and non-sample lines drop (filter contract 1->{0,1}).
    """
    src = F.col(field)
    name = F.regexp_extract(src, PROM_SAMPLE_RE, 1)
    blob = F.regexp_extract(src, PROM_SAMPLE_RE, 2)
    val = F.regexp_extract(src, PROM_SAMPLE_RE, 3)
    ts = F.regexp_extract(src, PROM_SAMPLE_RE, 4)
    samples = (df.filter(~src.startswith("#") & (name != ""))
               .withColumn("metric", name)
               .withColumn("labels", F.when(
                   blob != "",
                   F.str_to_map(F.regexp_replace(blob, '"', ""),
                                F.lit(","), F.lit("="))))
               .withColumn("value", val.try_cast("double"))
               .withColumn("prom_ts", ts.try_cast("long")))
    tname = F.regexp_extract(src, PROM_TYPE_RE, 1)
    types = (df.select(tname.alias("metric"),
                       F.regexp_extract(src, PROM_TYPE_RE, 2).alias("metric_type"))
             .filter(F.col("metric") != "")
             .groupBy("metric").agg(F.max("metric_type").alias("metric_type")))
    return samples.join(F.broadcast(types), "metric", "left")


def rfc3339(df: DataFrame, *, source: str, mode: int = 0,
            target: str = "rfc3339") -> DataFrame:
    """RFC3339 <-> integer-epoch conversion
    (plugins/filters/rfc3339/filter_rfc3339.js:22-41; modes: 0 = rfc3339
    text -> epoch NANOS, 1 = nanos -> rfc3339 text, 2 = micros -> rfc3339
    text).  Spark timestamps carry microseconds, so mode 0 scales the
    micro-precision epoch; sub-micro digits in the input are beyond the
    engine's timestamp resolution (as they are beyond JS Date's millis in
    most consumers) and resolve to 0.
    """
    c = F.col(source)
    if mode == 0:
        micros = F.unix_micros(F.to_timestamp(c))
        return df.withColumn(target, (micros * 1000).cast("long"))
    if mode == 1:
        # decimal division: long/1000 via double loses micros past 2^53 ns
        micros = F.floor(c.cast("decimal(38,0)") / 1000).cast("long")
        ts = F.timestamp_micros(micros)
    elif mode == 2:
        ts = F.timestamp_micros(c.cast("long"))
    else:
        raise ValueError(f"rfc3339: unknown mode {mode}")
    return df.withColumn(
        target, F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"))


# --- app_cdr_kamailio ---------------------------------------------------------

KAMAILIO_CDR_FIELDS = ("call_id", "from_tag", "to_tag", "start_time",
                       "end_time", "duration", "setuptime", "created")


def app_cdr_kamailio(df: DataFrame, *, field: str = DEFAULT_FIELD,
                     fields: Sequence[str] = KAMAILIO_CDR_FIELDS,
                     keep_cols: Sequence[str] = (),
                     keep_map: bool = False) -> DataFrame:
    """Kamailio `acc` CDR log parse (plugins/filters/app_cdr_kamailio/
    filter_app_cdr_kamailio.js:27-41): lines containing ``cdr(): `` re-emit
    as a NEW event holding the ``;``-separated ``k=v`` pairs; every other
    line DROPS (the reference's process() returns undefined for them).

    JS-split quirks preserved: keys are ``.trim()``-ed, and the value is
    the piece between the first and second ``=`` (``row.split('=')[1]``) —
    so ``a=b=c`` yields ``b``.  A key present without a value yields '',
    a key absent from the line yields NULL (undefined).

    Pure codegen: one contains-filter + per-field anchored regexp_extract
    over the CDR body; ``keep_map`` adds the full pair list as a map for
    schema-free consumers (later duplicate keys win, like JS assignment).
    ``keep_cols`` carries named input columns through (the reference
    replaces the event wholesale — the default here too).
    """
    import re as _re_mod
    body = F.regexp_extract(F.col(field), r"cdr\(\): (.*)", 1)
    rows = df.filter(F.col(field).contains("cdr(): "))
    sel: list[Column] = [F.col(c) for c in keep_cols]
    for name in fields:
        pat = r"(?:^|;)\s*" + _re_mod.escape(name) + r"\s*=([^;=]*)"
        sel.append(F.when(body.rlike(pat),
                          F.regexp_extract(body, pat, 1)).alias(name))
    if not keep_map:
        return rows.select(*sel)
    # last-wins duplicate handling like JS object assignment: reverse the
    # pair array, keep the first occurrence per trimmed key.  The pair
    # array materializes as a column FIRST so the dedup lambda references
    # it by name instead of re-evaluating the split per element (the
    # HOF-lambda re-evaluation trap).
    pairs = F.transform(
        F.reverse(F.split(body, ";")),
        lambda r: F.struct(F.trim(F.get(F.split(r, "="), 0)).alias("key"),
                           F.get(F.split(r, "="), 1).alias("value")))
    out = rows.select(*sel, pairs.alias("_pairs"))
    p = F.col("_pairs")
    dedup = F.filter(
        p, lambda e, i: ~F.exists(F.slice(p, 1, i),
                                  lambda q: q["key"] == e["key"]))
    return out.withColumn("cdr", F.map_from_entries(dedup)).drop("_pairs")


def app_cdr_opensips(df: DataFrame, *, field: str = DEFAULT_FIELD) -> DataFrame:
    """OpenSIPS accounting CDR parse (plugins/filters/app_cdr_opensips/
    filter_app_cdr_opensips.js:27-42): lines containing ``ended: `` re-emit
    as the ``;``-separated ``k=v`` pair object; everything else drops.
    Later duplicate keys win like the reference's sequential JS
    assignment.  Output: one ``cdr`` map<string,string> column per ended
    line."""
    body = F.regexp_extract(F.col(field), r"ended: (.*)", 1)
    rows = (df.filter(F.col(field).contains("ended: ") & (body != ""))
            .select(body.alias("_b")))
    # later duplicate keys win like JS sequential assignment; Spark 4's
    # str_to_map THROWS on duplicates, so dedup explicitly (reverse ->
    # first occurrence per key), same pattern as app_cdr_kamailio
    pairs = F.transform(
        F.reverse(F.split(F.col("_b"), ";")),
        lambda r: F.struct(F.get(F.split(r, "="), 0).alias("key"),
                           F.get(F.split(r, "="), 1).alias("value")))
    rows = rows.select(pairs.alias("_pairs"))
    p = F.col("_pairs")
    dedup = F.filter(
        p, lambda e, i: ~F.exists(F.slice(p, 1, i),
                                  lambda q: q["key"] == e["key"]))
    return rows.select(F.map_from_entries(dedup).alias("cdr"))


def app_sesm(df: DataFrame, *, field: str = DEFAULT_FIELD,
             target: str = "message") -> DataFrame:
    """SESM CSV -> influx-line-protocol render (plugins/filters/app_sesm/
    filter_app_sesm.js:33-44; the reference file has two literal syntax
    errors — ``var i:int`` and an unbalanced paren — so this implements
    its documented intent): ``date,time,system,type,metric,k1,v1,k2,v2...``
    becomes ``metric,system=<s>,type=<t> k1=v1,k2=v2 <epoch_ms>000000``.
    Pure column expressions; unparseable timestamps yield NULL epoch like
    JS Date.parse -> NaN."""
    p = F.split(F.col(field), ",")
    ts_ms = (F.try_to_timestamp(
        F.concat_ws(" ", F.get(p, 0), F.get(p, 1)))
        .cast("double") * 1000).cast("long")
    n = F.size(p)
    # field pairs from index 5: p[i]=p[i+1] joined with ','
    idx = F.sequence(F.lit(5), n - 2, F.lit(2))
    pairs = F.when(n >= 7, F.array_join(
        F.transform(idx, lambda i: F.concat_ws("=", F.get(p, i),
                                               F.get(p, i + 1))), ","))
    line = F.concat_ws(" ",
                       F.concat(F.get(p, 4), F.lit(","),
                                F.lit("system="), F.get(p, 2),
                                F.lit(",type="), F.get(p, 3)),
                       F.coalesce(pairs, F.lit("")),
                       F.concat(ts_ms.cast("string"), F.lit("000000")))
    return df.withColumn(target, line)


def app_summa(df: DataFrame, *, field: str = DEFAULT_FIELD,
              proto_type: int = 100) -> DataFrame:
    """SUMMA JSON event -> HEP log envelope (plugins/filters/app_summa/
    filter_app_summa.js:37-80): correlation id = content.sip-call-id,
    else origin/destination/source session_id (in that order; rows with
    none DROP), src/dst = host:port splits defaulting 10.0.0.1/10.0.0.2,
    payload = the raw JSON, proto_type 100 (LOG), protocol 6.  The
    reference stamps wall-clock time — batch output carries no ts columns
    (the hep sink's ts_col supplies event time).  get_json_object keeps
    it codegen-side; invalid JSON drops like the reference's catch."""
    m = F.col(field).cast("string")

    def j(path: str) -> Column:
        return F.get_json_object(m, "$." + path)

    cid = F.coalesce(j("content['sip-call-id']"),
                     j("origin.session_id"),
                     j("destination.session_id"),
                     j("source.session_id"))
    src = F.coalesce(j("source.host"), F.lit("10.0.0.1:0"))
    dst = F.coalesce(j("destination.host"), F.lit("10.0.0.2:0"))
    return (df.filter(cid.isNotNull() & (cid != ""))
            .select(m.alias("payload"),
                    cid.alias("correlation_id"),
                    F.lit(proto_type).alias("proto_type"),
                    F.get(F.split(src, ":"), 0).alias("src_ip"),
                    F.coalesce(F.get(F.split(src, ":"), 1)
                               .try_cast("int"), F.lit(0))
                    .alias("src_port"),
                    F.get(F.split(dst, ":"), 0).alias("dst_ip"),
                    F.coalesce(F.get(F.split(dst, ":"), 1)
                               .try_cast("int"), F.lit(0))
                    .alias("dst_port"),
                    F.lit(6).alias("protocol")))


def app_sonus_monitor(df: DataFrame, *, field: str = "payload",
                      correlation_hdr: str | None = None,
                      remove_headers: bool = False) -> DataFrame:
    """Sonus monitoring feed -> HEP addressing (plugins/filters/
    app_sonus_monitor/filter_app_sonusmonitor.js:33-76): srcIp/dstIp/
    Timestamp headers parsed out of the payload, 2.0/TCP|TLS flips
    protocol 17->6, optional correlation header extract, optional header
    strip.  The reference indexes the matchAll spread ([1] = the second
    MATCH, and reads an undefined ``str``/``last``/``rcinfo``) — this
    implements the documented intent: FIRST match's groups, the payload
    itself for the TCP test.  Defaults mirror :57-63."""
    m = F.col(field).cast("string")

    def g(rx: str, i: int, default):
        v = F.regexp_extract(m, rx, i)
        return F.when(v != "", v).otherwise(F.lit(default))

    out = df.withColumn("src_ip", g(r"srcIp: ([0-9.]+):([0-9]+)", 1,
                                    "127.0.0.1")) \
        .withColumn("src_port", g(r"srcIp: ([0-9.]+):([0-9]+)", 2, "5061")
                    .try_cast("int")) \
        .withColumn("dst_ip", g(r"dstIp: ([0-9.]+):([0-9]+)", 1,
                                "127.0.0.2")) \
        .withColumn("dst_port", g(r"dstIp: ([0-9.]+):([0-9]+)", 2, "5061")
                    .try_cast("int")) \
        .withColumn("ts_sec", F.regexp_extract(
            m, r"Timestamp=([0-9]+)\.([0-9]+)", 1).try_cast("long")) \
        .withColumn("ts_usec", F.regexp_extract(
            m, r"Timestamp=([0-9]+)\.([0-9]+)", 2).try_cast("long")) \
        .withColumn("protocol",
                    F.when(m.contains("2.0/TCP") | m.contains("2.0/TLS"),
                           6).otherwise(17)) \
        .withColumn("proto_type", F.lit(1))
    if correlation_hdr:
        out = out.withColumn(
            "correlation_id",
            F.trim(F.regexp_extract(m, correlation_hdr + r":\s?(.*)\r", 1)))
    if remove_headers:
        out = out.withColumn(
            field,
            F.regexp_replace(
                F.regexp_replace(m, r"(srcIp.*?)(?:\r|\n|\r\n){2}", ""),
                r"(dstIp.*?)(?:\r|\n|\r\n){2}", ""))
    return out
