"""Output sinks (SURVEY.md §2.5).

Every paStash output is a filtered view of the stream plus a transport; the
table-native equivalents keep the routing/fan-out semantics and swap the
transport for partitioned columnar writes:

  * interpolated file paths (`#{field}` in filename, output_file.js:154-175)
    -> dynamic partition columns: one job, one scan, one directory per value
  * elasticsearch daily indexes (`prefix-YYYY.MM.DD`,
    elastic_search_helper.js:5-15) -> a date partition column
  * statsd per-event counters/timers/gauges (output_statsd.js:17-59)
    -> a groupBy metrics table (per-event emission is an aggregate in
    table-land; the streaming twin emits per micro-batch)
  * json_logstash serialization (base_output.js:29-49) -> to_json projection
"""

from __future__ import annotations

import re
from typing import Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pastash_spark.functions.interpolate import _TOKEN_RE


def interpolated_path_write(df: DataFrame, base_path: str, template: str,
                            *, fmt: str = "parquet",
                            mode: str = "overwrite") -> list[str]:
    """Dynamic-path fan-out: the reference interpolates `#{field}` into the
    output filename, creating one writer per distinct value
    (output_file.js:154-175, writer cache :30-105).  Spark-native: each
    referenced field becomes a partition column — one scan, one job, a
    directory per value, no writer cache needed.

    ``template`` like ``"#{type}/#{host}"`` -> partitionBy(type, host).
    Returns the partition column names used.
    """
    fields = [m for m in _TOKEN_RE.findall(template)
              if not m.startswith("now")]
    literal_rest = _TOKEN_RE.sub("", template)
    if re.search(r"[^/\s]", literal_rest):
        raise ValueError(
            "path template must be pure #{field} segments (got literal text "
            f"{literal_rest!r}); encode constants as a column instead")
    (df.write.mode(mode).partitionBy(*fields).format(fmt).save(base_path))
    return fields


def write_bucketed(df: DataFrame, table: str, *, key: str,
                   buckets: int = 8, sorted_by_key: bool = True,
                   mode: str = "overwrite") -> None:
    """Bucketed (and bucket-sorted) managed-table write — the co-located
    join primitive for repeated big-big joins at 100 TB: two tables
    bucketed identically on the join key execute a SortMergeJoin with ZERO
    Exchange (and with sortBy, zero Sort) — the shuffle is paid once at
    write time and amortized over every downstream join/aggregate on the
    key (plan pinned by tests/test_plan_shapes.py).
    """
    w = df.write.mode(mode).bucketBy(buckets, key)
    if sorted_by_key:
        w = w.sortBy(key)
    w.saveAsTable(table)


def daily_index_write(df: DataFrame, base_path: str, *, prefix: str = "logs",
                      ts_col: str = "@timestamp", fmt: str = "parquet",
                      mode: str = "overwrite") -> DataFrame:
    """Elasticsearch-style daily index routing (output_elasticsearch.js:42-77,
    index name `prefix-YYYY.MM.DD` from elastic_search_helper.js:5-15):
    the index name becomes a partition column, so time-range queries prune
    whole partitions at the scan."""
    out = df.withColumn(
        "_index",
        F.concat(F.lit(prefix + "-"), F.date_format(F.col(ts_col), "yyyy.MM.dd")))
    out.write.mode(mode).partitionBy("_index").format(fmt).save(base_path)
    return out


def statsd_metrics(df: DataFrame, *, key_template: str,
                   value_field: str | None = None) -> DataFrame:
    """statsd output as an aggregate: per interpolated metric key emit
    counter (count), and timer stats (sum/avg/max) over ``value_field``
    (metric grammar output_statsd.js:22-40).  In batch the 'per event
    emission' collapses into one groupBy; the streaming twin is the same
    groupBy per micro-batch."""
    from pastash_spark.functions.interpolate import compile_template
    key = compile_template(key_template).alias("metric_key")
    aggs = [F.count("*").alias("counter")]
    if value_field:
        v = F.col(value_field).cast("double")
        aggs += [F.sum(v).alias("timer_sum"), F.avg(v).alias("timer_avg"),
                 F.max(v).alias("timer_max")]
    return df.groupBy(key).agg(*aggs)


def ndjson_serialize(df: DataFrame, fields: Sequence[str] | None = None,
                     *, target: str = "json",
                     timestamp_col: str | None = "@timestamp") -> DataFrame:
    """json_logstash wire format (base_output.js:29-49): event as one JSON
    line with `@timestamp` ISO8601-formatted — only at the sink; timestamps
    stay typed inside the plan."""
    cols = fields or [c for c in df.columns]
    struct_fields = []
    for c in cols:
        if timestamp_col and c == timestamp_col:
            struct_fields.append(
                F.date_format(F.col(c), "yyyy-MM-dd'T'HH:mm:ss.SSSXX")
                .alias(c))
        else:
            struct_fields.append(F.col(c).alias(c))
    return df.withColumn(target, F.to_json(F.struct(*struct_fields)))


def gelf_serialize(df: DataFrame, *, host_col: str = "host",
                   message_col: str = "message",
                   level_col: str | None = None,
                   extra_fields: Sequence[str] = (),
                   target: str = "gelf") -> DataFrame:
    """GELF payload construction (output_gelf.js:23-46): version/host/
    short_message core, `_`-prefixed extras, zlib-deflated bytes.  JSON
    assembly is native; the deflate is an Arrow-batched pandas UDF over
    Python's stdlib zlib (the only part Spark lacks natively)."""
    struct_fields = [
        F.lit("1.1").alias("version"),
        F.col(host_col).cast("string").alias("host"),
        F.col(message_col).cast("string").alias("short_message"),
    ]
    if level_col:
        struct_fields.append(F.col(level_col).cast("int").alias("level"))
    for ef in extra_fields:
        struct_fields.append(F.col(ef).cast("string").alias(f"_{ef}"))
    js = F.to_json(F.struct(*struct_fields))

    @F.pandas_udf("binary")
    def deflate(s: pd.Series) -> pd.Series:
        import zlib
        return s.map(lambda v: zlib.compress(v.encode("utf-8"))
                     if v is not None else None)

    return df.withColumn(target, deflate(js))


# --- HEP v3 (Homer Encapsulation Protocol) -----------------------------------

def hep3_encapsulate(payload: str, *, ip_family: int = 1, protocol: int = 17,
                     src_ip: str = "127.0.0.1", dst_ip: str = "127.0.0.2",
                     src_port: int = 0, dst_port: int = 0,
                     time_sec: int = 0, time_usec: int = 0,
                     proto_type: int = 100, capture_id: int = 2001,
                     capture_pass: str = "MyHep",
                     correlation_id: str = "") -> bytes:
    """Build one HEPv3 packet per the PUBLIC sipcapture HEP spec
    (the wire format the reference's output_hep.js produces via hep-js):
    'HEP3' magic + u16 total length, then generic-vendor chunks, each
    framed u16 vendor / u16 type / u16 length(incl. 6-byte header):
    0x01 ip family u8, 0x02 protocol u8, 0x03/0x04 src/dst IPv4,
    0x07/0x08 src/dst port u16, 0x09/0x0a tv_sec/tv_usec u32,
    0x0b capture protocol type u8, 0x0c capture agent id u32,
    0x0e capture password, 0x0f payload, 0x11 correlation id."""
    import socket
    import struct

    def chunk(ctype: int, body: bytes) -> bytes:
        return struct.pack(">HHH", 0, ctype, 6 + len(body)) + body

    # hep-js picks the address chunk by family: 0x03/0x04 IPv4,
    # 0x05/0x06 IPv6 (protocolFamily 10 in the node library, 2 on the wire)
    def addr(ip: str, v4_type: int, v6_type: int) -> bytes:
        if ":" in ip:
            return chunk(v6_type,
                         socket.inet_pton(socket.AF_INET6, ip))
        return chunk(v4_type, socket.inet_aton(ip))

    if ":" in src_ip or ":" in dst_ip:
        ip_family = 2

    chunks = b"".join([
        chunk(0x01, struct.pack("B", ip_family)),
        chunk(0x02, struct.pack("B", protocol)),
        addr(src_ip, 0x03, 0x05),
        addr(dst_ip, 0x04, 0x06),
        chunk(0x07, struct.pack(">H", int(src_port))),
        chunk(0x08, struct.pack(">H", int(dst_port))),
        chunk(0x09, struct.pack(">I", int(time_sec))),
        chunk(0x0A, struct.pack(">I", int(time_usec))),
        chunk(0x0B, struct.pack("B", proto_type)),
        chunk(0x0C, struct.pack(">I", int(capture_id))),
        chunk(0x0E, capture_pass.encode("utf-8")),
        chunk(0x0F, (payload or "").encode("utf-8")),
        chunk(0x11, (correlation_id or "").encode("utf-8")),
    ])
    return b"HEP3" + struct.pack(">H", 6 + len(chunks)) + chunks


def hep_serialize(df: DataFrame, *, payload_col: str = "payload",
                  correlation_col: str | None = "correlation_id",
                  ts_col: str | None = None,
                  proto_type: int = 100, capture_id: int = 2001,
                  target: str = "hep") -> DataFrame:
    """HEP/EEP sink serializer (output_hep.js:36-90 semantics: wrap each
    event's payload + correlation id + capture credentials into a HEPv3
    packet; transport delivery is the landing-zone/transport boundary, as
    with gelf).  The reference's preHep reads data.rcinfo PER EVENT: the
    frame's ``proto_type``, ``protocol``, ``src_ip``, ``src_port``,
    ``dst_ip`` and ``dst_port`` columns (the names `parse.hep_columns`
    gives the app packs), where present, source those chunks; a missing
    column or a NULL reads the default (``proto_type``, else UDP from
    127.0.0.1:0 to 127.0.0.2:0).  One Arrow pass; timestamps come from
    ``ts_col`` (epoch seconds derived plan-side) or 0 for deterministic
    output."""
    sec = (F.col(ts_col).cast("timestamp").cast("double")
           if ts_col else F.lit(0.0))
    corr = (F.col(correlation_col).cast("string") if correlation_col
            else F.lit(""))
    payload = F.col(payload_col).cast("string")

    def _rc(col: str, default, dtype: str):
        c = (F.coalesce(F.col(col).cast(dtype), F.lit(default))
             if col in df.columns else F.lit(default))
        return c.cast(dtype)

    rcinfo = F.struct(
        _rc("proto_type", proto_type, "int").alias("pt"),
        _rc("protocol", 17, "int").alias("proto"),
        _rc("src_ip", "127.0.0.1", "string").alias("sip"),
        _rc("src_port", 0, "int").alias("sport"),
        _rc("dst_ip", "127.0.0.2", "string").alias("dip"),
        _rc("dst_port", 0, "int").alias("dport"))

    @F.pandas_udf("binary")
    def pack(p: pd.Series, c: pd.Series, s: pd.Series,
             r: pd.DataFrame) -> pd.Series:
        out = []
        for pay, cid, t, pt, proto_, sip, sport, dip, dport in zip(
                p, c, s, r["pt"], r["proto"], r["sip"], r["sport"],
                r["dip"], r["dport"]):
            t = float(t or 0.0)
            out.append(hep3_encapsulate(
                pay, correlation_id=cid or "", proto_type=int(pt),
                protocol=int(proto_), src_ip=sip or "127.0.0.1",
                dst_ip=dip or "127.0.0.2", src_port=int(sport),
                dst_port=int(dport), capture_id=capture_id,
                time_sec=int(t), time_usec=int(round((t % 1) * 1e6))))
        return pd.Series(out)

    return df.withColumn(target, pack(payload, corr, sec, rcinfo))
