"""Correlation / sessionization / aggregation operators (SURVEY.md §2.3).

The reference keeps per-key mutable state in LRU / dirty-db stores and flushes
on timers (filter_esl.js:137-251, base_filter_buffer.js:11-57,
plugins/filters/cacheloop/filter_cacheloop.js:42-114).  Batch-Spark re-derives
the same outputs from ordered windows and groupBys — one shuffle on the
correlation key, partial aggregation map-side, no driver state.  Streaming
variants live in streaming/.
"""

from __future__ import annotations

import functools
import re
from typing import NamedTuple, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pastash_spark.operators.enrich import asof_join, asof_lookup
from pastash_spark.operators.parse import (
    epoch_split, hep_columns, payload_protocol, regex_groups,
    transport_protocol)


def _epoch(c: Column) -> Column:
    """Epoch seconds for TIMESTAMP or TIMESTAMP_NTZ columns (NTZ cannot cast
    to double directly in Spark 4; session TZ is pinned to UTC so the NTZ ->
    TZ hop is value-preserving)."""
    return c.cast("timestamp").cast("double")


def multiline(df: DataFrame, *, key: Sequence[str], order: str,
              start_line_regex: str, field: str = "message",
              joiner: str = "\n") -> DataFrame:
    """Stateful line reassembly (filter_multiline.js:27-33,
    base_filter_buffer.js:11-57): lines buffer per key until the next line
    matching ``start_line_regex`` begins a new logical message.

    Batch shape: running count of start-line matches over the ordered window
    is the message group id; concat_ws over collect_list rebuilds the message.
    Two shuffles max (window + groupBy share the key partitioning, so AQE
    reuses the exchange).  Time-based flush (max_delay) is arrival-time-only
    in the reference and has no batch meaning — the streaming variant uses a
    session window instead (SURVEY §7 hard-part b).
    """
    keys = list(key)
    w = (Window.partitionBy(*keys).orderBy(F.col(order))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = F.col(field).rlike(start_line_regex).cast("int")
    grouped = df.withColumn("_msg_grp", F.sum(start).over(w))
    return (grouped
            .groupBy(*keys, "_msg_grp")
            .agg(F.concat_ws(joiner, F.array_sort(
                     F.collect_list(F.struct(F.col(order).alias("o"),
                                             F.col(field).alias("m")))).getField("m"))
                 .alias(field),
                 F.min(order).alias(order),
                 F.count("*").alias("n_lines"))
            .drop("_msg_grp"))


def sessionize(df: DataFrame, *, key: str | Sequence[str], ts: str = "ts",
               gap_seconds: float = 1800.0,
               target: str = "session_id") -> DataFrame:
    """Gap-based session assignment: a new session starts when the time since
    the previous event on the same key exceeds ``gap_seconds``.

    This is the batch analogue of the reference's idle-eviction state
    (cacheloop maxAge, filter_cacheloop.js:94-97): running sum of
    new-session flags = session ordinal per key.
    """
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(F.col(ts))
    prev = F.lag(F.col(ts)).over(w)
    new_sess = (prev.isNull() |
                (_epoch(F.col(ts)) - _epoch(prev) > gap_seconds)
                ).cast("int")
    run = (Window.partitionBy(*keys).orderBy(F.col(ts))
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return df.withColumn(target, F.sum(new_sess).over(run))


def forward_fill_correlation(df: DataFrame, *, key: str | Sequence[str],
                             order: str | Sequence[str], value: str,
                             target: str = "correlation_id") -> DataFrame:
    """esl-style correlation-id propagation (filter_esl.js:144-204): the id
    captured at CHANNEL_CREATE is carried to every later event of the call —
    an ``asof_lookup`` where every non-null ``value`` publishes."""
    return asof_lookup(df, key=key, order=order,
                       values={target: F.col(value)})


def bleg_correlation(df: DataFrame, *, key: str = "unique_id",
                     other_key: str = "other_leg_unique_id",
                     corr: str = "correlation_id") -> DataFrame:
    """B-leg resolution (filter_esl.js:144-154): an event without its own
    correlation id borrows the one stored under its other-leg key — a self
    equi-join on the leg key, last-value-wins."""
    legs = (df.filter(F.col(corr).isNotNull())
            .groupBy(key).agg(F.max(corr).alias("_bleg_corr")))
    joined = df.join(legs.withColumnRenamed(key, other_key),
                     on=other_key, how="left")
    return (joined
            .withColumn(corr, F.coalesce(F.col(corr), F.col("_bleg_corr")))
            .drop("_bleg_corr"))


def cacheloop_aggregate(df: DataFrame, *, extract: str,
                        avg_fields: Sequence[str] = (),
                        collect: bool = True,
                        member_fields: Sequence[str] | None = None,
                        order: str | None = None,
                        custom_type: str | None = None,
                        rename_group: str = "group") -> DataFrame:
    """The cacheloop aggregation (plugins/filters/cacheloop/
    filter_cacheloop.js:42-97): one output row per ``extract`` key with
    ``count``, ``avg_<field>`` means, and the ordered member array
    (whitelist-projected via ``member_fields``).

    groupBy + partial aggregation — Catalyst plans map-side combine so the
    shuffle carries partial states, not rows; at 100 TB this is the only
    viable shape for a hot-key aggregate (plus AQE skew splitting for the
    collect_list, which cannot combine partially).
    """
    aggs: list[Column] = [F.count("*").alias("count")]
    for f in avg_fields:
        aggs.append(F.avg(F.col(f).cast("double")).alias(f"avg_{f}"))
    if collect:
        members = member_fields or [c for c in df.columns if c != extract]
        struct_cols = [F.col(c) for c in members]
        if order is not None:
            ordered = F.array_sort(F.collect_list(
                F.struct(F.col(order).alias("_o"), *struct_cols)))
            aggs.append(F.transform(
                ordered, lambda s: s.dropFields("_o")).alias(rename_group))
        else:
            aggs.append(F.collect_list(F.struct(*struct_cols)).alias(rename_group))
    out = df.groupBy(F.col(extract).alias("extract")).agg(*aggs)
    if custom_type:
        out = out.withColumn("type", F.lit(custom_type))
    return out


def salted_aggregate(df: DataFrame, *, key: str, aggs: dict[str, Column],
                     salt_buckets: int = 32) -> DataFrame:
    """Two-phase skew-safe aggregation for algebraic aggregates: partial
    aggregate on (key, salt) then final on key.  The north rule's explicit
    skew policy for the hot `source` value — a 40%-frequency key would
    otherwise pin one reducer.

    ``aggs`` maps output name -> (partial_expr, final stage is derived):
    supported values are F.count/F.sum/F.avg expressions declared by name:
      {"cnt": F.count("*"), "total": F.sum("x"), "mean": F.avg("x")}
    """
    salted = df.withColumn("_salt", (F.rand(seed=7) * salt_buckets).cast("int"))
    partial_aggs, final_aggs = [], []
    for name, col in aggs.items():
        fn = col._jc.toString() if hasattr(col, "_jc") else str(col)
        if fn.startswith("count("):
            partial_aggs.append(col.alias(f"_p_{name}"))
            final_aggs.append(F.sum(f"_p_{name}").alias(name))
        elif fn.startswith("sum("):
            partial_aggs.append(col.alias(f"_p_{name}"))
            final_aggs.append(F.sum(f"_p_{name}").alias(name))
        elif fn.startswith("avg("):
            inner = fn[4:-1]
            partial_aggs.append(F.sum(inner).alias(f"_ps_{name}"))
            partial_aggs.append(F.count(inner).alias(f"_pc_{name}"))
            final_aggs.append((F.sum(f"_ps_{name}") / F.sum(f"_pc_{name}")).alias(name))
        else:
            raise ValueError(f"salted_aggregate supports count/sum/avg, got {fn}")
    partial = salted.groupBy(key, "_salt").agg(*partial_aggs)
    return partial.groupBy(key).agg(*final_aggs)


def esl_correlate(df: DataFrame, *, key: str = "correlation_id",
                  ts: str = "ts", event: str = "event_name",
                  metric: str = "metric") -> DataFrame:
    """FreeSWITCH-style call correlation (filter_esl.js:137-251) as one
    batch plan: per call key, propagate the id captured at CHANNEL_CREATE
    across the whole call (forward fill), mark answered/destroyed lifecycle
    state, and emit ONE summary row per call — created/answered/destroyed
    timestamps, duration, event count, avg metric.

    The reference mutates a persistent uuid.db per event (:174-204); here
    the same outputs derive from an ordered window + one groupBy — shuffle
    once on the call key.

    PERF note (r06): a pure one-groupBy formulation (answered_at =
    max(when(ANSWER, ts)) — the running-last forward fill is redundant for
    this summary) was tried and REVERTED: removing the window changed the
    order rows reach avg(metric), and at sf0.1 eleven calls' means land
    exactly on the 6-dp rounding boundary where the FP summation order
    decides the rounded value against the DuckDB oracle.  The (key, ts)
    ORDER is load-bearing for value parity, not just for the fill.
    PERF (r06b): the order is now produced by an explicit hash
    repartition + sortWithinPartitions(key, ts) — the exact exchange and
    sort spec the window ran — WITHOUT the Window operator's running-
    last() pass, whose outputs the summary never read (created_at is
    min(ts); max of a running-last of when(ANSWER, ts) == max of the
    when itself).  Rows reach every aggregate in the identical (key, ts)
    order, which scripts/check_oracle.py re-verifies at sf0.1 (the SF
    where the rounding ties live).
    """
    ordered = (df.repartition(F.col(key))
               .sortWithinPartitions(F.col(key), F.col(ts)))
    return (ordered.groupBy(key)
            .agg(F.min(ts).alias("created_at"),
                 F.max(F.when(F.col(event) == "CHANNEL_ANSWER",
                              F.col(ts))).alias("answered_at"),
                 F.max(F.when(F.col(event) == "CHANNEL_DESTROY", F.col(ts)))
                 .alias("destroyed_at"),
                 F.count("*").alias("n_events"),
                 F.avg(metric).alias("avg_metric"))
            .withColumn("answered", F.col("answered_at").isNotNull())
            .withColumn("duration_sec",
                        _epoch(F.col("destroyed_at"))
                        - _epoch(F.col("created_at"))))


def _first_match(arms) -> Column:
    """One CASE WHEN over ``(condition, value)`` arms: the first arm whose
    condition holds gives the value, else NULL."""
    expr = None
    for cond, val in arms:
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return expr


def type_dispatch(df: DataFrame, type_col: str,
                  handlers: "dict[object, Column]",
                  target: str, default: Column | None = None) -> DataFrame:
    """app_janus-style type-dispatched handling (filter_app_janus.js:34-121):
    the per-type handler table becomes one mutually-exclusive CASE column —
    evaluated once per row instead of a JS handler lookup per event."""
    expr = _first_match((F.col(type_col) == tval, col)
                        for tval, col in handlers.items())
    if default is not None:
        expr = expr.otherwise(default)
    return df.withColumn(target, expr)


def app_janus_correlate(df: DataFrame, *, ts: str = "ts",
                        order: str = "event_id") -> DataFrame:
    """Janus WebRTC event correlation (filter_app_janus.js:33-121):
    session_id <-> transport_id <-> opaque_id pairing propagation with
    type-32 media ip/port enrichment.

    Reference semantics, re-expressed relationally:
      * type 64 events are dropped outright (:94-95)
      * type 1 (session create/destroy) publishes both pairing directions:
        session -> transport and transport -> session (:64-79 GunDB puts)
      * type 2 publishes session -> opaque_id (:83-88)
      * type 128 (transport events, no native session_id) backfills
        session_id via the transport pairing and publishes the transport's
        ip/port (:96-108)
      * type 32 (media) rows enrich with ip/port resolved through
        session -> transport -> ip/port, defaulting '0.0.0.0'/0 (:110-119)

    The GunDB key-value store becomes three PAIRING DIMENSIONS derived by
    aggregation (latest write per key wins — deterministic (ts, order)
    tie-break).  Join strategy is left to Catalyst/AQE on purpose: the dims
    are O(#sessions)/O(#transports) — far smaller than the event stream but
    NOT constant-size, so a forced broadcast would OOM at 10^10 sessions
    while AQE's runtime SMJ->BHJ conversion still broadcasts them whenever
    they fit.  A batch replay reads the FINAL pairing value (the
    processing-time analogue of the reference's live GunDB reads).

    Expects columns: ``type`` (int), ``session_id``, ``transport_id``,
    ``opaque_id``, ``ip``, ``port``, plus ts/order for recency.
    Adds/fills: session_id (type-128 backfill), opaque_id (propagated per
    session), media_ip/media_port (type 32 only).
    """
    # PERF (r06): latest-write-wins as max_by over the (ts, order) struct
    # instead of a row_number sort-window — a hash aggregate with
    # map-side partial combine (no per-key sort, ~|keys| rows cross the
    # exchange instead of every event).  (ts, order) is the same
    # deterministic recency key the window ordered by; struct comparison
    # is lexicographic, so the selected row is identical.
    # PERF (r06b): the four pairing dims collapse into TWO keyed
    # aggregations (session-keyed and transport-keyed) with CONDITIONAL
    # max_by per value — max_by ignores rows whose ordering expression is
    # null, so when(type==.., recency) reproduces each original filtered
    # dim exactly (a key with no qualifying rows yields null, which the
    # downstream coalesces treat identically to the old left-join miss).
    # 2 source scans + 2 exchanges instead of 4+4; the opaque and media
    # lookups share ONE join of the merged session dim (the media values
    # were already consumed only under when(type==32)).
    live = df.filter(F.col("type") != 64)
    recency = F.struct(F.col(ts).alias("_t"), F.col(order).alias("_o"))
    typ = F.col("type")
    t1_ok = ((typ == 1) & F.col("session_id").isNotNull()
             & F.col("transport_id").isNotNull())
    t2_ok = ((typ == 2) & F.col("session_id").isNotNull()
             & F.col("opaque_id").isNotNull())
    t128_ok = ((typ == 128) & F.col("transport_id").isNotNull()
               & F.col("ip").isNotNull())
    sess_dims = (live.filter(t1_ok | t2_ok)
                 .groupBy("session_id")
                 .agg(F.max_by(F.col("transport_id"),
                               F.when(t1_ok, recency)).alias("_mtr"),
                      F.max_by(F.col("opaque_id"),
                               F.when(t2_ok, recency)).alias("_op"))
                 .withColumnRenamed("session_id", "_sd_sess"))
    tr_dims = (live.filter(t1_ok | t128_ok)
               .groupBy("transport_id")
               .agg(F.max_by(F.col("session_id"),
                             F.when(t1_ok, recency)).alias("_bf_session"),
                    F.max_by(F.col("ip"),
                             F.when(t128_ok, recency)).alias("_tip"),
                    F.max_by(F.col("port"),
                             F.when(t128_ok, recency)).alias("_tport")))
    tr_bf = tr_dims.select(F.col("transport_id").alias("_bf_tr"),
                           "_bf_session")
    tr_ip = tr_dims.select(F.col("transport_id").alias("_ip_tr"),
                           "_tip", "_tport")

    out = (live
           # type-128 session backfill through the transport pairing
           .join(tr_bf,
                 (F.col("type") == 128) &
                 (F.col("transport_id") == F.col("_bf_tr")), "left")
           .withColumn("session_id", F.coalesce("session_id", "_bf_session"))
           .drop("_bf_tr", "_bf_session")
           # opaque propagation + media transport per (possibly
           # backfilled) session, one join: _mtr is only read under
           # when(type==32), so attaching it to every matching session is
           # value-identical to the old type-32-gated join
           .join(sess_dims,
                 F.col("session_id") == F.col("_sd_sess"), "left")
           .withColumn("opaque_id", F.coalesce("opaque_id", "_op"))
           .withColumn("_mtr32", F.when(F.col("type") == 32, F.col("_mtr")))
           .drop("_sd_sess", "_op", "_mtr")
           # media enrichment: session -> transport -> ip/port
           .join(tr_ip,
                 F.col("_mtr32") == F.col("_ip_tr"), "left")
           .withColumn("media_ip",
                       F.when(F.col("type") == 32,
                              F.coalesce("_tip", F.lit("0.0.0.0"))))
           .withColumn("media_port",
                       F.when(F.col("type") == 32,
                              F.coalesce(F.col("_tport").cast("int"),
                                         F.lit(0))))
           .drop("_mtr32", "_ip_tr", "_tip", "_tport"))
    return out


def app_sonus_reassemble(df: DataFrame, *, source: str = "path",
                         order: str = "line_no", field: str = "message",
                         corr_regex: str = r"Call-ID: (\S+)") -> DataFrame:
    """Sonus SBC log correlation (filter_app_sonus.js:35-101): multiline SIP
    reassembly + carried context.  The reference keeps a module-level
    `ipcache` updated by "sending from"/"Incoming message" lines (:31-57)
    and buffers payload lines until a blank line flushes (:59-68); the
    correlation id is regex-extracted from the reassembled Call-ID header
    (:92-95).

    Batch shape: forward-fill the last-seen direction line per source
    (the ipcache), group payload lines by running blank-line count, emit
    one row per message with the extracted correlation_id.
    """
    w = (Window.partitionBy(source).orderBy(F.col(order))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    direction = F.when(
        F.col(field).rlike("sending from|Incoming message"), F.col(field))
    # blank line closes a message; running count of blanks = message group.
    # The blank flag is a plain column BEFORE the fill, so the running sum
    # shares asof_lookup's Window operator (a Project between two windows
    # of one spec keeps them apart).
    blank = (F.trim(F.col(field)) == "").cast("int")
    ctx = asof_lookup(df.withColumn("_blank", blank), key=source,
                      order=order, values={"_dir": direction})
    grouped = (ctx.withColumn("_grp", F.sum("_blank").over(w))
               .filter(F.col("_blank") == 0)
               .filter(~F.col(field).rlike("sending from|Incoming message")))
    # rcinfo is the fill in force at the message's last kept line, not
    # whichever row the groupBy shuffle delivers first
    return (grouped.groupBy(source, "_grp")
            .agg(F.concat_ws("\n", F.array_sort(F.collect_list(
                     F.struct(F.col(order).alias("o"),
                              F.col(field).alias("m")))).getField("m"))
                 .alias("payload"),
                 F.max_by("_dir", F.col(order)).alias("rcinfo"),
                 F.min(order).alias(order))
            .withColumn("correlation_id",
                        F.regexp_extract("payload", corr_regex, 1))
            .drop("_grp"))


def _device_key(df: DataFrame, key, op: str) -> list:
    """Resolve a reassembly operator's partition key SCALE-SAFELY
    (VERDICT r05 #3): ``None`` (the default) auto-detects the natural
    per-device column (``path``/``source``/``host``) so the default plan
    never ships a single-partition global sort; an explicit ``key=()``
    opts into the reference's one-agent global stream (faithful, but one
    task sorts everything — the scale-killer BENCH.md documents)."""
    if key is not None:
        return list(key)
    for cand in ("path", "source", "host"):
        if cand in df.columns:
            return [cand]
    raise ValueError(
        f"{op}: no per-device partition column (path/source/host) found — "
        "pass key=['<device-col>'] to partition the reassembly stream, or "
        "key=() to explicitly opt into the reference's single-stream "
        "global window (does not scale)")


# --- app_janus_sip ------------------------------------------------------------


def app_janus_sip_correlate(df: DataFrame, *, order: str = "event_id",
                            ts: str = "ts_us") -> DataFrame:
    """Janus SIP-plugin event -> SIP/HEP (plugins/filters/app_janus_sip/
    filter_app_janus_sip.js:41-155).  Two cache dims re-expressed as
    latest-wins joins:

      * type 128 ``connected`` publishes websocket id -> client ip
        (:52-56);
      * type 1 with event.transport.id resolves the websocket ip onto the
        session (:57-66; like the reference, a session whose websocket
        never connected carries a NULL ip);
      * rows with event.data.sip parse Via host/port/rport + Call-ID from
        the raw message (parsip's fields the addressing actually uses);
        a session with NO cache entry infers {ip, port} from its FIRST
        SIP event's Via and keeps it (:97-104 cache.set) — a per-session
        first() window;
      * ``sip-out``: src = session ip:port (5050 fallbacks), dst = Via
        host:port; ``sip-in``: src = Via host:port, dst = session ip with
        the Via ``rport`` (:115-147).  time_sec = ts/1e6; time_usec
        mirrors the reference's (ts/1000)%1000 millisecond slice exactly
        (a documented reference quirk — NOT true microseconds).

    Expects columns: type int, ``session_id``, ``ws_id`` (event.id /
    event.transport.id), ``ws_event`` (event.data.event), ``ws_ip``
    (event.data.ip), ``sip`` (raw event.data.sip), `order`, `ts` (Janus
    micros).  Output: one HEP row per SIP event."""
    t = F.col("type").cast("int")

    ws_dim = (df.filter((t == 128) & (F.col("ws_event") == "connected")
                        & F.col("ws_id").isNotNull())
              .groupBy(F.col("ws_id").alias("_w_id"))
              .agg(F.max_by("ws_ip", order).alias("_w_ip")))

    sess_dim = (df.filter((t == 1) & F.col("ws_id").isNotNull()
                          & F.col("session_id").isNotNull())
                .groupBy(F.col("session_id").alias("_s_id"))
                .agg(F.max_by("ws_id", order).alias("_s_ws"))
                .join(ws_dim, F.col("_s_ws") == F.col("_w_id"), "left")
                .select("_s_id", F.col("_w_ip").alias("_sess_ip")))

    sip_raw = F.col("sip").cast("string")
    via_re = r"(?im)^(?:Via|v)\s*:\s*SIP/2\.0/\w+\s+([^;:\s]+)(?::([0-9]+))?"
    rport = F.regexp_extract(sip_raw, r"(?i);rport=([0-9]+)", 1) \
        .try_cast("int")
    callid = F.regexp_extract(sip_raw,
                              r"(?im)^(?:Call-ID|i)\s*:\s*(\S+)", 1)
    via = F.col("_via")
    sips = (df.filter(sip_raw.isNotNull() & (sip_raw != "")
                      & F.col("session_id").isNotNull())
            .select(F.col(order), F.col(ts).cast("long").alias("_ts"),
                    F.col("session_id"), sip_raw.alias("payload"),
                    F.col("ws_event").alias("_ev"),
                    regex_groups(sip_raw, via_re, (1, 2)).alias("_via"),
                    rport.alias("_vr"), callid.alias("_cid"))
            # a Via miss reads '' for the host, as regexp_extract does
            .select("*", F.coalesce(F.get(via, 1), F.lit("")).alias("_vh"),
                    F.get(via, 2).try_cast("int").alias("_vp")))
    # cache-miss inference: the session adopts its FIRST SIP event's Via
    # host and port together
    w_first = (Window.partitionBy("session_id").orderBy(F.col(order))
               .rowsBetween(Window.unboundedPreceding, 0))
    sips = (sips.withColumn("_inf", F.first(F.struct("_vh", "_vp"))
                            .over(w_first))
            .join(sess_dim, F.col("session_id") == F.col("_s_id"), "left"))
    has_dim = F.col("_s_id").isNotNull()
    sess_ip = F.when(has_dim, F.col("_sess_ip")) \
        .otherwise(F.col("_inf._vh"))
    sess_port = F.when(has_dim, F.lit(None).cast("int")) \
        .otherwise(F.col("_inf._vp"))
    is_out = F.col("_ev") == "sip-out"
    is_in = F.col("_ev") == "sip-in"
    sec = F.col("_ts")
    return (sips.filter(is_out | is_in)
            .select(
                F.col(order), F.col("session_id"),
                *hep_columns(
                    proto_type=1, payload=F.col("payload"),
                    correlation_id=F.coalesce(F.col("_cid"), F.lit("")),
                    src_ip=F.when(is_out,
                                  F.coalesce(sess_ip, F.lit("127.0.0.1")))
                    .otherwise(F.coalesce(F.col("_vh"),
                                          F.lit("127.0.0.1"))),
                    src_port=F.when(is_out,
                                    F.coalesce(sess_port, F.lit(5050)))
                    .otherwise(F.coalesce(F.col("_vp"), F.lit(5050))),
                    dst_ip=F.when(is_out, F.coalesce(F.col("_vh"),
                                                     F.lit("127.0.0.1")))
                    .otherwise(sess_ip),
                    dst_port=F.when(is_out,
                                    F.coalesce(F.col("_vp"), F.lit(5050)))
                    .otherwise(F.coalesce(F.col("_vr"), F.lit(5050))),
                    protocol=17,
                    # the reference's (ts/1000)%1000 millisecond slice
                    ts_sec=F.floor(sec / 1000000),
                    ts_usec=F.floor((sec / 1000) % 1000))))


# --- app_genesys --------------------------------------------------------------


def app_genesys_correlate(df: DataFrame, *, field: str = "message",
                          order: str = "line_no",
                          correlation_hdr: str | None = None) -> DataFrame:
    """Genesys SIP Server log -> SIP/HEP (plugins/filters/app_genesys/
    filter_app_genesys.js:33-130).  The reference's LRU pairs
    ``CID:CUUID><callid>:<uuid>`` publications both ways; SIPTR
    Received / ``Sending  [`` blocks emit SIP payloads whose correlation
    id prefers the session UUID, and ``event: message`` log lines
    resolve their CallUUID back to proto_type 100 rows:

      * Received head ``Received [t,u] N bytes from IP:PORT `` -> src =
        remote, dst = local; Sending mirrors (:88-95 rcv ternaries);
      * local ip = the Call-ID's ``@host`` part (127.0.0.1 fallback),
        local port = the first ``<host>:<port>>`` match in the payload
        (5060 fallback, :55-58);
      * payload = the block minus its first (head) line, first LF -> CRLF
        (the reference replaces only the first, :52);
      * correlation id = LRU uuid for the Call-ID when published, else
        the Call-ID (:119-122; the cached correlation overrides even the
        correlation_hdr extract).

    Batch re-expression: the CID:CUUID LRU becomes a latest-wins pairing
    dim joined on Call-ID (AQE picks broadcast when it fits — same
    rationale as app_janus_correlate's dims).  Output: (`order`, payload,
    correlation_id, proto_type, src_ip, src_port, dst_ip, dst_port,
    protocol)."""
    msg = F.col(field).cast("string")
    ord_c = F.col(order)

    # pairing dim: CID:CUUID><callid>:<uuid> (:42-47), latest wins
    cid_pub = F.split(F.get(F.split(msg, ">"), 1), ":")
    pubs = (df.filter(msg.contains("CID:CUUID>"))
            .select(F.get(cid_pub, 0).alias("_cid"),
                    F.get(cid_pub, 1).alias("_uuid"),
                    ord_c.alias("_po"))
            .filter(F.col("_cid").isNotNull()
                    & F.col("_uuid").isNotNull())
            .groupBy("_cid").agg(F.max_by("_uuid", "_po").alias("_uuid")))

    rcv_re = r"Received \[(.*),(.*)\] (.*) bytes from (.*):(.*) "
    snd_re = r"Sending  \[(.*),(.*)\] (.*) bytes to (.*):(.*) "
    is_rcv = msg.contains("SIPTR: Received")
    is_snd = ~is_rcv & msg.contains(": Sending  [")
    head = F.get(F.split(msg, "\n"), 0)
    body = F.regexp_replace(msg, r"^[^\n]*\n", "")
    # reference :52: only the FIRST \n of the body becomes \r\n (the JS
    # string-arg .replace — which doubles the \r on an already-CRLF
    # body); [^\n] not ``.`` because Java's dot excludes \r too
    payload = F.regexp_replace(body, r"^([^\n]*)\n", "$1\r\n")
    callid = F.regexp_extract("payload", r"Call-ID: (.*)\r", 1)
    callid = F.when(callid != "", callid).otherwise("false@127.0.0.1")
    # the head's (transport, remote ip, remote port): one regex_groups
    # pass per row, under its direction's mask
    sip = (df.filter(is_rcv | is_snd)
           .select(ord_c, payload.alias("payload"), is_rcv.alias("_rcv"),
                   F.when(is_rcv, regex_groups(head, rcv_re, (2, 4, 5)))
                   .otherwise(regex_groups(head, snd_re, (2, 4, 5)))
                   .alias("_g"))
           .withColumn("_callid", callid))
    # first '<localIp>:<port>>' occurrence (the reference builds a
    # per-row RegExp from localIp, :56 — Spark patterns must be literal,
    # so match every host:port> pair in one regex pass and pick the one
    # whose host segment ends with the local ip; URI userinfo like 'a@'
    # glues onto the host charset, hence endswith rather than equality).
    # payload and _lip are columns here, and the host charset has no ':',
    # so the filter's lambda splits host from port with substring_index.
    sip = sip.withColumn("_lip", F.coalesce(
        F.get(F.split("_callid", "@"), 1), F.lit("127.0.0.1")))
    hp = F.regexp_extract_all(
        "payload", F.lit(r"([^\s<:>]+:[0-9]+)>"), F.lit(1))
    mine = F.filter(hp, lambda x: F.substring_index(x, ":", 1)
                    .endswith(F.col("_lip")))
    g = F.col("_g")
    sip = sip.select(
        ord_c, "payload", "_callid", "_rcv", "_lip",
        F.coalesce(F.substring_index(F.get(mine, 0), ":", -1),
                   F.lit("5060")).alias("_lport"),
        F.get(g, 1).alias("_proto"),
        # a head miss reads '' for the remote ip, as regexp_extract does
        F.coalesce(F.get(g, 2), F.lit("")).alias("_rip"),
        F.get(g, 3).alias("_rport"))

    logs = (df.filter(msg.contains("event: message"))
            .select(ord_c, msg.alias("payload"),
                    F.regexp_extract(msg, r"CallUUID\t'(.*)'\n", 1)
                    .alias("_uuid_log"))
            .filter(F.col("_uuid_log") != ""))

    # join strategy left to AQE like app_janus_correlate's dims: the
    # pairing dim is O(#calls), broadcastable when small but unbounded
    sip = sip.join(pubs, sip["_callid"] == pubs["_cid"], "left")
    corr = F.coalesce(F.col("_uuid"), F.col("_callid"))
    if correlation_hdr:
        xcid = F.trim(F.regexp_extract(
            F.col("payload"), correlation_hdr + r":\s?(.*)\r", 1))
        # LRU correlation overrides the header extract (:119-122)
        corr = F.coalesce(F.col("_uuid"),
                          F.when(xcid != "", xcid), F.col("_callid"))
    rcv = F.col("_rcv")
    sip_out = sip.select(ord_c, *hep_columns(
        proto_type=1, payload=F.col("payload"), correlation_id=corr,
        src_ip=F.when(rcv, F.col("_rip")).otherwise(F.col("_lip")),
        src_port=F.when(rcv, F.col("_rport")).otherwise(F.col("_lport")),
        dst_ip=F.when(rcv, F.col("_lip")).otherwise(F.col("_rip")),
        dst_port=F.when(rcv, F.col("_lport")).otherwise(F.col("_rport")),
        protocol=transport_protocol(F.col("_proto"))))
    # log lines: resolve uuid (their correlation IS the uuid; :76-86
    # emits rc [0,'UDP',...] localhost addressing)
    log_out = logs.select(ord_c, *hep_columns(
        proto_type=100, payload=F.col("payload"),
        correlation_id=F.col("_uuid_log"), src_ip="127.0.0.1", src_port=0,
        dst_ip="127.0.0.1", dst_port=0, protocol=17))
    return sip_out.unionByName(log_out)


# --- app_avaya ----------------------------------------------------------------


def app_avaya_correlate(df: DataFrame, *, field: str = "message",
                        order: str = "line_no",
                        key: "Sequence[str] | None" = None,
                        correlation_hdr: str | None = None) -> DataFrame:
    """Avaya SBC trace log -> SIP/HEP (plugins/filters/app_avaya/
    filter_app_avaya.js:34-96).  The reference buffers one ``SIPMSGT``
    block (``last``/``hold``), appends ``SIPMSGT+`` continuation lines to
    it, and RELEASES the buffer when the next ``SIPMSGT`` block arrives —
    the releasing block itself becomes the next buffer only when no
    emission happened (so block N emits at block N+1's arrival and the
    trigger is consumed: in a steady stream the ODD blocks emit).  Per
    released buffer: ``#012`` field split, ``split[0]`` timestamp
    (DD/MM/YYYY HH:mm:ss.SSS), ``split[2]`` local/remote datagram
    ``L<ip>:<port>/R<ip>:<port>/<proto>/``, optional ``split[3]`` egress
    remote overriding the destination, payload = the LAST field, optional
    correlation header extract.

    Batch re-expression: blocks rank per ``key`` partition; odd-ranked
    blocks (the held ones) emit when a later block exists, with their
    continuation lines' sanitized tails appended — a groupBy on the
    attached block id, no driver state."""
    key = _device_key(df, key, "app_avaya_correlate")
    msg = F.col("_m")
    is_cont = msg.contains("SIPMSGT+")
    is_block = ~is_cont & msg.contains("SIPMSGT #012")
    full = F.get(F.split(msg, r"SIPMSGT #012--------------------#012"), 1)
    # continuation sanitize + tail (reference :37-40)
    cont_tail = F.get(F.split(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(msg, "#015#012", "\r\n"),
                r">#012<", ">\n<"),
            r"#012--------------------", ""),
        r"SIPMSGT\+ "), 1)

    lines = df.select(*key, F.col(order),
                      F.regexp_replace(F.col(field), r"\r\n", "#012")
                      .alias("_m"))
    base = (asof_lookup(lines, key=key, order=order, values={
                "_blk_ord": F.when(is_block & full.isNotNull(),
                                   F.col(order))})
            .withColumn("_is_block", is_block)
            .withColumn("_is_cont", is_cont)
            .filter((F.col("_is_block") & full.isNotNull())
                    | F.col("_is_cont")))
    pieces = F.when(F.col("_is_block"), full).otherwise(cont_tail)
    grouped = (base
               .withColumn("_piece", pieces)
               .groupBy(*key, "_blk_ord")
               .agg(F.concat_ws(
                   "", F.array_sort(F.collect_list(
                       F.struct(F.col(order).alias("o"),
                                F.col("_piece").alias("p")))).getField("p"))
                   .alias("_buf")))
    ranked = (grouped
              .withColumn("_rk", F.row_number().over(
                  Window.partitionBy(*key).orderBy(F.col("_blk_ord"))))
              .withColumn("_n", F.count("*").over(Window.partitionBy(*key))))
    emit = ranked.filter((F.col("_rk") % 2 == 1)
                         & (F.col("_rk") < F.col("_n")))

    buf = F.regexp_replace(
        F.regexp_replace(F.col("_buf"), "#015#012", "\r\n"),
        r"#011|-->|<--|#012--------------------", "")
    parts = F.split(buf, "#012")
    dt = F.try_to_timestamp(F.get(parts, 0),
                            F.lit("dd/MM/yyyy HH:mm:ss.SSS"))
    dg_re = r"L(.*):(.*[0-9])/R(.*):(.*[0-9])/(.*)/"
    sip = F.element_at(parts, -1)
    corr = (F.trim(F.regexp_extract(
        sip, correlation_hdr + r":\s?(.*)\r", 1))
        if correlation_hdr else F.lit(""))
    # one regex_groups pass per datagram field, projected before the
    # addressing reads it
    dgrams = emit.select(
        F.col("_blk_ord").alias(order), sip.alias("_sip"),
        corr.alias("_corr"), dt.cast("double").alias("_sec"),
        regex_groups(F.get(parts, 2), dg_re, range(1, 6)).alias("_local"),
        regex_groups(F.get(parts, 3), dg_re, (3, 4)).alias("_egress"))

    def g(arr, i):
        v = F.get(F.col(arr), i)
        return F.when(v != "", v)

    return dgrams.select(F.col(order), *hep_columns(
        payload=F.col("_sip"), correlation_id=F.col("_corr"),
        src_ip=g("_local", 3), src_port=g("_local", 4),
        dst_ip=F.coalesce(g("_egress", 1), g("_local", 1)),
        dst_port=F.coalesce(g("_egress", 2), g("_local", 2)),
        protocol=transport_protocol(g("_local", 5)), proto_type=1,
        **epoch_split(F.col("_sec"))))


# --- app_ingate / app_cisco ---------------------------------------------------


def app_ingate_correlate(df: DataFrame, *, field: str = "message",
                         order: str = "line_no", ts: str | None = None,
                         key: "Sequence[str] | None" = None,
                         correlation_hdr: str =
                         r"(?:[Cc]all-[Ii][Dd]:|i:)") -> DataFrame:
    """Ingate SIParator firewall log -> SIP/HEP assembly
    (plugins/filters/app_ingate/filter_app_ingate.js:52-230).  The
    reference's module-global ``ipcache`` carries the last egress/ingress
    addressing onto the following indented SIP block:

      * ``send s[fl] ... to A:p via B:q PROTO connection N:`` (egress,
        :67) publishes src=B:q (via), dst=A:p, proto;
      * ``recv from A:p via B:q PROTO connection N:`` (ingress, :92)
        publishes src=A:p, dst=B:q, proto;
      * an (already multiline-reassembled) block containing 8+ spaces and
        ``SIP/2.0`` re-assembles the SIP payload: per inner line, the
        ``:\\s{14}(.*)$`` capture joins with CRLF, a bare trailing ``:``
        after the 3rd line contributes the blank SDP separator line, and
        ``Debug: sipfw:|Info: sipfw:`` past line 3 bails out (:135-160).
        The block emits payload + the forward-filled rcinfo (proto_type 1,
        protocol UDP->17 else 6) and the Call-ID/i: correlation id.

    Batch re-expression: address publications forward-fill over a
    ``key``-partitioned window (one device per partition; the reference
    is one-agent-global) — same shape as app_sonus.  Output: one row per
    SIP block — (`order`, payload, correlation_id, src_ip, src_port,
    dst_ip, dst_port, protocol[, ts])."""
    key = _device_key(df, key, "app_ingate_correlate")
    msg = F.col(field).cast("string")
    send_re = (r"send\ss[fl](?:\s\(0x.*\))?\sto\s(.*):(.*)\svia\s"
               r"(.*):([^\s]+)\s(\w+)\sconnection\s\d+:")
    recv_re = (r"(?i)recv\sfrom\s(.*):(.+)\svia\s(.*):(.+)\s(\w+)\s"
               r"connection\s\d+:")
    is_send = msg.contains("send s")
    is_recv = ~is_send & msg.contains("recv")
    # one regex_groups pass per row under its direction's mask, the groups
    # in (src ip, src port, dst ip, dst port, proto) order, projected
    # before the publication reads them; a line whose pattern misses
    # publishes all-NULL addressing
    df = df.withColumn(
        "_g", F.when(is_send, regex_groups(msg, send_re, (3, 4, 1, 2, 5)))
        .when(is_recv, regex_groups(msg, recv_re, range(1, 6))))

    def g(i):
        v = F.get(F.col("_g"), i)
        return F.when(v != "", v)

    pub = F.when(is_send | is_recv, F.struct(
        g(1).alias("sip_"), g(2).alias("sport"), g(3).alias("dip"),
        g(4).alias("dport"), g(5).alias("proto")))
    cols = [F.col(order)]
    if ts:
        cols.append(F.col(ts))
    base = asof_lookup(df, key=key, order=order, values={"_rc": pub}) \
        .select(*cols, msg.alias("_m"), "_rc")

    @F.pandas_udf("string")
    def assemble(s: pd.Series) -> pd.Series:
        line_re = re.compile(r"(?::\s{14}(.*)|(:))$")
        bail_re = re.compile(r"Debug: sipfw:|Info: sipfw:")

        def one(v):
            if v is None:
                return None
            out = []
            for i, ln in enumerate(v.split("\n")):
                if i > 2 and bail_re.search(ln):
                    break
                m = line_re.search(ln)
                if m and m.group(1) is not None:
                    out.append(m.group(1) + "\r\n")
                elif i > 2 and m and m.group(2) is not None:
                    out.append("\r\n")
            return "".join(out)
        return s.map(one)

    sip_block = (base.filter(F.col("_m").contains("        ")
                             & (F.col("_m").contains(" SIP/2.0")
                                | F.col("_m").contains("SIP/2.0 ")))
                 .withColumn("_sip", assemble(F.col("_m"))))
    corr = F.regexp_extract(F.col("_sip"),
                            correlation_hdr + r"\s?(.*?)\r?\n", 1)
    out_cols = [F.col(order), *hep_columns(
        payload=F.col("_sip"), correlation_id=F.trim(corr),
        src_ip=F.col("_rc.sip_"), src_port=F.col("_rc.sport"),
        dst_ip=F.col("_rc.dip"), dst_port=F.col("_rc.dport"),
        protocol=transport_protocol(F.col("_rc.proto")), proto_type=1)]
    if ts:
        out_cols.append(F.col(ts))
    return sip_block.select(*out_cols)


def app_cisco_correlate(df: DataFrame, *, field: str = "message",
                        host: str = "host",
                        order: str = "line_no",
                        key: "Sequence[str] | None" = None) -> DataFrame:
    """Cisco ISR ``ccsipDisplayMsg`` log -> SIP/HEP assembly
    (plugins/filters/app_cisco/filter_app_cisco.js:86-160):

      * strip per-line syslog prefixes ``<pri>...: `` (:91-92);
      * Call-ID then x-cid (x-cid WINS when both present, :95-106);
      * ``Sent:`` -> src = the device host, dst = the From-URI host
        unless it equals the device (then the To-URI host);
        ``Received:`` mirrors (:119-147);
      * timestamp ``MMM [D]D HH:mm:ss.SSS`` -> epoch sec + usec
        (:149-156, moment semantics via try_to_timestamp — year-less,
        pinned to 1970 like a moment parse with no year context);
      * payload = cleaned block minus the ccsipDisplayMsg header line,
        with a CRLF terminator (:157-158).

    The reference's global ipcache persists missing fields across
    blocks — re-expressed as a forward-fill over a ``key``-partitioned
    window.  Its async ``dns.lookup`` FQDN resolution (:28-51, which
    races postProcess and indexes a string) is the reverse_dns operator's
    job — compose ``enrich.reverse_dns`` downstream when needed.
    Output: (`order`, host, payload, correlation_id, src_ip, dst_ip,
    ts_sec, ts_usec, proto_type=1)."""
    key = _device_key(df, key, "app_cisco_correlate")
    msg = F.col(field).cast("string")
    cleaned = F.regexp_replace(msg, r"<\d*>.*?(:\s|:)(\*|)", "")
    callid = F.regexp_extract(cleaned, r"(?m)Call-ID:\s(.*?)$", 1)
    xcid = F.regexp_extract(cleaned, r"(?m)x-cid:\s(.*?)$", 1)
    cid = F.when(xcid != "", xcid).when(callid != "", callid)
    direction = F.regexp_extract(cleaned, r"(Sent|Received):", 1)
    from_ip = F.regexp_extract(
        cleaned, r'From:\s(?:".*?"\s|)<sip:(?:.*?@|)(.*?)>;', 1)
    to_ip = F.regexp_extract(cleaned, r"To: <sip:(?:.*?@|)(.*?)>", 1)
    dev = F.col(host).cast("string")
    other = F.when((from_ip != "") & (from_ip != dev), from_ip) \
        .when(to_ip != "", to_ip)
    src = F.when(direction == "Sent", dev) \
        .when(direction == "Received", other)
    dst = F.when(direction == "Sent", other) \
        .when(direction == "Received", dev)
    date_s = F.regexp_extract(
        cleaned,
        r"([A-Za-z]{3}\s{1,2}\d{1,2}\s\d{2}:\d{2}:\d{2}\.\d+)", 1)
    dt = F.try_to_timestamp(F.when(date_s != "", date_s),
                            F.lit("MMM [ ]d HH:mm:ss.SSS"))
    ts_sec = dt.cast("double")
    payload = F.concat(F.regexp_replace(
        cleaned,
        r"^[A-Za-z]{3}\s{1,2}\d{1,2}\s\d{2}:\d{2}:\d{2}\.\d+.*?:"
        r"\s.*SIP/Msg/ccsipDisplayMsg:\n(Sent|Received):\n", ""),
        F.lit("\r\n"))

    base = asof_lookup(df, key=key, order=order, values={
        "_cid": cid, "_src": F.when(src != "", src),
        "_dst": F.when(dst != "", dst), "_tsec": ts_sec})
    return base.select(F.col(order), dev.alias("host"), *hep_columns(
        payload=payload,
        correlation_id=F.coalesce(F.col("_cid"), F.lit("")),
        src_ip=F.col("_src"), dst_ip=F.col("_dst"),
        **epoch_split(F.col("_tsec")), proto_type=1))


# --- janus trace/span assembly ------------------------------------------------

# The janus span model, declared once: janus_trace_spans and its streaming
# twin (streaming/state.py janus_span_stream) derive every predicate, span
# name, service and parent from the two tables below.  A row is of kind
# (type, subtype) when both equal; a None subtype matches any.


class _Family(NamedTuple):
    """A paired family (an uptrace LRU entry kind).  A row of the kind whose
    ``opens`` field holds the value opens the family's span; one whose
    ``closes`` field holds its value emits that span with its real
    duration.  A row may do both: its own open counts, so it pairs with
    itself."""
    family: str
    name: str                   # the open span's name
    service: str
    type: int
    subtype: int | None
    opens: tuple[str, str]      # (field, value)
    closes: tuple[str, str]


class _Point(NamedTuple):
    """A zero-duration point span, parented to the span of ``parent`` open
    at the row (NULL if that family never opened; the root always
    exists).  A row of the kind matches when ``field`` is None or its
    ``field`` value is a key of the ``name`` map."""
    parent: str
    service: str
    type: int
    subtype: int | None
    field: str | None
    name: str | dict[str, str]


_JANUS_ROOT = "sess"            # its span is the trace root
_JANUS_FAMILIES = (      # uptrace lru sess_/att_/sdp_/ice_ (:140-330)
    _Family("sess", "Session", "Session", 1, None,
            ("event_name", "created"), ("event_name", "destroyed")),
    _Family("att", "Handle attached", "Handle", 2, None,
            ("event_name", "attached"), ("event_name", "detached")),
    _Family("sdp", "JSEP Event - Offer", "JSEP", 8, None,
            ("jsep_type", "offer"), ("jsep_owner", "local")),
    _Family("ice", "ICE gathering", "ICE", 16, 1,
            ("ice_state", "gathering"), ("ice_state", "ready")),
)
# the first matching row wins
_JANUS_POINTS = (
    _Point("sess", "Session", 1, None, "event_name",
           {"destroyed": "Session destroyed"}),
    _Point("att", "Handle", 2, None, "event_name",
           {"detached": "Handle detached"}),
    _Point("sdp", "JSEP", 8, None, "jsep_owner",
           {"local": "JSEP Event - Answer"}),
    _Point("ice", "ICE", 16, 1, "ice_state",       # tracer :447-566
           {"connecting": "ICE connecting", "connected": "ICE connected",
            "ready": "ICE ready"}),
    _Point("ice", "ICE", 16, 2, None, "Local Candidate"),
    _Point("ice", "ICE", 16, 3, None, "Remote Candidate"),
    _Point("ice", "ICE", 16, 4, None, "Selected Candidates"),
    _Point("ice", "ICE", 16, 5, "dtls_state",
           {"trying": "DTLS trying", "connected": "DTLS connected"}),
    _Point("ice", "ICE", 16, 6, None, "Connection Up"),
    _Point("sess", "External", 4, None, None,      # tracer :300-320
           "External Event"),
    _Point("sess", "Plugin", 64, None, "data_event",   # tracer :698-814
           {e: f"User {e}" for e in ("joined", "configured", "published",
                                     "subscribing", "subscribed", "updated",
                                     "unpublished", "leaving")}),
    _Point("sess", "Transport Originated", 128, None, None,
           "Transport connected"),
    _Point("sess", "Core", 256, 1, None, "Startup"),
    _Point("sess", "Core", 256, 2, None, "Shutdown"),
)


def janus_trace_spans(df: DataFrame, *, order: str = "event_id",
                      ts: str = "ts_us", session: str = "session_id",
                      types: Sequence[int] | None = None) -> DataFrame:
    """Janus event -> OTel-style trace/span assembly: the span-pairing
    kernel shared by plugins/filters/app_janus/filter_app_janus_tracer.js
    (:174-919, flat deterministic-id spans) and app_janus_uptrace/
    filter_app_janus_uptrace.js (:140-420, LRU-paired start/end spans with
    real durations).  We implement the uptrace PAIRING with the tracer's
    span NAMES/services, per trace key: the session, or ``em:<emitter>``
    for the session-less types 128/256.  The span model (which rows open
    and close each paired family, and every point span with its service
    and parent) is the ``_JANUS_FAMILIES``/``_JANUS_POINTS`` tables above.
    Documented divergences: the tracer keys 128 on ``Math.random()``
    (:636) — we key deterministically; its 256 branch compares the
    stringified subtype with ``=== 1`` (:662-668) so it never actually
    emits — we implement the documented intent.

    Like the reference, a close without a live open pairs with the stale
    open (the LRU never deletes att_/sdp_/ice_ entries); an open that is
    never closed is never exported (the LRU span is dropped unflushed); a
    close that no open preceded emits only its point span, with a NULL
    parent unless the parent is the root (whose id needs no open).
    Batch re-expression: ONE shuffle — a per-trace-key window forward-
    fills each family's open (order, ts), closes emit the paired span
    with its real duration plus their point span, via one array-explode.

    Deterministic ids (cross-engine-portable divergence, documented: the
    reference uses md5 for trace ids but shake256/random bytes for span
    ids — same determinism-or-uniqueness intent, different hash):
    trace_id = md5(trace_key); root span_id = md5(trace_key)[:16]; child
    span ids = md5(trace_key:family:order)[:16] (family ``pt`` for point
    spans, at their own order).

    Expects columns: ``type`` int, ``session_id``, ``order``/``ts``
    (BIGINT event time, e.g. Janus micros) plus the optional per-type
    columns the tables read: subtype(int)/event_name/jsep_type/jsep_owner/
    ice_state/dtls_state/data_event, and emitter (missing ones read as
    NULL).  Output: one row per span — (order, session_id, trace_id,
    span_id, parent_span_id, name, service, start_us, end_us,
    duration_us).  Type 32 media METRICS are the tracer's prometheus half
    — covered by app_janus_correlate's enrichment, not spans."""
    cols = set(df.columns)

    # cached: every table row reuses one Column per field and per kind
    # (each Column call is a py4j round trip at build time)
    @functools.cache
    def c(name: str, dtype: str = "string") -> Column:
        return (F.col(name).cast(dtype) if name in cols
                else F.lit(None).cast(dtype))

    t = F.col("type").cast("int")
    if types is not None:
        df = df.filter(t.isin(*[int(x) for x in types]))

    @functools.cache
    def kind(typ: int, sub: int | None) -> Column:
        return (t == typ) if sub is None else (
            (t == typ) & (c("subtype", "int") == sub))

    def holds(row: _Family, pair: tuple[str, str]) -> Column:
        return kind(row.type, row.subtype) & (c(pair[0]) == pair[1])

    fams = [f.family for f in _JANUS_FAMILIES]
    kids = {fam: [j for j, p in enumerate(_JANUS_POINTS) if p.parent == fam]
            for fam in fams}
    points = []     # (condition, span name) per point row, in table order
    for p in _JANUS_POINTS:
        if p.field is None:
            points.append((kind(p.type, p.subtype), F.lit(p.name)))
        else:
            points.append((kind(p.type, p.subtype)
                           & c(p.field).isin(*p.name),
                           _first_match((c(p.field) == v, F.lit(name))
                                        for v, name in p.name.items())))

    tk = F.when(t.isin(128, 256), F.concat(F.lit("em:"), F.coalesce(
        c("emitter"), F.lit("")))).otherwise(F.col(session).cast("string"))
    ts_c = F.col("_ts")

    # PERF (r06b): NARROW the frame before the window shuffle — the raw
    # per-type string columns are read only by per-row predicates, so they
    # collapse into the open-family code `_ofl`, the close-family code
    # `_cfl`, the point row `_pt` and the point-span name `_pname`.
    # Roughly halves the bytes through the exchange and the window buffer.
    pre = df.select(
        tk.alias("_tk"), F.col(order),
        F.col(ts).cast("long").alias("_ts"),
        F.col(session).alias("_session"),
        _first_match((holds(f, f.opens), i)
                     for i, f in enumerate(_JANUS_FAMILIES)).alias("_ofl"),
        _first_match((holds(f, f.closes), i)
                     for i, f in enumerate(_JANUS_FAMILIES)).alias("_cfl"),
        _first_match((cond, j) for j, (cond, _) in enumerate(points))
        .alias("_pt"),
        _first_match(points).alias("_pname"))

    # each family's latest open (order, ts), the row's own included
    base = asof_lookup(pre, key="_tk", order=order, values={
        f"_o_{fam}": F.when(F.col("_ofl") == i, F.struct(
            F.col(order).alias("o"), ts_c.alias("t")))
        for i, fam in enumerate(fams)})
    # `_ofam`: the family whose open span this row closes
    base = base.select("*", _first_match(
        ((F.col("_cfl") == i) & F.col(f"_o_{fam}").isNotNull(), i)
        for i, fam in enumerate(fams)).alias("_ofam"))

    # PERF (r06/r06b): every id is ONE named column, md5-hashed only on
    # the rows whose span reads it.  Catalyst runs no common-subexpression
    # elimination inside a Generate's generator, so anything several span
    # fields read must be a real column before the explode.
    ofam, pt = F.col("_ofam"), F.col("_pt")
    emit_any = ofam.isNotNull() | pt.isNotNull()
    closing = [ofam == i for i in range(len(fams))]

    def child_id(fam: str, ord_col: Column) -> Column:
        return F.substring(F.md5(F.concat_ws(
            ":", F.col("_tk"), F.lit(fam), ord_col.cast("string"))), 1, 16)

    ids = [F.when(emit_any, F.md5(F.col("_tk"))).alias("_trace"),
           F.when(emit_any, F.substring(F.md5(F.col("_tk")), 1, 16))
           .alias("_root"),
           F.when(pt.isNotNull(), child_id("pt", F.col(order))).alias("_ptid")]
    for i, fam in enumerate(fams):
        if fam != _JANUS_ROOT:
            opened = F.col(f"_o_{fam}")
            ids.append(F.when((closing[i] | pt.isin(*kids[fam]))
                              & opened.isNotNull(),
                              child_id(fam, opened["o"])).alias(f"_id_{fam}"))
    base = base.select("*", *ids)

    def span_id(fam: str) -> Column:
        return F.col("_root" if fam == _JANUS_ROOT else f"_id_{fam}")

    def by_family(val) -> Column:
        return _first_match(zip(closing, map(val, _JANUS_FAMILIES)))

    # the paired open span, emitted at its family's close
    start = by_family(lambda f: F.col(f"_o_{f.family}")["t"])
    open_emit = F.when(ofam.isNotNull(), F.struct(
        by_family(lambda f: F.lit(f.name)).alias("name"),
        by_family(lambda f: F.lit(f.service)).alias("service"),
        by_family(lambda f: span_id(f.family)).alias("span_id"),
        by_family(lambda f: F.lit(None).cast("string")
                  if f.family == _JANUS_ROOT else F.col("_root"))
        .alias("parent_span_id"),
        start.alias("start_us"), ts_c.alias("end_us"),
        (ts_c - start).alias("duration_us")))
    point_emit = F.when(pt.isNotNull(), F.struct(
        F.col("_pname").alias("name"),
        _first_match((pt == j, F.lit(p.service))
                     for j, p in enumerate(_JANUS_POINTS)).alias("service"),
        F.col("_ptid").alias("span_id"),
        _first_match((pt.isin(*kids[fam]), span_id(fam)) for fam in fams)
        .alias("parent_span_id"),
        ts_c.alias("start_us"), ts_c.alias("end_us"),
        (ts_c - ts_c).alias("duration_us")))

    # Explode the 2-slot span array FIRST and drop the null slots with a
    # plain post-filter.  An F.filter(...) HOF here would be a
    # CodegenFallback expression, forcing the span-struct CaseWhen trees
    # into interpreted per-row evaluation; explode+IsNotNull keeps them in
    # codegen.
    return (base
            .select(F.col(order), F.col("_session").alias("session_id"),
                    F.col("_trace").alias("trace_id"),
                    F.explode(F.array(open_emit, point_emit)).alias("_sp"))
            .filter(F.col("_sp").isNotNull())
            .select(order, "session_id", "trace_id", "_sp.span_id",
                    "_sp.parent_span_id", "_sp.name", "_sp.service",
                    "_sp.start_us", "_sp.end_us", "_sp.duration_us"))


# --- app_rtpproxy -------------------------------------------------------------

# RTPmap payload-type table (filter_app_rtpproxy.js:10-29 — the public RFC
# 3551 static assignments the reference hardcodes); unknown pt -> 'Dynamic'.
RTP_CODEC_MAP = {0: "PCMU", 3: "GSM", 8: "PCMA", 9: "G722", 18: "G729",
                 34: "H263", 101: "Telephony-Event"}

# Line families (filter_app_rtpproxy.js:58-133): the contains() needle that
# selects a line, the verbatim branch regex and the fields its groups fill.
_RTP_FAMILIES = (
    ("received command ",
     r'received command "(.*)\s+(US|U|L)c(.*?)\s(.*?)\s',
     ("c_token", "c_mode", "c_codecs", "c_corr")),
    ("new session on IPv4 port ",
     r"new session on IPv4 port\s+(.*) created.*tag\s+(.*)",
     ("a_port", "a_token")),
    ("rtpc_doreply: sending reply ",
     r'rtpc_doreply: sending reply "(.*)\s+([0-9.].*)\\n"',
     ("d_port", "d_ip")),
    ("sending reply ",
     r'sending reply "(.*)\s+(.*?)\s(.*?)#012',
     ("r_token", "r_port", "r_ip")),
    ("is cleaned up",
     r"session on ports (.*)/(.*?)\sis cleaned up",
     ("x_p1", "x_p2")))


def _rtp_match(df: DataFrame, line: Column, order: str) -> DataFrame:
    """(`order`, _m): every rtpproxy family's groups as one nullable struct,
    NULL where the family's mask is false or its regex misses, '' for an
    empty capture.  Masks are independent, except that a doreply is never a
    plain reply (the reference's if/else).  One `parse.regex_groups` pass
    per family: the arrays are projected before the struct reads them, or
    the optimizer would inline a pass per field.  ``(?d)``: `.` excludes
    only \\n, as Python's does; Java's \\s/\\d are ASCII like re.ASCII."""
    masks = [line.contains(needle) for needle, _, _ in _RTP_FAMILIES]
    masks[3] = masks[3] & ~masks[2]     # a doreply is never a plain reply
    arrays = [F.when(mask, regex_groups(line, "(?d)" + rx,
                                        range(1, len(names) + 1)))
              .alias(f"_f{i}")
              for i, (mask, (_, rx, names))
              in enumerate(zip(masks, _RTP_FAMILIES))]
    fields = [F.get(F.col(f"_f{i}"), j + 1).alias(name)
              for i, (_, _, names) in enumerate(_RTP_FAMILIES)
              for j, name in enumerate(names)]
    return (df.select(F.col(order), *arrays)
            .select(F.col(order), F.struct(*fields).alias("_m")))


def app_rtpproxy_correlate(df: DataFrame, *, field: str = "message",
                           order: str = "line_no") -> DataFrame:
    """RTPProxy debug-log correlation (plugins/filters/app_rtpproxy/
    filter_app_rtpproxy.js:55-134): the reference keeps a driver-side
    ``ipcache`` keyed by command token (and a port->token alias map) across
    lines; replies complete the cached session and emit a call-correlation
    object.  Relational re-expression — each cache becomes one
    ``enrich.asof_join`` (the writers' and readers' lines merged into one
    stream per token or port, ordered by ``order``):

      * ``received command "<token> [US|U|L]c<codecs> <corr>`` rows CREATE a
        session: first codec -> RTPmap name/rate/pt, direction L->1 else 0
        (:58-74)
      * ``new session on IPv4 port <port> created ... tag <token>`` rows
        publish the port->token alias (:80-84)
      * ``rtpc_doreply: sending reply "<port> <ip>\\n"`` resolves its token
        THROUGH the alias (:86-100); plain ``sending reply "<token> <port>
        <ip>#012`` is keyed directly (:102-115).  Either emits one
        method='create' row with the reply's port/ip completing the LATEST
        prior create for that token — and consumes it (the reference nulls
        the cache entry), so each create pairs with at most its FIRST
        following reply.
      * ``session on ports <p1>/<p2> is cleaned up`` emits method='delete'
        clones of the session(s) last seen on those ports (:117-133 —
        NOTE: in the reference this branch is dead-by-construction, since
        both reply branches null the cache entry before cleanup can see a
        port; we implement the documented intent).

    Output: one row per emitted correlation object — (method,
    correlation_id, token, codec_name, codec_pt, codec_rate, direction,
    port, ip, `order`).  No joins: three as-of windows keyed on the
    high-cardinality token/port, so the shuffles stay balanced at scale and
    a hot key costs O(lines).
    """
    # PERF: every family's line regex runs in ONE JVM pass per line over
    # the lines its mask selects (`_rtp_match`), with no Python worker.
    # The parsed struct is materialized once (lazy localCheckpoint; see
    # dataset.dedup_minhash for the caveats) and each branch reads its own
    # nullable fields; without the checkpoint every branch would re-run
    # the matcher.
    df = (_rtp_match(df, F.col(field).cast("string"), order)
          .localCheckpoint(eager=False))
    m = F.col("_m")

    def _fam(key_field: str, *fields: "tuple[str, str]") -> DataFrame:
        k = m[key_field]
        return (df.filter(k.isNotNull() & (k != ""))
                .select(*[m[src].alias(dst) for src, dst in fields],
                        F.col(order).alias("_ord")))

    creates = _fam("c_token",
                   ("c_token", "token"), ("c_mode", "_mode"),
                   ("c_codecs", "_codecs"), ("c_corr", "correlation_id"))
    pt = F.get(F.split(F.col("_codecs"), ","), 0).try_cast("int")
    codec_pairs = []
    for k, v in RTP_CODEC_MAP.items():
        codec_pairs.extend([F.lit(k), F.lit(v)])
    codec_map = F.create_map(*codec_pairs)
    session = F.struct(
        "correlation_id",
        F.coalesce(codec_map[pt], F.lit("Dynamic")).alias("codec_name"),
        pt.alias("codec_pt"),
        F.lit(8000).alias("codec_rate"),
        F.when(F.col("_mode") == "L", 1).otherwise(0).alias("direction"))

    aliases = _fam("a_port", ("a_port", "port"), ("a_token", "token"))
    # reply branch precedence (doreply vs plain) mirrors the reference's
    # if/else chain — encoded in the matcher's masks.  A doreply resolves
    # port -> token through the latest prior alias publication, which it
    # consumes: the reference NULLs ipcache['port_'+port] after emitting
    # (:100), so a later doreply on the same port needs a fresh
    # 'new session on IPv4 port' line.
    do_replies = asof_join(
        _fam("d_port", ("d_port", "port"), ("d_ip", "ip")), aliases,
        key="port", order="_ord", value="token", target="token",
        consume=True).filter(F.col("token").isNotNull())
    replies = do_replies.unionByName(
        _fam("r_token", ("r_token", "token"), ("r_port", "port"),
             ("r_ip", "ip")))
    # each reply completes the latest prior create of its token and
    # consumes it, so a create pairs with at most its first reply
    created = (asof_join(replies, creates, key="token", order="_ord",
                         value=session, target="_sess", consume=True)
               .filter(F.col("_sess").isNotNull())
               .select(F.lit("create").alias("method"), "_sess.*", "token",
                       "port", "ip", "_ord"))

    # cleanup: method='delete' clone of the session last seen on each port
    cleans = (df.filter(m["x_p1"].isNotNull())
              .select(F.explode(F.array_distinct(
                          F.array(m["x_p1"], m["x_p2"]))).alias("port"),
                      F.col(order).alias("_ord"))
              .filter(F.col("port") != ""))
    dels = (asof_join(cleans, created, key="port", order="_ord",
                      value=F.struct("correlation_id", "token",
                                     "codec_name", "codec_pt", "codec_rate",
                                     "direction", "ip"),
                      target="_sess")
            .filter(F.col("_sess").isNotNull())
            .select(F.lit("delete").alias("method"), "_sess.*", "port",
                    "_ord"))
    return (created.unionByName(dels)
            .select("method", "correlation_id", "token", "codec_name",
                    "codec_pt", "codec_rate", "direction", "port", "ip",
                    F.col("_ord").alias(order)))


# --- app_audiocodes -----------------------------------------------------------

# per-version (Incoming, Outgoing) SIP-message regexes, verbatim from
# filter_app_audiocodes.js :151-162/:222-230; any other version string takes
# the 7.20A.260.012 pair, like the reference's else branch
_AC_SIP_RES = {
    "7.40A.500": (
        r"(.*)---- Incoming SIP Message from (.*) to SIPInterface "
        r"#[0-9] \((.*)\) (.*) TO\(#[0-9]\) ----  (.*)()",
        r"(.*) ---- Outgoing SIP Message to (.*) from SIPInterface "
        r"#[0-9] \((.*)\) (.*) TO\(#.*\) ----  (.*)()"),
    "7.20A.256.511": (
        r"(.*)---- Incoming SIP Message from (.*) to SIPInterface "
        r"#[0-9] \((.*)\) (.*) TO.*---  (.*)()",
        r"(.*)---- Outgoing SIP Message to (.*) from SIPInterface "
        r"#[0-9] \((.*)\) (.*) TO.*---  (.*)()"),
    "7.20A.260.012": (
        r"(.*)---- Incoming SIP Message from (.*) to SIPInterface "
        r"#[0-9] \((.*)\) (.*) TO.*---\s?#012(.*)#012\s?#012(.*)",
        r"(.*)---- Outgoing SIP Message to (.*) from SIPInterface "
        r"#[0-9] \((.*)\) (.*) TO.*---\s?#012(.*)#012\s?#012 (.*)"),
}

# the reference's /(\s+\|)/ pipe tokenizer (:297) as one regex pass: each
# match is a separator plus the token after it, whose group 1 is the token
# stripped of spaces when that leaves more than 1 character, else ''.
# Leading spaces stay with the next separator when a '|' follows them.
# \s is Java's default ASCII class, [ \t\n\x0B\f\r] (the reference's JS
# \s would also split at a Unicode space before a '|').
_AC_TOKEN = (r"(?s)\s+\|(?: ++(?!\|))?(?:((?!\s+\|)[^ ](?:(?!\s+\|).)+?"
             r"(?<! ))|(?:(?!\s+\|).)*?) *(?=\s+\||\z)")


def _ac_tokens(line: Column) -> Column:
    """``line`` split on whitespace + '|', each token stripped of spaces
    and kept when longer than 1 character; NULL for a NULL line."""
    return F.array_remove(F.regexp_extract_all(
        F.concat(F.lit(" |"), line), F.lit(_AC_TOKEN), 1), "")


def _ac_parse(line: Column, in_re: str, out_re: str) -> Column:
    """Every field the operator reads from one audiocodes line, as the
    struct (hit, remote, raw_pay, tail, s, sid, q):

      * hit 0 (no message), 1 (Incoming) or 2 (Outgoing) — Incoming is
        checked first, as the reference's if/elif — and the matched
        message's remote ``ip:port``, payload and trailing groups (2, 5, 6),
        one `parse.regex_groups` pass per direction;
      * s, the ``[S=n]`` sequence (NULL when absent or out of long range);
      * sid, the ``[SID=mac:seq:sid]`` session ('' when absent);
      * q, the `_ac_tokens` of a MEDIA_END line.

    ``(?dU)``: `.` excludes only \\n and `\\s` is Unicode whitespace, as in
    the reference's JS and in Python's `re`."""
    is_in = line.contains("Incoming SIP Message")
    is_out = ~is_in & line.contains("Outgoing SIP Message")
    g = (F.when(is_in, regex_groups(line, "(?dU)" + in_re, (2, 5, 6)))
         .when(is_out, regex_groups(line, "(?dU)" + out_re, (2, 5, 6))))
    hit = F.when(F.size(g) > 1, F.when(is_in, 1).otherwise(2)).otherwise(0)
    sid = F.regexp_extract(line, r"(?d)\[SID=(.*?):(.*?):(.*?)\]", 3)
    return F.struct(
        hit.cast("tinyint").alias("hit"), F.get(g, 1).alias("remote"),
        F.get(g, 2).alias("raw_pay"), F.get(g, 3).alias("tail"),
        F.regexp_extract(line, r"\[S=([0-9]+)\]", 1).try_cast("long")
         .alias("s"),
        F.coalesce(sid, F.lit("")).alias("sid"),
        F.when(line.contains("MEDIA_END "), _ac_tokens(line)).alias("q"))


def app_audiocodes_correlate(df: DataFrame, *, field: str = "message",
                             order: str = "line_no",
                             key: "Sequence[str] | None" = None,
                             localip: str = "127.0.0.1",
                             localport: int = 5060,
                             correlation_hdr: str | None = None,
                             logs: bool = False, qos: bool = True,
                             partition_by_sid: bool = True,
                             version: str = "7.20A.260.012") -> DataFrame:
    """AudioCodes SBC syslog -> SIP/HEP correlation (plugins/filters/
    app_audiocodes/filter_app_audiocodes.js, default version
    7.20A.260.012).  The reference keeps driver-side state across lines —
    a one-packet reassembly hold (``hold``/``cache``/``seq``, :135-145),
    and an SID -> Call-ID LRU (``sidcache``, :271-273 set, :348 get).
    Batch re-expression, one output row per emitted HEP-able object:

      * ``Incoming/Outgoing SIP Message`` lines (:150-279) parse remote
        ``ip:port`` + the ``#012``-separated SIP payload; direction decides
        src/dst vs the local interface; Call-ID comes from the payload
        (``call-id:`` match, compact or full) falling back to the line's
        ``[SID=mac:seq:sid]`` sid; ``2.0/TCP``/``2.0/TLS`` in the payload
        flips protocol 17 -> 6 (:96-99).  proto_type=1 (SIP).
      * Fragmented messages — the SIP-message regex fails on the line —
        merge with the NEXT line when its ``[S=n]`` sequence is exactly
        one higher (:135-145): a lead() window over ``order``, one
        continuation packet like the reference's single ``cache`` slot.
        The 'Seek final fragment' re-hold (:209/:276) is implemented one
        level deep: a MATCHED line whose trailing group contains another
        ``' SIP Message '`` also merges with the next [S=n+1] line and
        emits that SECOND message (chained re-holds — a third message in
        the same line — are not re-held, matching the single-slot model).
        One `_ac_parse` serves the line and the reassembled line: each
        version regex runs once per line in the JVM; lead/lag ride
        precomputed columns, never regex re-evaluation.
      * ``MEDIA_END`` lines (:294-341, qos=True) split on ``|`` into the
        QoS vector and emit TWO proto_type=35 rows (A-leg / B-leg) whose
        payload is the reference's JSON report — MOS = 4.5*int(q)/127,
        REPORT_NAME, reversed ip:port pairs for the B-leg.
      * ``CALL_END`` lines (:287-292, logs=True) emit one proto_type=100
        row with the JSON field vector; other SID-carrying lines
        (logs=True, :342-351) emit proto_type=100 raw-line rows whose
        correlation id resolves through the SID->Call-ID as-of fill
        (the sidcache twin) with src/dst local:514.

    INI interface resolution (:44-55) is config-file plumbing, not data
    flow — out of scope (``localip``/``localport`` cover the resolved
    values).  Output: (`order`, sid, proto_type, payload, correlation_id,
    src_ip, src_port, dst_ip, dst_port, protocol).
    """
    # literal CRLF substitution — F.replace does a plain substring scan
    # (identical result to the old regexp_replace of the literal pattern,
    # without regex-engine cost per line)
    line0 = F.replace(F.col(field), F.lit("\r\n"), F.lit("#012"))
    in_re, out_re = _AC_SIP_RES.get(version, _AC_SIP_RES["7.20A.260.012"])

    # ``key`` partitions the reassembly stream (one device/file per
    # partition — pass e.g. ["path"]); ``partition_by_sid`` (the DEFAULT)
    # keys the stream on the extracted [SID=..] session instead — a
    # documented, scale-correct divergence: a fragmented message's
    # continuation packet carries the SAME SID, so per-SID ordering
    # preserves the seq+1 reassembly while the shuffle key becomes
    # high-cardinality.  Passing key=None AND partition_by_sid=False
    # reproduces the reference's one-agent global stream exactly but is a
    # single-partition global sort — the scale-killer BENCH.md documents —
    # so it must be an explicit opt-in.
    seq_keys = list(key or ())
    if partition_by_sid:
        seq_keys.append("sid")
    w_seq = Window.partitionBy(*seq_keys).orderBy(F.col(order))
    tail_re = r".*\[S=[0-9]+\].*?\[SID=.*?\]\s?(.*)\[Time:.*\]"
    base = (df.select(*(key or ()), F.col(order), line0.alias("_l"))
            .withColumn("_p", _ac_parse(F.col("_l"), in_re, out_re))
            .withColumn("_s", F.col("_p.s"))
            .withColumn("sid", F.col("_p.sid")))
    is_sipline = (F.col("_l").contains("Incoming SIP Message")
                  | F.col("_l").contains("Outgoing SIP Message"))
    incomplete = is_sipline & (F.col("_p.hit") == 0)
    # 'Seek final fragment' re-hold (:209/:276): a MATCHED line whose
    # trailing group carries another ' SIP Message ' holds itself too —
    # the next [S=n+1] line completes a SECOND message (the reference's
    # greedy group-1 re-parse of cache+tail).  One reassembly level, like
    # the reference's single cache slot; gated off for 7.40A.500 exactly
    # as upstream.
    if version == "7.40A.500":
        refrag = F.lit(False)
    else:
        refrag = ((F.col("_p.hit") != 0)
                  & F.coalesce(F.col("_p.tail").contains(" SIP Message "),
                               F.lit(False)))
    base = base.withColumn("_hold", incomplete | refrag)
    # one-slot reassembly: a held line + the next [S=n+1] line.
    # PERF (r06): the continuation tail (reassembly `message` regex group 2,
    # reference :130-133 test[2]) is extracted LAZILY from the lead() copy
    # of the raw line — only rows that actually merge (held line with a
    # seq+1 successor, a rare event) pay the backtracking tail regex,
    # instead of every input row pre-computing `_mtail`.  The extracted
    # value is identical: same regex, same (next) line.
    # PERF (r06b): ALL four window expressions (the reassembly leads AND
    # the _consumed lags) ride ONE select — their inputs (_s, _l, _hold)
    # all exist pre-window, and the intervening merge/reparse Projects had
    # kept CollapseWindow from fusing the two same-spec Window operators.
    base = base.select(
        "*",
        F.lead("_s", 1).over(w_seq).alias("_ns"),
        F.lead("_l", 1).over(w_seq).alias("_nl"),
        F.lag("_hold", 1).over(w_seq).alias("_ph"),
        F.lag("_s", 1).over(w_seq).alias("_ps"))
    nxt_mtail = F.regexp_extract(F.col("_nl"), tail_re, 1)
    can_merge = F.col("_ns") == F.col("_s") + 1
    merged = F.concat(F.regexp_replace(F.col("_l"), r"\[Time.*\]$", ""),
                      F.when(F.col("_nl").isNotNull(), nxt_mtail)
                      .otherwise(F.lit("")))
    merge_cond = incomplete & can_merge
    refrag_cond = refrag & can_merge
    base = (base
            .withColumn("_line", F.when(merge_cond, merged)
                        .otherwise(F.col("_l")))
            # window-expression conditions must be materialized before any
            # .filter can reference them (no window funcs in WHERE)
            .withColumn("_refrag_ok", refrag_cond)
            # the re-parse reads NULL, so costs nothing, on every row
            # but the rare merged ones
            .withColumn("_pm", _ac_parse(
                F.when(merge_cond | refrag_cond, merged), in_re, out_re)))
    base = base.withColumn(
        "_pf", F.when(merge_cond, F.col("_pm")).otherwise(F.col("_p")))
    # PERF (r06b): NARROW the frame to scalar fields before the second
    # window pass — carrying the whole _p/_pm/_pf structs (raw line
    # duplicates, tails, token arrays) through the window buffer cost
    # ~1 s/1M rows in row-copy overhead; only hit/remote/raw_pay are ever
    # read downstream (plus q for qos, the raw/merged lines for logs).
    narrow = [*(key or ()), F.col(order), "sid", "_s", "_ph", "_ps",
              "_refrag_ok",
              F.col("_pf.hit").alias("_f_hit"),
              F.col("_pf.remote").alias("_f_remote"),
              F.col("_pf.raw_pay").alias("_f_raw"),
              F.col("_pm.hit").alias("_m_hit"),
              F.col("_pm.remote").alias("_m_remote"),
              F.col("_pm.raw_pay").alias("_m_raw")]
    if qos:
        narrow.append(F.col("_p.q").alias("_qraw"))
    if logs:
        narrow.extend(["_l", "_line"])
    base = base.select(*narrow)
    # a line consumed as a continuation must not emit again (the lags
    # were computed in the fused window select above)
    base = base.withColumn(
        "_consumed",
        F.coalesce(F.col("_ph") & (F.col("_ps") == F.col("_s") - 1),
                   F.lit(False)))

    # ONE pass over `base`: the primary SIP emission, the re-hold second
    # message, (qos) both MEDIA_END legs and (logs) the CALL_END and other
    # SID-line rows are nullable struct SLOTS exploded from a single array
    # — a union of branches would re-run the scan, parse and window
    # subtree per branch.  A null slot (condition false/null) is dropped
    # after the explode.
    def _sip_struct(hit: Column, remote: Column, raw_pay: Column,
                    extra_filter: Column) -> Column:
        """proto_type=1 SIP slot from one parsed (hit, remote, raw_pay)
        field trio — the primary parse and the re-hold second message
        share this."""
        if version in ("7.40A.500", "7.20A.256.511"):
            # these versions' payload group runs to end-of-line — shed the
            # [Time:...] trailer the 7.20A.260 pattern excludes structurally
            raw_pay = F.regexp_replace(raw_pay, r"\s*\[Time:.*\]$", "")
        # postProcess (:57-60): #012 -> CRLF, trim, terminal CRLFCRLF
        # JS String.trim strips ALL whitespace incl. CRLF; Spark's trim
        # only strips spaces.  PERF (r06b): literal F.replace for the
        # #012 substitution (plain substring scan) and btrim over the
        # exact Java-regex-\s charset [ \t\n\x0B\f\r] — identical output
        # to the old regexp_replace('#012') + regexp_replace(^\s+|\s+$)
        # pair, no regex engine per row
        payload = F.concat(
            F.btrim(
                F.replace(F.concat(raw_pay, F.lit("#012 #012")),
                          F.lit("#012"), F.lit("\r\n")),
                F.lit(" \t\n\x0b\f\r")),
            F.lit("\r\n\r\n"))
        callid = F.regexp_extract(payload,
                                  r"(?i)call-id:\s?(.*?)\s?\r\n", 1)
        corr = F.when(callid != "", callid).otherwise(F.col("sid"))
        if correlation_hdr:
            xcid = F.regexp_extract(
                payload, correlation_hdr + r":\s?(.*)\r\n\r\n", 1)
            corr = (F.when(payload.startswith("INVITE") & (xcid != ""),
                           xcid).otherwise(corr))
        incoming = hit == 1
        r_ip = F.get(F.split(remote, ":"), 0)
        r_port = F.get(F.split(remote, ":"), 1).try_cast("int")
        return F.when(
            (hit != 0) & ~F.col("_consumed") & extra_filter,
            F.struct(*hep_columns(
                proto_type=1, payload=payload, correlation_id=corr,
                src_ip=F.when(incoming, r_ip).otherwise(F.lit(localip)),
                src_port=F.when(incoming, r_port)
                .otherwise(F.lit(localport)),
                dst_ip=F.when(incoming, F.lit(localip)).otherwise(r_ip),
                dst_port=F.when(incoming, F.lit(localport))
                .otherwise(r_port),
                protocol=payload_protocol(payload))))

    # the re-hold's second message rides the SAME order value, directly
    # after its primary row
    slots = [_sip_struct(F.col("_f_hit"), F.col("_f_remote"),
                         F.col("_f_raw"), F.lit(True)),
             _sip_struct(F.col("_m_hit"), F.col("_m_remote"),
                         F.col("_m_raw"), F.col("_refrag_ok"))]
    l = F.col("_line")

    if qos:
        # MEDIA_END: the `_ac_tokens` of the raw line (`_p.q`; `_line`
        # differs only for reassembled SIP fragments, never MEDIA_END
        # records) — a '|' NOT preceded by whitespace stays inside its
        # field; 25-field variants drop idx 15 then idx 5 (:299-302) so
        # both shapes index identically.  Divergence (doc'd): we trim each
        # token, the reference keeps a leading space when the separator
        # has trailing whitespace (' | b' -> ' b') — real MEDIA_END
        # vectors use 'field |field' so the planes agree.
        qraw = F.col("_qraw")
        base = base.withColumn("_q", F.when(
            ~F.col("_consumed"),
            F.when(F.size(qraw) == 25,
                   F.concat(F.slice(qraw, 1, 5), F.slice(qraw, 7, 9),
                            F.slice(qraw, 17, 9)))
            .otherwise(qraw)))
        q = F.col("_q")
        media_ok = ((F.size(q) > 21)
                    & (F.get(q, 2) != "")
                    & (F.get(q, 21).isNotNull()))

        def g(i):
            return F.get(q, i)

        def report(dir_, src, sport, dst, dport, mos_i, pk_i):
            # deliberate divergence: the reference serializes the full JS
            # double (4.5*q/127); we round to 6 dp so the JSON payload is
            # byte-stable across engines for the analytic oracle
            mos = F.round(F.lit(4.5) * g(mos_i).try_cast("int") / 127, 6)
            pay = F.to_json(F.struct(
                g(2).alias("CORRELATION_ID"),
                g(2).alias("RTP_SIP_CALL_ID"),
                mos.alias("MOS"),
                g(pk_i).try_cast("int").alias("TOTAL_PK"),
                g(5).alias("CODEC_NAME"),
                F.lit(dir_).alias("DIR"),
                F.concat(g(4), F.lit("_"), src, F.lit(":"), sport)
                 .alias("REPORT_NAME"),
                F.lit(dir_).alias("PARTY"),
                F.lit("HANGUP").alias("TYPE")))
            return F.struct(*hep_columns(
                proto_type=35, payload=pay, correlation_id=g(2),
                src_ip=src, src_port=sport, dst_ip=dst, dst_port=dport,
                protocol=17))

        slots.append(F.when(media_ok,
                            report(0, g(7), g(8), g(9), g(10), 17, 11)))
        slots.append(F.when(media_ok,
                            report(1, g(9), g(10), g(7), g(8), 18, 12)))

    if logs:
        # CALL_END (:287-292): the JSON field vector, localip:0; its
        # tokens are a column before the slot reads them twice
        base = base.withColumn("_cdr", F.when(
            l.contains("CALL_END ") & ~F.col("_consumed"), _ac_tokens(l)))
        cdr = F.col("_cdr")
        slots.append(F.when(cdr.isNotNull(), F.struct(*hep_columns(
            proto_type=100, payload=F.to_json(cdr),
            correlation_id=F.coalesce(F.get(cdr, 3), F.lit("")),
            src_ip=localip, src_port=0, dst_ip=localip, dst_port=0,
            protocol=17))))
        # other SID-carrying lines (:342-351), localip:514; their NULL
        # correlation id reads the sidcache below
        slots.append(F.when(
            (F.col("sid") != "") & ~is_sipline & ~F.col("_consumed")
            & ~l.contains("CALL_END ") & ~l.contains("MEDIA_END "),
            F.struct(*hep_columns(
                proto_type=100, payload=l, correlation_id=None,
                src_ip=localip, src_port=514, dst_ip=localip, dst_port=514,
                protocol=17))))

    # Materialize every slot as a COLUMN before the explode: Catalyst does
    # no common-subexpression elimination inside a Generate's generator
    # expression, so an inline slot would re-run its payload regex chain
    # once per field reference; as Project columns they evaluate once per
    # row with codegen CSE.
    slot_names = [f"_slot{i}" for i in range(len(slots))]
    for nm, s in zip(slot_names, slots):
        base = base.withColumn(nm, s)
    arr = F.array(*[F.col(n) for n in slot_names])
    core = (base.select(F.col(order), "sid",
                        F.posexplode(arr).alias("_pos", "_r") if logs
                        else F.explode(arr).alias("_r"))
            .filter(F.col("_r").isNotNull()))
    fields = [F.col(f"_r.{c}") for c in (
        "proto_type", "payload", "correlation_id", "src_ip", "src_port",
        "dst_ip", "dst_port", "protocol")]
    if logs:
        # the sidcache (set :271-273, get :348): a log line reads the
        # Call-ID of the latest SIP message before it on its sid, else
        # keeps the sid.  The re-hold's second message comes after its
        # primary on the shared order value, so it wins.
        core = asof_lookup(core, key="sid", order=[order, "_pos"], values={
            "_cid": F.when(F.col("_r.proto_type") == 1,
                           F.col("_r.correlation_id"))})
        fields[2] = F.coalesce(fields[2], F.col("_cid"), F.col("sid")) \
            .alias("correlation_id")
    return core.select(F.col(order), "sid", *fields)
