"""Stateful streaming operators: cacheloop, lru-with-TTL, multiline.

Each mirrors its batch twin in operators/correlate.py & enrich.py; the
streaming shapes add watermark-bounded state and timer-driven flush — the
semantics the reference implements with LRU maxAge eviction
(/root/reference/lib/lib/cache_helper.js:20-27) and buffer timers
(base_filter_buffer.js:36-51).
"""

from __future__ import annotations

from typing import Any, Iterator, Sequence, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def cacheloop_stream(df: DataFrame, *, key: str = "correlation_id",
                     ts: str = "ts", gap: str = "30 seconds",
                     watermark: str = "1 minute",
                     avg_fields: Sequence[str] = ()) -> DataFrame:
    """Streaming cacheloop (filter_cacheloop.js:42-97): one aggregate row per
    (key, idle-gap session) — count + avg_<field>s — emitted when the session
    closes (watermark passes the gap).  `maxAge` becomes the session gap;
    state is bounded by the watermark instead of an LRU maxSize."""
    aggs = [F.count("*").alias("count")]
    for f in avg_fields:
        aggs.append(F.avg(F.col(f).cast("double")).alias(f"avg_{f}"))
    return (df.withWatermark(ts, watermark)
            .groupBy(F.session_window(F.col(ts), gap).alias("session"),
                     F.col(key).alias("extract"))
            .agg(*aggs)
            # explicit column list: '*' would re-expand 'extract' into a
            # duplicate column and break downstream select/groupBy with
            # AMBIGUOUS_REFERENCE
            .select("extract",
                    F.col("session.start").alias("session_start"),
                    F.col("session.end").alias("session_end"),
                    "count", *[f"avg_{f}" for f in avg_fields]))


def statsd_window_stream(df: DataFrame, *, key: str, ts: str = "ts",
                         window: str = "10 seconds",
                         watermark: str = "10 seconds",
                         value_field: str | None = None) -> DataFrame:
    """Streaming statsd flush (output_statsd.js:22-40 + the reference's
    arrival-time flush_interval): counter/timer metrics per (metric key,
    tumbling EVENT-TIME window), append mode — a window emits exactly once,
    when the watermark passes its end, and rows arriving later than the
    watermark are DROPPED (the reference has no event-time semantics at
    all; this is the strictly-stronger Spark formulation SURVEY §2.6
    promises).

    Output: (metric_key, window_start, window_end, counter[, timer_*]).
    """
    aggs = [F.count("*").alias("counter")]
    if value_field is not None:
        v = F.col(value_field).cast("double")
        aggs += [F.sum(v).alias("timer_sum"), F.avg(v).alias("timer_avg"),
                 F.max(v).alias("timer_max")]
    return (df.withWatermark(ts, watermark)
            .groupBy(F.window(F.col(ts), window).alias("w"),
                     F.col(key).alias("metric_key"))
            .agg(*aggs)
            .select("metric_key",
                    F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    *(["counter"] if value_field is None else
                      ["counter", "timer_sum", "timer_avg", "timer_max"])))


def lru_state_stream(df: DataFrame, *, key: str, action: str = "action",
                     value: str = "value", ttl_ms: int = 60_000) -> DataFrame:
    """Streaming lru set/get with TTL (filter_lru.js:27-43 +
    cache_helper.js TTL): per-key GroupState holds the last `set` value;
    `get` rows read it; state expires after ttl_ms idle (processing-time
    timeout = the reference's maxAge semantics, which are arrival-time too).

    Output: (key, seq, action, got) — one row per input row.
    """
    out_schema = f"`{key}` string, seq long, `{action}` string, got string"
    state_schema = "v string"

    def fn(key_t: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        (cur,) = state.get if state.exists else (None,)
        outs = []
        for pdf in pdfs:
            pdf = pdf.sort_values("seq")
            # vectorized set/get: forward-fill the set-values within the
            # batch, seeded by the carried state — no per-row Python
            got = pdf[value].where(pdf[action].eq("set")).ffill()
            if cur is not None:
                got = got.fillna(cur)
            # a NULL set publishes nothing, as in the batch asof_lookup
            last_set = pdf[value][pdf[action].eq("set")].dropna()
            if len(last_set):
                cur = last_set.iloc[-1]
            outs.append(pd.DataFrame({
                key: key_t[0], "seq": pdf["seq"].astype("int64"),
                action: pdf[action], "got": got}))
        if cur is not None:
            state.update((cur,))
            state.setTimeoutDuration(ttl_ms)
        yield pd.concat(outs, ignore_index=True)

    return (df.groupBy(key)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append",
                                    GroupStateTimeout.ProcessingTimeTimeout))


def multiline_stream(df: DataFrame, *, key: str, order: str = "seq",
                     field: str = "message", start_line_regex: str = "^\\S",
                     max_delay_ms: int = 5_000, joiner: str = "\n") -> DataFrame:
    """Streaming multiline (filter_multiline.js + base_filter_buffer.js):
    buffer lines per key; a line matching start_line_regex flushes the
    previous buffer as one joined message; an idle timeout (max_delay)
    flushes the remainder — exactly the reference's two flush paths.

    Output: (key, first_seq, message, n_lines).
    """
    import re
    re.compile(start_line_regex)   # validate at plan-build time
    out_schema = f"`{key}` string, first_seq long, `{field}` string, n_lines int"
    state_schema = "lines array<string>, first_seq long"

    def fn(key_t, pdfs, state: GroupState):
        if state.hasTimedOut:
            if state.exists:
                lines, first_seq = state.get
                state.remove()
                if lines:
                    yield pd.DataFrame(
                        [(key_t[0], int(first_seq), joiner.join(lines), len(lines))],
                        columns=[key, "first_seq", field, "n_lines"])
            return
        lines, first_seq = (list(state.get[0]), state.get[1]) if state.exists \
            else ([], None)
        flushed = []
        for pdf in pdfs:
            pdf = pdf.sort_values(order)
            # vectorized grouping: running count of start-lines splits the
            # batch; group 0 (pre-first-start lines) continues the carried
            # buffer; every group but the last flushes; the last becomes
            # the new carried buffer
            starts = pdf[field].str.contains(start_line_regex, regex=True,
                                             na=False)
            grp = starts.cumsum()
            agg = (pdf.assign(_g=grp.values)
                   .groupby("_g", sort=True)
                   .agg(glines=(field, list), gfirst=(order, "min")))
            groups = [(int(first), list(ls))
                      for ls, first in agg.itertuples(index=False, name=None)]
            if groups and len(grp) and grp.iloc[0] == 0:
                # continuation of the carried buffer
                cont_first, cont_lines = groups.pop(0)
                if first_seq is None:
                    first_seq = cont_first
                lines.extend(cont_lines)
            for g_first, g_lines in groups:
                if lines:
                    flushed.append((key_t[0], int(first_seq),
                                    joiner.join(lines), len(lines)))
                lines, first_seq = g_lines, g_first
        if lines:
            state.update((lines, first_seq))
            state.setTimeoutDuration(max_delay_ms)
        else:
            state.remove()
        if flushed:
            yield pd.DataFrame(flushed,
                               columns=[key, "first_seq", field, "n_lines"])

    return (df.groupBy(key)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append",
                                    GroupStateTimeout.ProcessingTimeTimeout))


def janus_span_stream(df: DataFrame, *, session: str = "session_id",
                      order: str = "ord", ts: str = "ts_us",
                      ttl_ms: int = 300_000) -> DataFrame:
    """Streaming twin of correlate.janus_trace_spans for the STATEFUL
    pairing families (the uptrace LRU, filter_app_janus_uptrace.js:140-330)
    and the point spans on their rows: per-session GroupState carries each
    family's open (order, ts); a close emits the paired open span with its
    real duration, and a row emits its point span, by the same
    ``_JANUS_FAMILIES``/``_JANUS_POINTS`` rules (and ids) as the batch
    kernel.  ``ttl_ms`` is the LRU maxAge: state for a session idle longer
    than the timeout is dropped, and its unclosed opens are never exported
    (uptrace drops un-ended LRU spans the same way).  Point spans of the
    other kinds need no state — run them through the batch operator on
    the same stream.

    The state machine stays per-row inside the state function (unlike the
    vectorized lru/multiline twins): a session's events per micro-batch
    are few, and the BATCH kernel (one window + explode, all-native) is
    the hot path for replay/backfill volumes.

    Input columns: session, order, ts, type int, subtype int, and every
    field the ``_JANUS_FAMILIES`` rows read (missing ones read as NULL).
    Output rows match the batch operator's schema."""
    import hashlib

    from pastash_spark.operators.correlate import (
        _JANUS_FAMILIES, _JANUS_POINTS, _JANUS_ROOT)

    kinds = {(f.type, f.subtype) for f in _JANUS_FAMILIES}
    points = [p for p in _JANUS_POINTS if (p.type, p.subtype) in kinds]
    out_schema = (f"`{session}` string, `{order}` long, trace_id string, "
                  "span_id string, parent_span_id string, name string, "
                  "service string, start_us long, end_us long, "
                  "duration_us long")
    # per-family open (order, ts); NULL = never opened
    state_cols = [f"{f.family}_{v} long" for f in _JANUS_FAMILIES
                  for v in ("ord", "ts")]

    def _md5(s: str) -> str:
        return hashlib.md5(s.encode("utf-8")).hexdigest()

    def of_kind(r: dict, row) -> bool:
        return r["type"] == row.type and (
            row.subtype is None or r.get("subtype") == row.subtype)

    def fn(key_t: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        sess = key_t[0]
        tid = _md5(str(sess))
        root = tid[:16]
        st = state.get if state.exists else [None] * len(state_cols)
        opened = {f.family: (st[2 * i], st[2 * i + 1])
                  for i, f in enumerate(_JANUS_FAMILIES)
                  if st[2 * i] is not None}
        rows = []

        def span_id(fam: str) -> str | None:
            if fam == _JANUS_ROOT:
                return root
            return (_md5(f"{sess}:{fam}:{opened[fam][0]}")[:16]
                    if fam in opened else None)

        for pdf in pdfs:
            for r in pdf.sort_values(order).to_dict("records"):
                o, t_us = int(r[order]), int(r[ts])
                for f in _JANUS_FAMILIES:
                    if not of_kind(r, f):
                        continue
                    if r.get(f.opens[0]) == f.opens[1]:
                        opened[f.family] = (o, t_us)
                    if r.get(f.closes[0]) == f.closes[1] \
                            and f.family in opened:
                        start = opened[f.family][1]
                        rows.append((sess, o, tid, span_id(f.family),
                                     None if f.family == _JANUS_ROOT
                                     else root, f.name, f.service,
                                     start, t_us, t_us - start))
                for p in points:
                    if of_kind(r, p) and (p.field is None
                                          or r.get(p.field) in p.name):
                        rows.append((sess, o, tid, _md5(f"{sess}:pt:{o}")[:16],
                                     span_id(p.parent),
                                     p.name if p.field is None
                                     else p.name[r[p.field]],
                                     p.service, t_us, t_us, 0))
                        break
        state.update(tuple(v for f in _JANUS_FAMILIES
                           for v in opened.get(f.family, (None, None))))
        state.setTimeoutDuration(ttl_ms)
        if rows:
            yield pd.DataFrame(rows, columns=[
                session, order, "trace_id", "span_id", "parent_span_id",
                "name", "service", "start_us", "end_us", "duration_us"])

    return (df.groupBy(session)
            .applyInPandasWithState(fn, out_schema, ", ".join(state_cols),
                                    "append",
                                    GroupStateTimeout.ProcessingTimeTimeout))
