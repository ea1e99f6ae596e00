"""Enrichment operators: broadcast lookups, range joins, as-of state lookups
(SURVEY.md §2.2 — geoip/ipproto/reverse_dns/lru/gun patterns).

The reference enriches via per-filter LRU caches around expensive lookups
(/root/reference/lib/lib/cache_helper.js:30-47).  The Spark-native shape is a
**broadcast hash join** against the lookup table — build side shipped once per
executor, probe side streamed through codegen; the cache disappears because
the "lookup" is a hash probe; a range table probes through a prefix-bucket
equi-join (``range_lookup``).  For keyed mutable state (the lru/gun set/get
correlation pattern, and every carried-context forward fill such as the
ipcache of the app_* reassemblers) the batch equivalent is an ordered window
``last(value) ignorenulls`` — an as-of lookup: ``asof_lookup`` on one stream
(any number of targets in one Window operator), ``asof_join`` when the
writers and readers are separate frames.
"""

from __future__ import annotations

from typing import Iterator, Mapping, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def broadcast_lookup(df: DataFrame, lookup: DataFrame,
                     on: str | Sequence[str]) -> DataFrame:
    """Generic broadcast-join enrichment (the ipproto/geoip dict pattern,
    filter_ipproto.js:41-53 / filter_geoip.js:117-136): a left join, so a
    fact with no lookup row keeps NULL attributes.

    Always broadcasts the lookup side: enrichment dims are small by
    construction, and a broadcast join is shuffle-free on the fact side —
    the property that keeps this O(rows) at 100 TB regardless of key skew
    (skewed probe keys are harmless when nothing repartitions by them).
    """
    keys = [on] if isinstance(on, str) else list(on)
    return df.join(F.broadcast(lookup), on=keys, how="left")


def range_lookup(df: DataFrame, ranges: DataFrame, value_col: str,
                 lo_col: str = "range_start", hi_col: str = "range_end", *,
                 bucket_bits: int = 16) -> DataFrame:
    """IP-range style enrichment: value BETWEEN lo AND hi against a
    broadcast range table (the maxmind geoip block-file model,
    filter_geoip.js:88-143), left join — facts outside every range keep
    NULL attributes.

    Each range explodes to the fixed-width prefix buckets it covers
    (bucket = value >> bucket_bits, the /16-style trick for IPv4-as-int);
    facts compute their own bucket, and the join becomes a plain HASH
    equi-join on the bucket with BETWEEN as a residual filter — never a
    BroadcastNestedLoopJoin, which would evaluate facts x ranges (a real
    maxmind block file is 3-4M ranges; pinned by test_plan_shapes).
    Non-overlapping ranges (the geoip block contract) give <= 1 match per
    fact, so row multiplicity is preserved.
    """
    v = F.col(value_col).cast("long")
    r = F.broadcast(ranges.withColumn(
        "_bkt", F.explode(F.sequence(
            F.shiftright(F.col(lo_col).cast("long"), bucket_bits),
            F.shiftright(F.col(hi_col).cast("long"), bucket_bits)))))
    fact = df.withColumn("_bkt", F.shiftright(v, bucket_bits))
    cond = ((fact["_bkt"] == r["_bkt"]) &
            (v >= r[lo_col]) & (v <= r[hi_col]))
    return fact.join(r, on=cond, how="left") \
        .drop(fact["_bkt"]).drop(r["_bkt"])


PRIVATE_IP_RE = r"^(10\.|192\.168\.|172\.(1[6-9]|2[0-9]|3[01])\.|127\.0\.0\.1)"


def is_private_ip(col) -> "F.Column":
    """The reference's private-range guard (filter_geoip.js:90-110) as a
    single predicate column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.rlike(PRIVATE_IP_RE), F.lit(False))


def geoip(df: DataFrame, geo_table: DataFrame, *,
          ip_field: str = "ip") -> DataFrame:
    """geoip enrichment: broadcast left join on ip, skipping private ranges
    (filter_geoip.js:88-143).  ``geo_table`` carries (ip, country, city, ...)
    — private IPs and unknown IPs keep NULL attributes (the reference never
    drops an event), and private IPs never probe the table."""
    pub = df.withColumn("_geo_key",
                        F.when(~is_private_ip(ip_field), F.col(ip_field)))
    joined = pub.join(F.broadcast(geo_table.withColumnRenamed("ip", "_geo_key")),
                      on="_geo_key", how="left")
    return joined.drop("_geo_key")


def reverse_dns(df: DataFrame, *, field: str = "host",
                target: str = "hostname", only_hostname: bool = False,
                resolver=None) -> DataFrame:
    """PTR-lookup enrichment (filter_reverse_dns.js:40-54).

    Batch resolution via ``mapInPandas`` with a per-partition memo dict — the
    distributed analogue of the reference's process-wide LRU
    (cache_helper.js:30-47): each executor resolves each distinct IP once per
    partition.  ``resolver`` injects the lookup (tests pass a dict/callable);
    the default uses ``socket.gethostbyaddr`` guarded by try/except so
    offline environments yield NULL instead of failing.
    """
    schema_ddl = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"`{target}` string"])

    def resolve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, str | None] = {}

        def one(v):
            if v is None:
                return None
            if v not in memo:
                if resolver is not None:
                    memo[v] = resolver(v) if callable(resolver) else resolver.get(v)
                else:
                    try:
                        import socket
                        memo[v] = socket.gethostbyaddr(v)[0]
                    except OSError:
                        memo[v] = None
            return memo[v]

        for pdf in batches:
            out = pdf.copy()
            out[target] = pdf[field].map(one)
            yield out

    out = df.mapInPandas(resolve, schema=schema_ddl)
    if only_hostname:
        out = out.withColumn(target, F.split(F.col(target), r"\.")[0])
    return out


def _names(cols: str | Sequence[str]) -> list[str]:
    return [cols] if isinstance(cols, str) else list(cols)


def asof_lookup(df: DataFrame, *, key: str | Sequence[str],
                order: str | Sequence[str],
                values: Mapping[str, Column]) -> DataFrame:
    """The lru/gun set→get correlation pattern as a window as-of lookup
    (filter_lru.js:27-43, gun_helper.js:4-37), and every carried-context
    forward fill (the ipcache of sonus/avaya/ingate/cisco, janus's open
    spans): each ``values`` entry maps a target column to the value a row
    publishes under ``key`` (NULL publishes nothing); every row reads, per
    target, the latest published value at its position in ``order`` (its
    own publication included).  Targets fill independently: a row that
    publishes one target leaves the others at their earlier values.

    last(value) ignorenulls over (partition by key order by order ROWS
    UNBOUNDED PRECEDING) — one shuffle on the key, no driver state.  All
    targets go in ONE ``withColumns``: chained ``withColumn`` calls over
    computed values leave a Project between the Window operators, which
    defeats CollapseWindow and runs one sequential Window pass per target.  ``order`` must be unique
    per key for a deterministic result.  TTL semantics (maxAge) belong to
    the streaming variant (streaming/state.py) where watermarks bound state.
    """
    w = (Window.partitionBy(*_names(key)).orderBy(*_names(order))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return df.withColumns({t: F.last(v, ignorenulls=True).over(w)
                           for t, v in values.items()})


def asof_join(probe: DataFrame, build: DataFrame, *,
              key: str | Sequence[str], order: str, value, target: str,
              consume: bool = False) -> DataFrame:
    """Two-stream as-of lookup — a per-key cache that ``build`` rows write
    and later ``probe`` rows read (lru set/get across event families,
    rtpproxy's ipcache, audiocodes' sidcache).

    Both frames carry the ``key`` and ``order`` columns; ``value`` (a
    column name or an expression over ``build``) is what a build row
    publishes.  Each probe row gets, under ``target``, the latest non-null
    value published by a build row of its key STRICTLY before it: the two
    streams are unioned and read in one window over (key | order,
    is_build), where a probe sorts before a build row of equal ``order``.
    ``consume=True`` is the read-then-null cache rule: a probe matches
    only when the row directly before it in its key's stream is a build
    row, so each publication serves at most its first reader.  Probe rows
    without a match get NULL; the result has the probe's columns plus
    ``target``.  NULL keys form one partition, like any window key.

    One exchange on the key and one sort — no candidate pairs, so a hot
    key costs O(rows) instead of the O(probes x builds) of a range join.
    """
    keys = _names(key)
    v = F.col(value) if isinstance(value, str) else value
    stream = (probe.withColumn("_asof_b", F.lit(False))
              .unionByName(build.select(*keys, order, v.alias("_asof_v"),
                                        F.lit(True).alias("_asof_b")),
                           allowMissingColumns=True))
    w = Window.partitionBy(*keys).orderBy(order, "_asof_b")
    hit = F.last("_asof_v", ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    if consume:
        hit = F.when(F.lag("_asof_b").over(w), hit)
    return (stream.select(*probe.columns, hit.alias(target), "_asof_b")
            .filter(~F.col("_asof_b")).drop("_asof_b"))


# --- external SQL lookup filters (mysql / sqlite family) ----------------------
#
# The reference's mysql and sqlite filters run a `?`-parameterized prepared
# statement PER EVENT and stash the first result under target_field
# (plugins/filters/mysql/filter_mysql.js:10-45, filter_sqlite.js:39-55).
# The Spark-first re-expression: load the statement's table ONCE, turn
# `WHERE <key> = ?` into the join condition, and probe via a broadcast hash
# join — per-event round-trips disappear and the plan stays O(rows) with a
# shuffle-free fact side at any scale.

import re as _re

_LOOKUP_Q_RE = _re.compile(
    r"(?is)^\s*select\s+(?P<cols>.+?)\s+from\s+(?P<table>[\w.\"`]+)"
    r"\s+where\s+(?P<key>[\w.\"`]+)\s*=\s*\?\s*;?\s*$")


def parse_lookup_query(query: str) -> tuple[list[str], str, str]:
    """Split the filters' prepared-statement shape
    ``SELECT <cols> FROM <table> WHERE <key> = ?`` into its join pieces."""
    m = _LOOKUP_Q_RE.match(query or "")
    if not m:
        raise ValueError(
            "lookup filter query must be of the form "
            "'SELECT <cols> FROM <table> WHERE <key> = ?' — got "
            f"{query!r}")
    cols = [c.strip() for c in m.group("cols").split(",")]
    return cols, m.group("table"), m.group("key")


def _lookup_join(df: DataFrame, lk: DataFrame, n_cols: int,
                 source_field: str, target_field: str,
                 pair: bool = False, deduped: bool = False) -> DataFrame:
    """lk = (__k, value cols...) — first row per key wins (the filters read
    one row: better-sqlite3 .get / results[0]).  String-compare the key,
    like the loosely-typed parameter binding.  ``deduped=True`` skips the
    key dedup when the caller already collapsed keys (keeps the whole plan
    a pure broadcast join with zero exchanges)."""
    lk = lk.withColumn("__k", F.col("__k").cast("string"))
    if not deduped:
        lk = lk.dropDuplicates(["__k"])
    vals = [c for c in lk.columns if c != "__k"]
    if pair:
        # mysql `pair` mode (filter_mysql.js:55-66): alternating
        # value/value cells become a map {row[0]: row[1], ...}
        kv = []
        for i in range(0, len(vals) - 1, 2):
            kv.extend([F.col(vals[i]).cast("string"), F.col(vals[i + 1])])
        lk = lk.select("__k", F.create_map(*kv).alias(target_field))
    elif n_cols == 1:
        # sqlite semantics: Object.values(row)[0] — the scalar
        lk = lk.select("__k", F.col(vals[0]).alias(target_field))
    else:
        # mysql non-pair: the whole first row under target_field
        lk = lk.select("__k", F.struct(*[F.col(c) for c in vals])
                       .alias(target_field))
    return (df.withColumn("__k", F.col(source_field).cast("string"))
            .join(F.broadcast(lk), "__k", "left").drop("__k"))


def sqlite_lookup(df: DataFrame, *, db: str, query: str,
                  source_field: str,
                  target_field: str = "sqlite") -> DataFrame:
    """sqlite filter (plugins/filters/sqlite/filter_sqlite.js): per-event
    `prepare(query).get(raw[source_field])` becomes load-once (stdlib
    sqlite3 → Arrow) + broadcast equi-join on the `?` key.  Rows without a
    match keep NULL (the reference leaves the event untouched)."""
    import sqlite3
    cols, table, key = parse_lookup_query(query)
    con = sqlite3.connect(db)
    try:
        sel = f"SELECT {key} AS __k, {', '.join(cols)} FROM {table}"
        lk_pdf = pd.read_sql_query(sel, con)
    finally:
        con.close()
    # first-row-per-key (better-sqlite3 .get) resolved HERE in pandas so
    # the Spark side needs no dedup exchange — the plan stays a pure
    # broadcast hash join over the unshuffled fact stream
    lk_pdf["__k"] = lk_pdf["__k"].astype(str)
    lk_pdf = lk_pdf.drop_duplicates(subset="__k", keep="first")
    spark = df.sparkSession
    lk = spark.createDataFrame(lk_pdf)
    return _lookup_join(df, lk, len(cols), source_field, target_field,
                        deduped=True)


def jdbc_lookup(df: DataFrame, *, query: str, source_field: str,
                target_field: str = "mysql", url: str | None = None,
                db: str | None = None, host: str = "localhost",
                port: int = 3306, user: str = "root", password: str = "",
                driver: str | None = None, pair: bool = False,
                table: str | None = None) -> DataFrame:
    """mysql filter (plugins/filters/mysql/filter_mysql.js:10-45) — and any
    JDBC source: the per-event prepared statement becomes a JDBC table read
    (executors pull the dim in parallel) + broadcast equi-join.  The conf
    surface's host/port/db/user/password build the jdbc:mysql URL; pass
    ``url`` for other databases.  Needs the JDBC driver jar on the
    cluster's classpath (--jars), like any Spark JDBC read.  ``table`` is
    accepted (reference optional param) but the query names the table."""
    from pastash_spark.sources.readers import read_jdbc
    cols, tbl, key = parse_lookup_query(query)
    if url is None:
        if db is None:
            raise ValueError("jdbc_lookup needs url= or db= (+host/port)")
        url = f"jdbc:mysql://{host}:{int(port)}/{db}"
    sel = f"SELECT {key} AS __k, {', '.join(cols)} FROM {tbl}"
    lk = read_jdbc(df.sparkSession, url, f"({sel}) AS __lk",
                   user=user, password=password, driver=driver)
    return _lookup_join(df, lk, len(cols), source_field, target_field,
                        pair=pair)
