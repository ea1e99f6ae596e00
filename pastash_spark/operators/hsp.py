"""HEPIC HSP pre-processor + qrelate scored correlation (SURVEY §2.3).

Reference: plugins/filters/app_hsp/filter_app_hsp.js — a bencode-float CDR
decoder with derived fields (duration/status_text/geo points/ip grouping)
plus an in-memory ``qrelate`` engine (:20-30 vectors) that links related
CDRs through score-ranked correlation keys (callid / correlation_id /
x-cid / ruri_user ...).  The qrelate LRU becomes a HANDLE SELF-JOIN:
records publish (name, value) handles per vector, candidate pairs share a
handle, pair score = sum of matched vector scores, links at/above the
threshold adopt the earliest partner's correlation id.
"""

from __future__ import annotations

from typing import Any, Mapping, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pastash_spark.operators.dataset import bucket_pairs, observe_cap

# filter_app_hsp.js:22-30 — the default qrelate vector table
HSP_VECTORS: tuple[dict, ...] = (
    {"score": 100, "key": "callid", "suffix": "_b2b-1"},
    {"score": 100, "key": "correlation_id", "name": "callid"},
    {"score": 100, "key": "x-cid", "name": "callid"},
    {"score": 50, "key": "ruri_user", "regex": r"^(00|\+)"},
    {"score": 50, "key": "from_user", "regex": r"^(00|\+)"},
    {"score": 50, "key": "bnumber_ext"},
    {"score": 50, "key": "anumber_ext"},
)

# filter_app_hsp.js:124-126
HSP_CALL_STATUS = (
    "NULL", "INIT", "UNAUTHORIZED", "PROGRESS", "RINGING", "CONNECTED",
    "MOVED", "USER_BUSY", "USER_FAILURE", "HARD_FAILURE", "FINISHED",
    "CANCELED", "TIMEOUT_TERMINATED", "BAD_TERMINATED", "DECLINE",
    "UNKNOWN_TERMINATED")


def ip2int(col: Column) -> Column:
    """Dotted-quad -> u32 (filter_app_hsp.js:36-45 ip2int) as pure column
    arithmetic; malformed addresses yield NULL via try_cast."""
    p = F.split(col, r"\.")
    return (F.get(p, 0).try_cast("long") * 16777216
            + F.get(p, 1).try_cast("long") * 65536
            + F.get(p, 2).try_cast("long") * 256
            + F.get(p, 3).try_cast("long"))


def scored_correlation(df: DataFrame, *,
                       vectors: Sequence[Mapping[str, Any]] = HSP_VECTORS,
                       id_col: str = "callid", order: str = "line_no",
                       threshold: int = 100,
                       max_bucket: int = 64) -> DataFrame:
    """qrelate-style weighted multi-key correlation
    (filter_app_hsp.js:20-30 vectors + :156 qrelate.process).

    Each record publishes one HANDLE per matching vector:

      * ``key``    — the column holding the value;
      * ``name``   — the handle namespace (defaults to ``key``; the
        reference folds correlation_id / x-cid into the ``callid``
        namespace so all three link against each other);
      * ``regex``  — participation gate on the value (ruri_user only
        correlates for international ``^(00|+)`` numbers);
      * ``suffix`` — B2BUA derivation: the record ALSO publishes
        value+suffix, so leg-2's ``X_b2b-1`` callid links to leg-1's
        ``X`` without any fuzzy matching.

    Candidate pairs = records sharing a (name, value) handle, scored by
    the sum of the matched vectors' scores (each handle namespace counts
    once per pair at its max score).  A record links to its best earlier
    partner (lowest order among pairs >= threshold) and ADOPTS that
    partner's ``id_col`` — the batch analogue of qrelate's LRU adoption.
    Documented divergence: adoption is one hop per batch (the reference
    chains transitively only while the chain root stays in its LRU).

    Scale shape: handles explode to <= 2x#vectors rows per record; the
    bucket key (name, value) is high-cardinality (call ids), and each
    handle bucket is capped at its earliest ``max_bucket`` occupants (the
    LRU's maxSize analogue) BEFORE pairs are generated inside it
    (bucket_pairs), so a degenerate hot value is bounded at cap^2/2 pairs
    instead of going quadratic.  The truncated rows and buckets are
    counted under the ``hsp_max_bucket`` cap metric (see
    dataset.cap_drop_report), never silently discarded.
    Adds: ``hsp_correlation`` (adopted id, NULL when unlinked) and
    ``hsp_score``."""
    cols = set(df.columns)
    handles = []
    for v in vectors:
        key = v["key"]
        if key not in cols:
            continue
        val = F.col(key).cast("string")
        gate = val.isNotNull() & (val != "")
        if v.get("regex"):
            gate = gate & val.rlike(v["regex"])
        name = F.lit(v.get("name", key))
        score = F.lit(int(v["score"]))
        handles.append(F.when(gate, F.struct(
            name.alias("hname"), val.alias("hval"),
            score.alias("hscore"))))
        if v.get("suffix"):
            handles.append(F.when(gate, F.struct(
                name.alias("hname"),
                F.concat(val, F.lit(v["suffix"])).alias("hval"),
                score.alias("hscore"))))
    if not handles:
        return (df.withColumn("hsp_correlation", F.lit(None).cast("string"))
                .withColumn("hsp_score", F.lit(0)))

    # PERF (r06): explode first, null-filter after — the previous
    # F.filter(...) HOF is CodegenFallback and dragged every handle
    # struct (rlike gates, concats) into interpreted per-row evaluation.
    # Identical row set: null handles exploded-then-filtered == filtered
    # before explode.  Handles are materialized as COLUMNS before the
    # explode (no common-subexpression elimination runs inside a
    # Generate's expression, so inline structs would re-run their
    # value/rlike gates per reference).
    hd = df.select(F.col(order).alias("_o"),
                   F.col(id_col).cast("string").alias("_id"),
                   *[hc.alias(f"_h{i}") for i, hc in enumerate(handles)])
    h = (hd.select("_o", "_id",
                   F.explode(F.array(
                       *[F.col(f"_h{i}") for i in range(len(handles))]))
                   .alias("_h"))
         .filter(F.col("_h").isNotNull())
         .select("_o", "_id", F.col("_h.hname").alias("hname"),
                 F.col("_h.hval").alias("hval"),
                 F.col("_h.hscore").alias("hscore")))
    # LRU maxSize analogue: cap each handle bucket, keeping the earliest
    # occupants (the ones the reference's cache would have retained).  The
    # cap window hash-partitions the stream by (hname, hval), so the
    # bucket_pairs groupBy reuses that exchange, and every bucket array is
    # bounded by max_bucket before aggregation.
    w_bucket = Window.partitionBy("hname", "hval").orderBy("_o")
    h = h.withColumn("_rn", F.row_number().over(w_bucket))
    rn = F.col("_rn")
    h = observe_cap(h, "hsp_max_bucket", [
        F.count(F.when(rn > max_bucket, 1)).alias("dropped_rows"),
        F.count(F.when(rn == max_bucket + 1, 1)).alias("dropped_groups"),
        F.count(F.when(rn == 1, 1)).alias("total_groups")])
    h = h.filter(rn <= max_bucket).drop("_rn")
    # What crosses the pair exchange is one row per (pair, bucket).  For a
    # pair sharing several buckets of one namespace, the pivoted max below
    # takes the max over buckets of greatest(s_a, s_b); min_by(_ao) picks
    # the earliest partner, _ao being unique per _bo after the pair
    # groupBy.  Same-record duplicate handles share _o, so bucket_pairs
    # never self-pairs them.
    handle_pairs = bucket_pairs(h, ["hname", "hval"], "_o", "_id",
                                "hscore").select(
        F.col("_a._o").alias("_ao"), F.col("_a._id").alias("_aid"),
        F.col("_b._o").alias("_bo"), "hname",
        F.greatest("_a.hscore", "_b.hscore").alias("_ns"))
    # one namespace counts once per pair, at its max score; the namespace
    # set is static (the vectors table), so the per-name max is a PIVOTED
    # single aggregation instead of groupBy(.., hname) + a second groupBy.
    names: list[str] = []
    for v in vectors:
        if v["key"] in cols:
            nm = v.get("name", v["key"])
            if nm not in names:
                names.append(nm)
    per_name = [F.max(F.when(F.col("hname") == nm, F.col("_ns")))
                .alias(f"_m{i}") for i, nm in enumerate(names)]
    score_expr = sum([F.coalesce(F.col(f"_m{i}"), F.lit(0))
                      for i in range(len(names))], F.lit(0))
    # ONE exchange serves both aggregation levels: hash(_bo) satisfies the
    # pair groupBy's ClusteredDistribution (subset of (_ao,_bo,_aid)) AND
    # the best-partner groupBy below.  Trade-off: the pair rows cross the
    # wire un-combined (map-side partial agg would have merged a pair's
    # multiple bucket rows), which is a win whenever records share few
    # buckets — the qrelate workload shape (handles are call-id-grade
    # keys).
    pairs = (handle_pairs.repartition(F.col("_bo"))
             .groupBy("_ao", "_bo", "_aid").agg(*per_name)
             .withColumn("_score", score_expr)
             .filter(F.col("_score") >= threshold))
    best = (pairs.groupBy("_bo")
            .agg(F.min_by(F.struct("_aid", "_score"), F.col("_ao"))
                 .alias("_w"))
            .select(F.col("_bo"),
                    F.col("_w._aid").alias("hsp_correlation"),
                    F.col("_w._score").cast("long").alias("hsp_score")))
    return (df.join(best, df[order] == best["_bo"], "left").drop("_bo")
            .withColumn("hsp_score", F.coalesce("hsp_score", F.lit(0))))


def app_hsp_cdr(df: DataFrame, *, field: str = "message",
                order: str = "line_no",
                omit: Sequence[str] = (), groupby: str = "source",
                ip_groups: Sequence[Mapping[str, Any]] | None = None,
                links: bool = False,
                vectors: Sequence[Mapping[str, Any]] = HSP_VECTORS,
                links_threshold: int = 100) -> DataFrame:
    """HSP CDR pre-processing (filter_app_hsp.js:133-199): ``cdr``-prefixed
    bencode-float payloads decode to a string map, then derive

      * ``duration`` = int(cdr_stop/1000 - cdr_connect/1000) when
        cdr_stop > 0 (:160);
      * ``status_text`` = callStatus[status] (:163);
      * ``geopoint``/``destpoint`` = 'lat,lon' concat (:166-167);
      * ``group`` = ipgroup, else the first ACTIVE ip_groups entry whose
        exact ip or [ipbegin, ipend) int-range covers the groupby ip
        (source/destination/media, :170-189 — the HEPIC API result table
        arrives as the ``ip_groups`` literal, landing-zone model), else
        'default'.

    ``links=True`` runs qrelate scored correlation over the decoded
    fields (see scored_correlation).  Plain ``d3:`` bencode events and
    non-HSP rows pass through with a NULL cdr map (:139-144 passthrough).
    Output adds: cdr (map<string,string>), duration, status_text,
    geopoint, destpoint, group [+ hsp_* when links]."""
    from pastash_spark.operators.parse import bencode_decode_py

    msg = F.col(field).cast("string")
    drop = set(omit)

    @F.pandas_udf("map<string,string>")
    def dec(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            try:
                if v.startswith("cdr"):
                    raw = ("d" + v[3:] + "e").encode("utf-8")
                elif v.startswith("d3:"):
                    raw = v.encode("utf-8")
                else:
                    return None
                d = bencode_decode_py(raw)
                if not isinstance(d, dict):
                    return None
                return {str(k): None if x is None else str(x)
                        for k, x in d.items() if k not in drop}
            except Exception:
                return None
        return s.map(one)

    out = df.withColumn("cdr", dec(msg))
    c = F.col("cdr")
    stop = c["cdr_stop"].try_cast("double")
    connect = c["cdr_connect"].try_cast("double")
    status = c["status"].try_cast("int")
    st_labels = F.array(*[F.lit(s) for s in HSP_CALL_STATUS])
    out = (out
           .withColumn("duration",
                       F.when(stop > 0, F.coalesce(
                           (stop / 1000 - connect / 1000).cast("long"),
                           F.lit(0))))
           .withColumn("status_text",
                       F.when(status.isNotNull()
                              & (status >= 0)
                              & (status < len(HSP_CALL_STATUS)),
                              F.element_at(st_labels, status + 1)))
           .withColumn("geopoint",
                       F.when(c["geo_lat"].isNotNull(),
                              F.concat_ws(",", c["geo_lat"],
                                          c["geo_lan"])))
           .withColumn("destpoint",
                       F.when(c["dest_lat"].isNotNull(),
                              F.concat_ws(",", c["dest_lat"],
                                          c["dest_lan"]))))

    gb_key = {"source": "source_ip", "destination": "destination_ip",
              "media": "sdmedia_ip", "": "source_ip"}.get(groupby,
                                                          "source_ip")
    gip = c[gb_key]
    group = c["ipgroup"]
    if ip_groups:
        gint = ip2int(gip)
        # first active matching entry wins, in table order (:173-180)
        resolved = F.lit(None).cast("string")
        for g in reversed(list(ip_groups)):
            if not g.get("active", True):
                continue
            hit = (gip == F.lit(str(g.get("ip", ""))))
            if "ipbegin" in g and "ipend" in g:
                hit = hit | ((gint > F.lit(int(g["ipbegin"])))
                             & (gint < F.lit(int(g["ipend"]))))
            resolved = F.when(hit, F.lit(g["name"])).otherwise(resolved)
        group = F.coalesce(group, resolved)
    out = out.withColumn("group", F.coalesce(group, F.lit("default")))

    if links:
        # expose the vector key columns from the map, then correlate
        keys = {v["key"] for v in vectors}
        for k in keys:
            if k not in out.columns:
                out = out.withColumn(k, c[k])
        out = scored_correlation(out, vectors=vectors, id_col="callid",
                                 order=order, threshold=links_threshold)
        out = out.drop(*[k for k in keys if k not in df.columns])
    return out
