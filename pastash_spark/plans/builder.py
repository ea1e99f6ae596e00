"""Pipeline spec -> composed DataFrame DAG (the config layer).

The reference's logstash-grammar config compiles to a flat list of plugin
URLs executed in order (/root/reference/lib/lib/logstash_config.jison,
config_mapper.js:26-70).  Here the equivalent IR is a JSON-able list of stage
dicts; `build` folds them into one lazy DataFrame, compiling `if`/`elif`/
`else` blocks into gated branches exactly like the reference's
__dynamic_eval__ (else = conjunction of negated earlier conditions,
config_mapper.js:32-58).

Spec shape:
    [{"op": "grok", "pattern": "...", "field": "raw"},
     {"op": "add_fields", "fields": {"x": "#{a}/#{b}"}},
     {"op": "if", "cond": <condition AST>, "then": [...stages],
      "elif": [{"cond": ..., "then": [...]}], "else": [...stages]},
     {"op": "route", "branches": [["errors", <cond AST>], ...],
      "default": "bulk"}]
"""

from __future__ import annotations

import re
from functools import reduce
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pastash_spark.functions.conditions import compile_condition
from pastash_spark.operators import correlate as C
from pastash_spark.operators import enrich as E
from pastash_spark.operators import hsp as H
from pastash_spark.operators import mutate as M
from pastash_spark.operators import parse as P
from pastash_spark.operators import route as R

StageFn = Callable[..., DataFrame]

# op name -> (function, arg names passed through from the spec dict)
_REGISTRY: dict[str, StageFn] = {
    "grok": P.grok,
    "regex": P.regex_extract,
    "grep": P.grep,
    "split": P.split,
    "truncate": P.truncate,
    "json_fields": P.json_fields,
    "csv": P.csv_parse,
    "syslog_pri": P.syslog_pri,
    "http_status_classifier": P.http_status_classifier,
    "ipproto": P.ipproto,
    "bunyan": P.bunyan,
    "jail": P.jail,
    "json_schema": P.json_schema_serialize,
    "rename": M.rename,
    "gsub": M.gsub,
    "mutate_hash": M.mutate_hash,
    "remove_field_when_equal": M.remove_field_when_equal,
    "omit": M.omit,
    "add_tags": M.add_tags,
    "remove_tags": M.remove_tags,
    "add_fields": M.add_fields,
    "remove_fields": M.remove_fields,
    "add_timestamp": M.add_timestamp,
    "add_host": M.add_host,
    "add_version": M.add_version,
    "compute_field": M.compute_field,
    "compute_date_field": M.compute_date_field,
    "eval": M.eval_expr,
    "mustache": M.mustache,
    "multiline": C.multiline,
    "sessionize": C.sessionize,
    "forward_fill": C.forward_fill_correlation,
    "cacheloop": C.cacheloop_aggregate,
    "broadcast_lookup": E.broadcast_lookup,
    "reverse_dns": E.reverse_dns,
    "sqlite": E.sqlite_lookup,
    "mysql": E.jdbc_lookup,
    "jdbc": E.jdbc_lookup,
    "xml": P.xml_fields,
    "rfc3339": P.rfc3339,
    "sip": P.sip_message,
    "prometheus": P.prometheus_metrics,
    "bencode": P.bencode_fields,
    "netflow_v9": P.netflow_v9,
    "sflow": P.sflow_v5,
    "esl_event": P.esl_event,
    "app_cdr_kamailio": P.app_cdr_kamailio,
    "app_rtpproxy": C.app_rtpproxy_correlate,
    "app_audiocodes": C.app_audiocodes_correlate,
    "audiocodes": C.app_audiocodes_correlate,
    "app_ingate": C.app_ingate_correlate,
    "app_cisco": C.app_cisco_correlate,
    "app_janus_tracer": C.janus_trace_spans,
    "app_janus_uptrace": C.janus_trace_spans,
    "app_hsp": H.app_hsp_cdr,
    "app_avaya": C.app_avaya_correlate,
    "app_cdr_opensips": P.app_cdr_opensips,
    "app_sesm": P.app_sesm,
    "app_summa": P.app_summa,
    "app_sonus_monitor": P.app_sonus_monitor,
    "app_sonus": C.app_sonus_reassemble,
    "app_genesys": C.app_genesys_correlate,
    "app_janus_sip": C.app_janus_sip_correlate,
    # conf-surface plugin names that alias operators above
    "mutate_replace": M.gsub,
    "tinymath": M.eval_expr,
    "noop": lambda df: df,
}


def register(name: str, fn: StageFn) -> None:
    """Plugin SDK: third-party operators register by name, mirroring the
    reference's @pastash/<type>_<name> npm discovery (lib/agent.js:126-141)."""
    _REGISTRY[name] = fn


def _apply_stage(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    spec = dict(spec)
    op = spec.pop("op")

    if op == "if":
        return _apply_if(df, spec)
    if op == "route":
        branches = [(name, compile_condition(ast, df.schema))
                    for name, ast in spec["branches"]]
        return R.route(df, branches, default=spec.get("default", R.DEFAULT_SINK))
    if op == "drop":
        cond = compile_condition(spec["cond"], df.schema)
        return P.drop_when(df, cond)

    if op not in _REGISTRY:
        raise KeyError(f"unknown pipeline op {op!r} "
                       f"(known: {sorted(_REGISTRY)})")
    fn = _REGISTRY[op]

    # the reference's per-component message_filtering surface
    # (base_component.js:165-247): only_type, only_field_exist_<name>,
    # only_field_equal_<name>=<value> — ALL conditions must hold (AND)
    gates = []
    if (t := spec.pop("only_type", None)) is not None:
        gates.append({"op": "==", "left": {"field": "type"}, "right": t})
    for k in list(spec):
        # NB: the reference checks `!data[field]` — JS TRUTHINESS, so an
        # empty string fails only_field_exist too; the bare {"field"} leaf
        # compiles to exactly those semantics.  equal/match additionally
        # require the field truthy before comparing (base_component.js
        # processMessage).  (Divergence noted: the reference's equal is
        # STRICT !==, so number-vs-string never matches; ours
        # string-compares — identical on the string fields URL params
        # actually gate on.)
        if m := re.match(r"^only_field_exist_(.+)$", k):
            spec.pop(k)
            gates.append({"field": m.group(1)})
        elif m := re.match(r"^only_field_equal_(.+)$", k):
            gates.append({"op": "and", "left": {"field": m.group(1)},
                          "right": {"op": "==", "left": {"field": m.group(1)},
                                    "right": spec.pop(k)}})
        elif m := re.match(r"^only_field_match_(.+)$", k):
            gates.append({"op": "and", "left": {"field": m.group(1)},
                          "right": {"op": "=~", "left": {"field": m.group(1)},
                                    "right": spec.pop(k)}})
    gate = None
    for g in gates:
        gate = g if gate is None else {"op": "and", "left": gate, "right": g}

    def run(d: DataFrame) -> DataFrame:
        return fn(d, **spec)

    if gate is not None:
        return M.apply_when(df, compile_condition(gate, df.schema), run)
    return run(df)


_IF_SEQ = 0


def _apply_if(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """if/elif/else with first-match-wins decided on the ORIGINAL rows.

    One ``route.route`` call labels every row with the index of the first
    branch whose condition holds (the ``else`` body's index when none
    does) BEFORE any body runs, so a body that rewrites the field its own
    condition tested cannot re-trigger a later elif/else — the reference
    evaluates the whole chain against the incoming event once
    (config_mapper.js:32-58).  Each body runs on its label's rows, the
    missing ``else`` being an empty body, and the parts rejoin through
    ``unionByName`` into one Union: a k-body block plans k scans of its
    input.  A body
    sees the columns of the rows entering the block, never the new columns
    of a sibling body — in the reference an event runs one branch only;
    columns a body adds read NULL on the other bodies' rows."""
    global _IF_SEQ
    _IF_SEQ += 1
    idx = f"_branch_idx_{_IF_SEQ}"   # unique per if-block (nesting-safe)

    chains = [(spec["cond"], spec["then"])]
    chains += [(e["cond"], e["then"]) for e in spec.get("elif", [])]
    labelled = R.route(
        df, [(str(i), compile_condition(c, df.schema))
             for i, (c, _) in enumerate(chains)],
        default=str(len(chains)), target=idx)
    bodies = [stages for _, stages in chains] + [spec.get("else", [])]
    parts = [build(labelled.filter(F.col(idx) == str(i)), stages)
             for i, stages in enumerate(bodies)]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                  parts).drop(idx)


def build(df: DataFrame, stages: Sequence[dict[str, Any]]) -> DataFrame:
    """Fold the stage list into one lazy plan (the whole chain usually fuses
    into a single codegen stage — the Catalyst analogue of the reference's
    one-pass event cascade, lib/agent.js:14-24)."""
    for spec in stages:
        df = _apply_stage(df, spec)
    return df
