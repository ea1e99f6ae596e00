"""paStash URL-config front-end: ``filter://grok://?pattern=...`` strings ->
builder stage specs.

The reference's primary CLI accepts plugin URLs directly
(/root/reference/bin/pastash, url grammar in lib/lib/url_parser.js:11-23 with
'+'-escaping, host/port extraction base_component.js:93-115).  This parser
keeps that surface for config parity: a list of URL strings becomes the same
stage-spec list plans.builder consumes.

Supported shape:  <role>://<op>://<target>?k=v&k2=v2
  role    filter | input | output   (role is carried through; builder runs
                                     filters, callers wire inputs/outputs)
  target  optional positional (e.g. file path, field name)
  query   op parameters; a literal `+` is PRESERVED (url_parser.js:18
          protects '+' as %2B before querystring.parse, so regex params like
          `\\w+` survive; spaces must be %20); comma-lists split;
          `only_type` / conditions pass through
"""

from __future__ import annotations

import urllib.parse
from typing import Any

_LIST_PARAMS = {"fields", "numerical_fields", "tags", "whitelist", "blacklist",
                "key", "member_fields", "avg_fields", "special_codes"}
_INT_PARAMS = {"max_size", "n_hashes", "bands", "every_n"}
_FLOAT_PARAMS = {"gap_seconds", "threshold"}


def parse_url(url: str) -> dict[str, Any]:
    """One plugin URL -> {"role": ..., "op": ..., **params}."""
    try:
        role, rest = url.split("://", 1)
        name, tail = rest.split("://", 1)
    except ValueError as e:
        raise ValueError(f"bad plugin url {url!r} "
                         "(want role://name://target?params)") from e
    target, _, qs = tail.partition("?")
    spec: dict[str, Any] = {"role": role, "op": name}
    if target:
        if role == "filter" and name == "regex":
            # regex://<name> resolves a builtin pattern file
            # (filter_regex.js host_field='builtin_regex')
            spec["builtin"] = urllib.parse.unquote(target)
        else:
            spec["target"] = urllib.parse.unquote(target)
    # url_parser.js:18: protect literal '+' BEFORE parsing — parse_qsl would
    # otherwise decode it to a space, corrupting regex params like '\w+'.
    qs = qs.replace("+", "%2B")
    for k, v in urllib.parse.parse_qsl(qs):
        if k in _LIST_PARAMS:
            spec[k] = v.split(",")
        elif k in _INT_PARAMS:
            spec[k] = int(v)
        elif k in _FLOAT_PARAMS:
            spec[k] = float(v)
        else:
            spec[k] = v
    return spec


def parse_urls(urls: list[str]) -> dict[str, list[dict[str, Any]]]:
    """Split a URL list into {'input': [...], 'filter': [...], 'output': [...]}
    stage specs (the reference starts outputs first, then filters, then
    inputs — lib/agent.js:200-210; in a lazy DAG ordering is free)."""
    out: dict[str, list[dict[str, Any]]] = {"input": [], "filter": [], "output": []}
    for u in urls:
        spec = parse_url(u)
        role = spec.pop("role")
        if role not in out:
            raise ValueError(f"unknown plugin role {role!r} in {u!r}")
        out[role].append(spec)
    return out
