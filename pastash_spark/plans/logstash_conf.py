"""Logstash-config grammar front-end: ``.conf`` text -> builder stage specs.

The reference's primary config surface is a logstash-style file parsed by a
jison grammar (/root/reference/lib/logstash_config.jison — lexer :9-49,
rules :55-165) and flattened to plugin URLs with ``__dynamic_eval__``
if/else payloads (config_mapper.js:26-70).  Here the same grammar parses —
hand-rolled tokenizer + recursive descent, same token set and productions —
but the target IR is plans.builder's stage-spec list: ``if`` blocks become
builder ``if`` specs (compiled to ONE when-cascade), filters become registry
ops, and conditional outputs become route branches (a sink is a filtered
view of one scan).

Grammar surface covered (everything the reference's own config tests use,
test_104_logstash_parser.js / test_421_logstash/*):
  * input / filter / output sections, multiple blocks, comments
  * plugin blocks ``name { k => v  k2 => [a, b]  k3 => { a => b } }``
  * quoted ('".."', "'..'") and regex (``/../``) values, ints, floats, bools
  * ``if [field] OP value { } else if ... { } else { }`` chains
  * condition operators: == != < > <= >= =~ !~ in "not in" miss,
    connectives and/or/xor/nand, unary !, parentheses, [field] members
"""

from __future__ import annotations

import re
from typing import Any

# ---------------------------------------------------------------------------
# tokenizer (same token classes as logstash_config.jison's %lex block)
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(r"""
    (?P<DQUOTE>"(?:\\"|[^"])*")
  | (?P<SQUOTE>'(?:\\'|[^'])*')
  | (?P<REGEX>/(?:\\/|[^/])*/)
  | (?P<COMMENT>\#[^\n]*)
  | (?P<WS>\s+)
  | (?P<FLOAT>[0-9]+\.[0-9]+(?![0-9.]))
  | (?P<SET>=>)
  | (?P<OP>==|!=|<=|>=|=~|!~|<|>)
  | (?P<PUNCT>[{}\[\](),])
  | (?P<BANG>!)
  | (?P<ID>[0-9a-zA-Z_\-./]+)
""", re.VERBOSE)

_ESCAPES = [("\\n", "\n"), ("\\r", "\r"), ("\\t", "\t"),
            ('\\"', '"'), ("\\'", "'"), ("\\/", "/")]


def _unescape(s: str) -> str:
    for a, b in _ESCAPES:
        s = s.replace(a, b)
    return s


def _tokenize(text: str) -> list[tuple[str, Any]]:
    """-> [(kind, value)]; kind in VALUE/ID/SET/OP/PUNCT/BANG."""
    out: list[tuple[str, Any]] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            snippet = text[pos:pos + 20]
            raise ValueError(f"logstash config: cannot tokenize at {snippet!r}")
        pos = m.end()
        kind = m.lastgroup
        v = m.group()
        if kind in ("WS", "COMMENT"):
            continue
        if kind in ("DQUOTE", "SQUOTE", "REGEX"):
            out.append(("VALUE", _unescape(v[1:-1])))
        elif kind == "FLOAT":
            out.append(("VALUE", float(v)))
        elif kind == "ID":
            if v.isdigit():
                out.append(("VALUE", int(v)))
            elif v == "true":
                out.append(("VALUE", True))
            elif v == "false":
                out.append(("VALUE", False))
            else:
                out.append(("ID", v))
        elif kind == "SET":
            out.append(("SET", v))
        elif kind == "OP":
            out.append(("OP", v))
        elif kind == "BANG":
            out.append(("BANG", v))
        else:
            out.append(("PUNCT", v))
    out.append(("EOF", None))
    return out


# ---------------------------------------------------------------------------
# recursive-descent parser (productions mirror the jison rules)
# ---------------------------------------------------------------------------

_CONNECTIVES = {"and", "or", "xor", "nand"}
_WORD_BINOPS = {"in", "miss"}


class _Parser:
    def __init__(self, tokens: list[tuple[str, Any]]):
        self.toks = tokens
        self.i = 0

    def peek(self, ahead: int = 0) -> tuple[str, Any]:
        return self.toks[min(self.i + ahead, len(self.toks) - 1)]

    def next(self) -> tuple[str, Any]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kind: str, value: Any = None) -> Any:
        k, v = self.next()
        if k != kind or (value is not None and v != value):
            raise ValueError(f"logstash config: expected {value or kind}, "
                             f"got {v!r}")
        return v

    # logstash_config : main_lines EOF
    def config(self) -> dict[str, list]:
        out: dict[str, list] = {}
        while self.peek()[0] != "EOF":
            section = self.expect("ID")
            self.expect("PUNCT", "{")
            out.setdefault(section, []).extend(self.lines())
        return out

    # lines until closing '}'
    def lines(self) -> list[dict]:
        items: list[dict] = []
        while not (self.peek() == ("PUNCT", "}")):
            items.append(self.line())
        self.expect("PUNCT", "}")
        return items

    def line(self) -> dict:
        k, v = self.peek()
        if (k, v) == ("ID", "if"):
            return self.if_block()
        name = self.expect("ID")
        return {name: self.plugin_params()}

    def plugin_params(self) -> dict:
        self.expect("PUNCT", "{")
        params: dict[str, Any] = {}
        while self.peek() != ("PUNCT", "}"):
            if self.peek() == ("PUNCT", ","):
                self.next()
                continue
            kk, key = self.next()
            if kk not in ("ID", "VALUE"):
                raise ValueError(f"logstash config: bad param key {key!r}")
            self.expect("SET")
            params[str(key)] = self.value()
        self.next()  # consume '}'
        return params

    def value(self) -> Any:
        k, v = self.peek()
        if (k, v) == ("PUNCT", "["):
            self.next()
            vals = []
            while self.peek() != ("PUNCT", "]"):
                if self.peek() == ("PUNCT", ","):
                    self.next()
                    continue
                vals.append(self.next()[1])
            self.next()
            return vals
        if (k, v) == ("PUNCT", "{"):
            return self.plugin_params()
        if k in ("VALUE", "ID"):
            return self.next()[1]
        raise ValueError(f"logstash config: bad value {v!r}")

    # if : IF condition { lines } (ELSE (if | { lines }))?
    def if_block(self) -> dict:
        self.expect("ID", "if")
        cond = self.condition()
        self.expect("PUNCT", "{")
        then = self.lines()
        ifs = [{"cond": cond, "then": then}]
        els: list | None = None
        if self.peek() == ("ID", "else"):
            self.next()
            if self.peek() == ("ID", "if"):
                nested = self.if_block()["__if__"]
                ifs.extend(nested["ifs"])
                els = nested.get("else")
            else:
                self.expect("PUNCT", "{")
                els = self.lines()
        node: dict[str, Any] = {"ifs": ifs}
        if els is not None:
            node["else"] = els
        return {"__if__": node}

    # condition : sub (CONNECTIVE sub)*   -- left-associative
    def condition(self) -> dict:
        node = self.sub_condition()
        while self.peek()[0] == "ID" and self.peek()[1] in _CONNECTIVES:
            op = self.next()[1]
            rhs = self.sub_condition()
            node = {"op": op, "left": node, "right": rhs}
        return node

    def sub_condition(self) -> dict:
        k, v = self.peek()
        if (k, v) == ("PUNCT", "("):
            self.next()
            node = self.condition()
            self.expect("PUNCT", ")")
            return node
        if k == "BANG":
            self.next()
            return {"op": "!", "operand": self.sub_condition()}
        left = self.condition_member()
        k, v = self.peek()
        if k == "OP":
            op = self.next()[1]
            right = self.condition_member()
            return {"op": op, "left": left, "right": right}
        if k == "ID" and v in _WORD_BINOPS:
            op = self.next()[1]
            if op == "miss":
                self.condition_member_optional()
                return {"op": "miss", "operand": left}
            return {"op": "in", "left": left, "right": self.member_list()}
        if (k, v) == ("ID", "not") and self.peek(1) == ("ID", "in"):
            self.next(), self.next()
            return {"op": "not in", "left": left, "right": self.member_list()}
        # bare member: truthiness test
        return left if isinstance(left, dict) and "field" in left \
            else {"op": "==", "left": left, "right": True}

    def condition_member(self) -> Any:
        k, v = self.peek()
        if (k, v) == ("PUNCT", "["):
            # field ref [name] — but an array literal when first elem isn't
            # a single ID followed by ']'
            if self.peek(1)[0] == "ID" and self.peek(2) == ("PUNCT", "]"):
                self.next()
                name = self.next()[1]
                self.next()
                return {"field": name}
            return self.value()
        return self.next()[1]

    def member_list(self) -> Any:
        """Right side of in/not-in.  `[ID]` is a FIELD REF (the reference
        requires the right side to resolve to an array at eval time —
        condition_evaluator.js membership over e.g. the `tags` array;
        test_104 'multi if' pins right={field:'tags'}).  A bracketed list
        with commas / multiple values is a literal array; a bare scalar is a
        one-element literal list."""
        k, v = self.peek()
        if (k, v) == ("PUNCT", "["):
            if self.peek(1)[0] == "ID" and self.peek(2) == ("PUNCT", "]"):
                self.next()
                name = self.next()[1]
                self.next()
                return {"field": name}
            got = self.value()
            return got if isinstance(got, list) else [got]
        return [self.next()[1]]

    def condition_member_optional(self) -> None:
        k, v = self.peek()
        if (k, v) == ("PUNCT", "[") or k in ("VALUE", "ID"):
            try:
                self.condition_member()
            except ValueError:
                pass


def parse_conf(text: str) -> dict[str, list]:
    """.conf text -> {'input': [...], 'filter': [...], 'output': [...]},
    entries = {plugin: params} or {'__if__': {'ifs': [...], 'else': [...]}}
    — the same tree shape config_mapper.js consumes."""
    return _Parser(_tokenize(text)).config()


# ---------------------------------------------------------------------------
# mapper: parse tree -> plans.builder stage specs
# ---------------------------------------------------------------------------

# plugin param renames: conf surface name -> our operator kwarg
_PARAM_RENAMES: dict[str, dict[str, str]] = {
    "grok": {"match": "pattern"},
    "regex": {"builtin_regex": "builtin"},
    "compute_field": {"value": "template", "field": "field"},
    "mutate_replace": {"from": "from_regex"},
    "syslog_pri": {"priority_field": "field"},
}
# conf defaults mirroring the reference filters' default_values
_PARAM_DEFAULTS: dict[str, dict[str, Any]] = {
    # filter_syslog_pri.js default priority_field = 'syslog_priority'
    "syslog_pri": {"field": "syslog_priority"},
    # batch multiline groups per input file in arrival order (the
    # reference's implicit single-stream order)
    "multiline": {"key": ["path"], "order": "line_no"},
    # the r05 stateful app packs: the reference's one-agent-global caches
    # become per-file windows on the conf surface (scale-safe default;
    # pass key => [] explicitly to reproduce the global stream)
    "app_ingate": {"key": ["path"], "order": "line_no"},
    "app_avaya": {"key": ["path"], "order": "line_no"},
    "app_cisco": {"key": ["path"], "order": "line_no"},
}
# params that are comma-joined strings on the conf surface but lists here
_LIST_PARAMS: dict[str, tuple[str, ...]] = {
    "regex": ("fields", "numerical_fields"),
}

# standard per-plugin params that become follow-up stages
_FOLLOWUPS = ("add_tags", "remove_tags", "add_fields", "remove_fields")


def _plugin_to_spec(name: str, params: dict) -> list[dict]:
    params = dict(params)
    # base_filter.js:40-56 aliases the singular forms
    for alias, canon in (("add_field", "add_fields"),
                         ("remove_field", "remove_fields")):
        if alias in params and canon not in params:
            params[canon] = params.pop(alias)
    followups: list[dict] = []
    for fu in _FOLLOWUPS:
        if fu in params:
            v = params.pop(fu)
            if fu in ("add_tags", "remove_tags"):
                key = "tags"
                v = v if isinstance(v, list) else [v]
            else:
                key = "fields"
                if fu == "remove_fields" and not isinstance(v, (list, dict)):
                    v = [v]
            followups.append({"op": fu, key: v})
    renames = _PARAM_RENAMES.get(name, {})
    spec = {"op": name}
    for k, v in params.items():
        spec[renames.get(k, k)] = v
    for k, v in _PARAM_DEFAULTS.get(name, {}).items():
        spec.setdefault(k, v)
    for k in _LIST_PARAMS.get(name, ()):
        if isinstance(spec.get(k), str):
            spec[k] = [p.strip() for p in spec[k].split(",")]
    if name == "multiline":
        # max_delay is an arrival-time flush with no batch meaning (the
        # streaming twin honours it via its state timeout)
        spec.pop("max_delay", None)
        flags = spec.pop("regex_flags", None)
        if flags and "start_line_regex" in spec:
            from pastash_spark.operators.parse import inline_flags
            spec["start_line_regex"] = inline_flags(
                spec["start_line_regex"], flags)
    return [spec] + followups


def _entry_to_specs(entry: dict) -> list[dict]:
    (name, body), = entry.items()
    if name == "__if__":
        ifs = body["ifs"]
        spec: dict[str, Any] = {
            "op": "if",
            "cond": ifs[0]["cond"],
            "then": [s for e in ifs[0]["then"] for s in _entry_to_specs(e)],
        }
        if len(ifs) > 1:
            spec["elif"] = [
                {"cond": e["cond"],
                 "then": [s for x in e["then"] for s in _entry_to_specs(x)]}
                for e in ifs[1:]]
        if body.get("else"):
            spec["else"] = [s for e in body["else"] for s in _entry_to_specs(e)]
        return [spec]
    return _plugin_to_spec(name, body)


def conf_to_specs(text: str) -> dict[str, list[dict]]:
    """.conf text -> {'input': [...], 'filter': [builder specs],
    'output': [...]}.  Filter specs feed plans.builder.build directly.
    Output entries keep the plugin spec plus an optional 'only_if' condition
    AST (a conditional output = a routed sink, base_output.js:19-23)."""
    tree = parse_conf(text)
    out: dict[str, list[dict]] = {"input": [], "filter": [], "output": []}
    for section in ("input", "filter"):
        for entry in tree.get(section, []):
            out[section].extend(_entry_to_specs(entry))
    for entry in tree.get("output", []):
        (name, body), = entry.items()
        if name == "__if__":
            neg: list[Any] = []
            for branch in body["ifs"]:
                for e in branch["then"]:
                    (pname, pbody), = e.items()
                    spec = _plugin_to_spec(pname, pbody)[0]
                    spec["only_if"] = _and_not(branch["cond"], neg)
                    out["output"].append(spec)
                neg.append(branch["cond"])
            for e in body.get("else", []):
                (pname, pbody), = e.items()
                spec = _plugin_to_spec(pname, pbody)[0]
                spec["only_if"] = _and_not(None, neg)
                out["output"].append(spec)
        else:
            out["output"].extend(_plugin_to_spec(name, body))
    return out


def _and_not(cond: Any, negated: list[Any]) -> Any:
    """cond AND NOT(each earlier cond) — config_mapper's false_clauses."""
    node = cond
    for n in negated:
        neg = {"op": "!", "operand": n}
        node = neg if node is None else {"op": "and", "left": node, "right": neg}
    return node if node is not None else True


def run_conf_files(spark, text: str, *, base_dir: str | None = None) -> list[str]:
    """FULL .conf execution, the reference's `bin/pastash --config_file`
    surface (test_421_logstash.js:13-57): `input { file {...} }` specs read
    via the text reader (raw unserializer + path stamp), the filter chain
    runs as one lazy plan, and every `output { file {...} }` spec — however
    deeply conditional — writes its filtered view as NDJSON
    (`json_logstash` serializer) or raw lines in ONE job per sink over the
    same scan.  Relative paths resolve under ``base_dir``.  Returns the
    written output paths (each a directory of part files — the distributed
    analogue of the reference's single append-file)."""
    import os

    from pyspark.sql import functions as F

    from pastash_spark.sources.readers import read_lines
    from pastash_spark.sources.sinks import ndjson_serialize

    def resolve(p: str) -> str:
        return p if (base_dir is None or os.path.isabs(p)) \
            else os.path.join(base_dir, p)

    specs = conf_to_specs(text)

    def _needs_line_no(stages) -> bool:
        for st in stages:
            if st.get("op") == "multiline" and st.get("order") == "line_no":
                return True
            # the app correlation packs consume arrival order by default
            if st.get("op") in ("app_audiocodes", "audiocodes",
                                "app_rtpproxy") \
                    and st.get("order", "line_no") == "line_no":
                return True
            for sub in (st.get("then"), st.get("else")):
                if sub and _needs_line_no(sub):
                    return True
            for e in st.get("elif", []):
                if _needs_line_no(e["then"]):
                    return True
        return False

    line_no = _needs_line_no(specs["filter"])
    df = None
    for s in specs["input"]:
        if s["op"] == "file":
            part = read_lines(spark, resolve(s["path"]),
                              type_value=s.get("type"),
                              with_line_no=line_no)
        elif s["op"] in ("tcp", "udp"):
            # transport inputs run on the LANDING-ZONE model (SURVEY §2.4):
            # a thin collector terminates the socket and deposits raw lines
            # into a directory; the engine reads that zone.  The spec's
            # `landing_zone` names the directory; the listen `port` is
            # stamped as {tcp,udp}_port like input_tcp.js:41-48 does on
            # each event.
            lz = s.get("landing_zone")
            if not lz:
                raise ValueError(
                    f"run_conf_files: {s['op']} input needs landing_zone=, "
                    "the deposit directory of the socket collector")
            part = read_lines(spark, resolve(lz), type_value=s.get("type"),
                              with_line_no=line_no)
            if "port" in s:
                part = part.withColumn(f"{s['op']}_port",
                                       F.lit(int(s["port"])))
        else:
            raise ValueError(f"run_conf_files: unsupported input "
                             f"{s['op']!r} (file/tcp/udp)")
        df = part if df is None else df.unionByName(
            part, allowMissingColumns=True)
    if df is None:
        raise ValueError("run_conf_files: config has no input")

    written: list[str] = []
    for spec, view in build_conf(df, text)[1]:
        if spec["op"] == "hep":
            # hep output (output_hep.js; the shipped audiocodes recipe's
            # sink): HEPv3-encapsulate each event and deposit the frames
            # as parquet in the output landing zone — transport delivery
            # to host:port is the collector boundary, as with tcp/udp
            # inputs.  `hep_id` maps to the capture agent id chunk.
            from pastash_spark.sources.sinks import hep_serialize
            lz = spec.get("landing_zone") or spec.get("path")
            if not lz:
                raise ValueError("run_conf_files: hep output needs "
                                 "landing_zone= (frame deposit directory)")
            pay = "payload" if "payload" in view.columns else "message"
            corr = ("correlation_id" if "correlation_id" in view.columns
                    else None)
            ts = next((c for c in ("ts", "@timestamp", "timestamp")
                       if c in view.columns), None)
            # per-event rcinfo: hep_serialize frames each row with the
            # proto_type/protocol/src/dst columns an upstream app pack made
            framed = hep_serialize(
                view, payload_col=pay, correlation_col=corr,
                ts_col=ts, capture_id=int(spec.get("hep_id", 2001)))
            path = resolve(lz)
            framed.select("hep").write.mode("overwrite").parquet(path)
            written.append(path)
            continue
        if spec["op"] != "file":
            continue
        path = resolve(spec["path"])
        if spec.get("serializer", "json_logstash") == "json_logstash":
            ts = "@timestamp" if "@timestamp" in view.columns else None
            payload = ndjson_serialize(view, timestamp_col=ts).select("json")
        else:  # raw serializer: the message field as plain lines
            payload = view.select(
                F.col(spec.get("field", "message")).cast("string"))
        payload.write.mode("overwrite").text(path)
        written.append(path)
    return written


def build_conf(df, text: str):
    """Run a .conf's filter chain on a DataFrame; returns (df, outputs)
    where outputs = [(plugin_spec, filtered_df)] — each conditional output
    is a filtered view of the SAME one-scan plan."""
    from pastash_spark.functions.conditions import compile_condition
    from pastash_spark.plans import builder

    specs = conf_to_specs(text)
    out_df = builder.build(df, specs["filter"])
    outputs = []
    for spec in specs["output"]:
        spec = dict(spec)
        gate = spec.pop("only_if", None)
        view = out_df if gate in (None, True) else \
            out_df.filter(compile_condition(gate, out_df.schema))
        outputs.append((spec, view))
    return out_df, outputs
