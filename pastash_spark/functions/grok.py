"""Grok pattern compiler: ``%{NAME:field}`` -> plain regex, offline.

The reference expands grok patterns recursively at filter-init time against a
pattern library and matches with Oniguruma named groups
(/root/reference/lib/filters/filter_grok.js:80-111 expansion, :151-167 match;
pattern files under /root/reference/lib/patterns/grok/).  Here the same
recursive expansion runs ONCE at plan-build time in Python, producing

  * a Python-flavoured regex (``(?P<name>...)``), which names the groups
    (and is what tests replay with ``re``), and
  * a Java-flavoured regex (positional groups) for the native
    ``parse.regex_extract`` pass,

so the per-row cost is a single compiled-regex match inside codegen —
never a per-event pattern expansion.

The pattern library below is written from scratch (the grok pattern *language*
and the conventional pattern names are public logstash vocabulary); it covers
the names the reference's tests exercise (syslog, apache combined, haproxy-ish
primitives — /root/reference/test/test_218_filter_grok.js).
"""

from __future__ import annotations

import re

# field charset includes '-' (junos RT_FLOW uses hyphenated aliases);
# hyphens sanitize to '_' in the emitted group names
_GROK_REF = re.compile(r"%\{(\w+)(?::([\w.\[\]@-]+))?\}")

# Core pattern library — hand-written primitive set.
CORE_PATTERNS: dict[str, str] = {
    "INT": r"[+-]?\d+",
    "POSINT": r"\d+",
    "NONNEGINT": r"\d+",
    "BASE10NUM": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "NUMBER": r"%{BASE10NUM}",
    "BASE16NUM": r"(?:0[xX])?[0-9a-fA-F]+",
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "QUOTEDSTRING": r"\"(?:[^\"\\]|\\.)*\"|'(?:[^'\\]|\\.)*'",
    "QS": r"%{QUOTEDSTRING}",
    "UUID": r"[0-9a-fA-F]{8}-(?:[0-9a-fA-F]{4}-){3}[0-9a-fA-F]{12}",
    # network
    "IPV4": r"(?:\d{1,3}\.){3}\d{1,3}",
    "IPV6": r"[0-9a-fA-F:]{3,39}",
    "IP": r"%{IPV4}|%{IPV6}",
    "HOSTNAME": r"[a-zA-Z0-9](?:[a-zA-Z0-9_-]{0,62})?(?:\.[a-zA-Z0-9](?:[a-zA-Z0-9_-]{0,62})?)*\.?",
    "HOST": r"%{HOSTNAME}",
    "IPORHOST": r"%{IPV4}|%{HOSTNAME}",
    "HOSTPORT": r"(?:%{IPORHOST}):%{POSINT}",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "EMAILADDRESS": r"[a-zA-Z0-9_.+-]+@[a-zA-Z0-9.-]+",
    # dates
    "MONTH": r"Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|Jun(?:e)?|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|Nov(?:ember)?|Dec(?:ember)?",
    "MONTHNUM": r"0?[1-9]|1[0-2]",
    "MONTHDAY": r"(?:0[1-9]|[12][0-9]|3[01]|[1-9])",
    "YEAR": r"\d{4}|\d{2}",
    "HOUR": r"2[0123]|[01]?[0-9]",
    "MINUTE": r"[0-5][0-9]",
    "SECOND": r"(?:[0-5][0-9]|60)(?:[:.,][0-9]+)?",
    "TIME": r"%{HOUR}:%{MINUTE}:%{SECOND}",
    "DATE_US": r"%{MONTHNUM}[/-]%{MONTHDAY}[/-]%{YEAR}",
    "DATE_EU": r"%{MONTHDAY}[./-]%{MONTHNUM}[./-]%{YEAR}",
    "DATE": r"%{DATE_US}|%{DATE_EU}",
    "DATESTAMP": r"%{DATE}[- ]%{TIME}",
    "TZ": r"(?:[APMCE][SD]T|UTC)",
    "ISO8601_TIMEZONE": r"Z|[+-]%{HOUR}(?::?%{MINUTE})",
    "TIMESTAMP_ISO8601": r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}[T ]%{HOUR}:?%{MINUTE}(?::?%{SECOND})?(?:%{ISO8601_TIMEZONE})?",
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    # log structure
    "LOGLEVEL": r"[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|[Ii]nfo|INFO|[Ww]arn(?:ing)?|WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR)?|[Cc]rit(?:ical)?|CRIT(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|[Ee]merg(?:ency)?",
    "PROG": r"[\w._/%-]+",
    "SYSLOGPROG": r"%{PROG:program}(?:\[%{POSINT:pid}\])?",
    "SYSLOGHOST": r"%{IPORHOST}",
    "SYSLOGPRI": r"<%{NONNEGINT:syslog_pri}>",
    "SYSLOGBASE": r"%{SYSLOGTIMESTAMP:timestamp} (?:%{SYSLOGFACILITY} )?%{SYSLOGHOST:logsource} %{SYSLOGPROG}:",
    "SYSLOGFACILITY": r"<%{NONNEGINT:facility}.%{NONNEGINT:priority}>",
    "URIPROTO": r"[A-Za-z]+(?:\+[A-Za-z+]+)?",
    "URIHOST": r"%{IPORHOST}(?::%{POSINT:port})?",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%_\-]*)+",
    "URIPARAM": r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*",
    "URIPATHPARAM": r"%{URIPATH}(?:%{URIPARAM})?",
    "URI": r"%{URIPROTO}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST})?(?:%{URIPATHPARAM})?",
    # composed access-log lines
    "COMMONAPACHELOG": (
        r"%{IPORHOST:clientip} %{USER:ident} %{USER:auth} "
        r"\[%{HTTPDATE:timestamp}\] \"(?:%{WORD:verb} %{NOTSPACE:request}"
        r"(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})\" "
        r"%{NUMBER:response} (?:%{NUMBER:bytes}|-)"
    ),
    "COMBINEDAPACHELOG": r"%{COMMONAPACHELOG} %{QS:referrer} %{QS:agent}",
}

_MAX_DEPTH = 32


class GrokCompiler:
    """Expand ``%{NAME[:field]}`` references to a flat regex.

    extra_patterns layers user definitions over CORE_PATTERNS (same shadowing
    the reference gets from extra_patterns_files, filter_grok.js:60-77).
    """

    def __init__(self, extra_patterns: dict[str, str] | None = None):
        from pastash_spark.functions.grok_patterns import EXTENDED_PATTERNS
        self.patterns = dict(CORE_PATTERNS)
        self.patterns.update(EXTENDED_PATTERNS)
        if extra_patterns:
            self.patterns.update(extra_patterns)

    def expand(self, pattern: str, _depth: int = 0) -> tuple[str, list[str]]:
        """-> (python_regex, captured_field_names in group order)."""
        if _depth > _MAX_DEPTH:
            raise ValueError("grok pattern recursion too deep (cycle?)")
        # Oniguruma inline named groups `(?<name>...)` (the second grok
        # capture syntax, used throughout the public pattern files) ->
        # Python `(?P<name>...)`.  Lookbehinds `(?<=` / `(?<!` untouched.
        pattern = re.sub(r"\(\?<([A-Za-z]\w*)>", r"(?P<\1>", pattern)
        fields: list[str] = []

        def sub(m: re.Match) -> str:
            name, field = m.group(1), m.group(2)
            if name not in self.patterns:
                raise KeyError(f"unknown grok pattern %{{{name}}}")
            inner, inner_fields = self.expand(self.patterns[name], _depth + 1)
            if field:
                safe = re.sub(r"\W", "_", field)
                fields.append(safe)  # duplicates renamed at compile()
                # nested named captures inside an aliased pattern still count
                fields.extend(f for f in inner_fields if f not in fields)
                return f"(?P<{safe}>{inner})"
            fields.extend(f for f in inner_fields if f not in fields)
            return f"(?:{inner})"

        return _GROK_REF.sub(sub, pattern), fields

    def compile(self, pattern: str) -> "CompiledGrok":
        py_re, _ = self.expand(pattern)
        py_re, fields = _dedupe_group_names(py_re)
        return CompiledGrok(py_re, fields)


_GROUP_DEF = re.compile(r"\(\?P<(\w+)>")


def _dedupe_group_names(pattern: str) -> tuple[str, list[str]]:
    """Oniguruma (the reference's regex engine) allows duplicate named
    groups; Python/Java do not.  Composing the same sub-pattern twice
    (e.g. two %{COMBINEDAPACHELOG}) would redefine nested names like
    `clientip` — rename later occurrences name_2, name_3, ... and return the
    final names in group order."""
    seen: dict[str, int] = {}
    fields: list[str] = []

    def rename(m: re.Match) -> str:
        name = m.group(1)
        n = seen.get(name, 0) + 1
        seen[name] = n
        final = name if n == 1 else f"{name}_{n}"
        fields.append(final)
        return f"(?P<{final}>"

    return _GROUP_DEF.sub(rename, pattern), fields


class CompiledGrok:
    def __init__(self, python_regex: str, fields: list[str]):
        self.python_regex = python_regex
        self.fields = fields
        self.compiled = re.compile(python_regex)

    @property
    def java_regex(self) -> str:
        """Python named groups -> plain positional groups for F.regexp_* use.

        Java named groups forbid underscores, so the Java flavour drops the
        names entirely; group NUMBERING is unchanged (same parenthesis
        positions), and ``group_index`` maps field -> number."""
        return re.sub(r"\(\?P<\w+>", "(", self.python_regex)

    def group_index(self, field: str) -> int:
        """1-based regex group index of a named capture (for regexp_extract)."""
        return self.compiled.groupindex[field]
