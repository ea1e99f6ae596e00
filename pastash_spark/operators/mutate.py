"""Mutation / compute operators + plugin gating (SURVEY.md §2.0, §2.2).

All pure column expressions — each maps one reference filter onto
``withColumn``/``drop``/``select`` so an entire mutate chain compiles into a
single projection inside whole-stage codegen.
"""

from __future__ import annotations

from typing import Callable, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pastash_spark.functions.interpolate import compile_template, moment_to_java


def rename(df: DataFrame, from_field: str, to_field: str) -> DataFrame:
    """filter_rename.js:22-28."""
    return df.withColumnRenamed(from_field, to_field)


def gsub(df: DataFrame, field: str, from_regex: str, to: str) -> DataFrame:
    """Global regex replace (filter_mutate_replace.js:23-30)."""
    return df.withColumn(field, F.regexp_replace(F.col(field), from_regex, to))


def mutate_hash(df: DataFrame, field: str, *, algo: str = "sha256") -> DataFrame:
    """Replace field with its hash (filter_mutate_hash.js:24-29).

    The reference's filter calls npm murmur3 ``hash128().hex()`` — but that
    module is neither in its package.json nor vendored, so which 128-bit
    variant it would produce is unverifiable (pure-JS ports usually
    implement x86_128).  We therefore expose BOTH canonical variants, each
    pinned bit-exact against the published smhasher verification constants
    (tests/test_operators.py): ``algo='murmur3_128'`` = MurmurHash3 x64_128
    (the conventional server-side dedup choice), ``algo='murmur3_x86_128'``
    = MurmurHash3 x86_128.  Both run as Arrow pandas UDFs with a per-batch
    memo (murmur 128 is not a JVM builtin).  The default stays sha256
    (JVM-native, whole-stage codegen) because on the hot path a codegen hash
    beats any Python round-trip; ``algo='xxhash64'`` is the fast 64-bit
    JVM path.  The semantic contract downstream dedup/routing relies on is
    a stable one-way digest of the string value.
    """
    c = F.col(field).cast("string")
    if algo == "md5":
        h = F.md5(c)
    elif algo == "xxhash64":
        h = F.xxhash64(c).cast("string")
    elif algo in ("murmur3_128", "murmur3_x86_128"):
        from pastash_spark.functions import murmur3 as _mm
        hex_fn = (_mm.murmur3_128_hex if algo == "murmur3_128"
                  else _mm.murmur3_x86_128_hex)

        @F.pandas_udf("string")
        def mm3(s: pd.Series) -> pd.Series:
            memo: dict[str, str] = {}
            def one(v):
                if v is None:
                    return None
                got = memo.get(v)
                if got is None:
                    got = memo[v] = hex_fn(v)
                return got
            return s.map(one)

        h = mm3(c)
    else:
        h = F.sha2(c, 256)
    return df.withColumn(field, h)


def remove_field_when_equal(df: DataFrame, field: str, value) -> DataFrame:
    """filter_remove_field_when_equal.js:22-27 — null out on equality."""
    c = F.col(field)
    return df.withColumn(field, F.when(c.eqNullSafe(F.lit(value)), F.lit(None)).otherwise(c))


def omit(df: DataFrame, *, whitelist: Sequence[str] | None = None,
         blacklist: Sequence[str] | None = None) -> DataFrame:
    """Projection: keep-only or drop listed columns (filter_omit.js:6-11,31-39).
    Pure SELECT-list pruning — Catalyst propagates it into the scan."""
    if whitelist is not None:
        return df.select(*[c for c in df.columns if c in set(whitelist)])
    if blacklist is not None:
        return df.drop(*[c for c in blacklist if c in df.columns])
    return df


def add_tags(df: DataFrame, tags: Sequence[str]) -> DataFrame:
    """base_component.js:356-365; creates the tags array if absent."""
    base = (F.coalesce(F.col("tags"), F.array().cast("array<string>"))
            if "tags" in df.columns else F.array().cast("array<string>"))
    return df.withColumn("tags", F.array_union(base, F.array(*[F.lit(t) for t in tags])))


def remove_tags(df: DataFrame, tags: Sequence[str]) -> DataFrame:
    """base_component.js:367-379."""
    if "tags" not in df.columns:
        return df
    return df.withColumn(
        "tags", F.array_except(F.col("tags"), F.array(*[F.lit(t) for t in tags])))


def add_fields(df: DataFrame, fields: dict[str, str]) -> DataFrame:
    """Set fields from interpolated templates (base_component.js:381-390);
    a template referencing a missing field yields NULL (write suppressed)."""
    for name, template in fields.items():
        df = df.withColumn(name, compile_template(template))
    return df


def remove_fields(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    """base_component.js:392-395."""
    return df.drop(*[f for f in fields if f in df.columns])


def compute_field(df: DataFrame, field: str, template: str) -> DataFrame:
    """Derived column from a template (filter_compute_field.js:22-27)."""
    return df.withColumn(field, compile_template(template))


def compute_date_field(df: DataFrame, field: str, date_format: str,
                       from_field: str = "@timestamp") -> DataFrame:
    """Format a timestamp column per moment format (filter_compute_date_field.js:28-37)."""
    src = F.col(from_field) if from_field in df.columns else F.current_timestamp()
    return df.withColumn(field, F.date_format(src, moment_to_java(date_format)))


def eval_expr(df: DataFrame, target: str, expression: str) -> DataFrame:
    """Safe replacement for the reference's arbitrary-JS eval
    (filter_eval.js:26-39): the expression is Spark SQL, compiled by Catalyst
    and executed in codegen.  Covers the tinymath filter too
    (filter_tinymath.js:27-38) — tinymath's operator/function set is a subset
    of Spark SQL scalar functions."""
    return df.withColumn(target, F.expr(expression))


def _mustache_escape_col(c: Column) -> Column:
    """mustache.js HTML entity escaping as chained codegen replaces."""
    from pastash_spark.functions.mustache import _ESCAPES
    c = F.regexp_replace(c, "&", "&amp;")
    for ch, ent in _ESCAPES.items():
        if ch == "&":
            continue
        c = F.regexp_replace(c, "\\" + ch if ch in r"\^$.|?*+()[]{}" else ch,
                             ent)
    return c


def mustache(df: DataFrame, target: str, template: str) -> DataFrame:
    """Full Mustache rendering (filter_mustache.js:25-36 renders with the
    npm mustache lib): variables with mustache.js HTML escaping,
    ``{{{raw}}}``/``{{&raw}}``, ``{{#section}}``/``{{^inverted}}`` over
    lists/structs/truthiness, dotted paths, comments.

    Simple-variable templates over non-float columns compile to a native
    escaped-concat (pure codegen).  Sections — or float variables, whose
    JS string form differs from Spark's — render in ONE Arrow pass over a
    to_json struct of just the referenced columns (column-pruned)."""
    from pastash_spark.functions import mustache as MU

    toks = MU.parse_template(template)
    roots = sorted(r for r in MU.referenced_roots(toks) if r in df.columns)

    def _dtype_ok(name: str) -> bool:
        from pyspark.sql import types as T
        parts = name.split(".")
        if parts[0] not in df.columns:
            return True  # missing -> empty string, type-independent
        dt = df.schema[parts[0]].dataType
        for p in parts[1:]:
            if isinstance(dt, T.StructType) and p in dt.fieldNames():
                dt = dt[p].dataType
            else:
                return True
        # floats: JS string form differs from Spark's cast; arrays/maps/
        # structs: JS renders '1,2' / '[object Object]', not Spark's
        # '[1, 2]' — all take the UDF path where _js_str applies.
        return not isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType,
                                   T.ArrayType, T.MapType, T.StructType))

    if MU.only_simple_vars(toks) and all(
            _dtype_ok(t[1]) for t in toks if t[0] == "var"):
        parts: list[Column] = []
        for t in toks:
            if t[0] == "text":
                parts.append(F.lit(t[1]))
            else:
                name_parts = t[1].split(".")
                if name_parts[0] not in df.columns:
                    parts.append(F.lit(""))
                    continue
                c = F.col(name_parts[0])
                for p in name_parts[1:]:
                    c = c[p]
                c = F.coalesce(c.cast("string"), F.lit(""))
                parts.append(_mustache_escape_col(c) if t[2] else c)
        return df.withColumn(target, F.concat(*parts) if parts else F.lit(""))

    import json

    @F.pandas_udf("string")
    def render_udf(payload: pd.Series) -> pd.Series:
        return payload.map(lambda s: MU.render_row(toks, json.loads(s)))

    payload = F.to_json(F.struct(*[F.col(r) for r in roots])) if roots \
        else F.lit("{}")
    return df.withColumn(target, render_udf(payload))


def add_timestamp(df: DataFrame) -> DataFrame:
    """Set @timestamp where absent, never overwrite
    (filter_add_timestamp.js: only when undefined on the event)."""
    existing = (F.col("@timestamp") if "@timestamp" in df.columns
                else F.lit(None).cast("timestamp"))
    return df.withColumn("@timestamp",
                         F.coalesce(existing, F.current_timestamp()))


def add_host(df: DataFrame, hostname: str | None = None) -> DataFrame:
    """Set host where absent (filter_add_host.js: os.hostname())."""
    if hostname is None:
        import socket
        hostname = socket.gethostname()
    existing = (F.col("host") if "host" in df.columns
                else F.lit(None).cast("string"))
    return df.withColumn("host", F.coalesce(existing, F.lit(hostname)))


def add_version(df: DataFrame, version: str = "1") -> DataFrame:
    """Set @version where absent (filter_add_version.js)."""
    existing = (F.col("@version") if "@version" in df.columns
                else F.lit(None).cast("string"))
    return df.withColumn("@version", F.coalesce(existing, F.lit(version)))


# --- plugin gating (base_component.js:165-247) -------------------------------

def apply_when(df: DataFrame, cond: Column,
               op: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """Apply an operator only to rows satisfying ``cond``; other rows pass
    through unchanged — the reference's only_type / only_field_* / dynamic-if
    gating, where a gated-out event skips the plugin
    (base_component.js:218-247).

    Implemented as branch-and-union: both branches stay lazy, Catalyst pushes
    the complementary predicates into the shared scan, and new columns appear
    as NULL on the untouched branch.
    """
    cond = F.coalesce(cond, F.lit(False))
    hit = op(df.filter(cond))
    return hit.unionByName(df.filter(~cond), allowMissingColumns=True)


def only_type(df: DataFrame, type_value: str,
              op: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """base_component.js:165-167."""
    return apply_when(df, F.col("type") == type_value, op)
