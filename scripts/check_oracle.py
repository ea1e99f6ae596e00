"""Self-check harness mirroring the driver's correctness gate: run every
queries() entry on Spark at sf0.01 and its oracle_sql() on DuckDB over the
same parquet, compare row count + schema-sorted value multiset.  A column
whose type family (integer, floating, decimal, string, boolean, temporal)
differs between the two engines is reported as a DTYPE line; the value
comparison normalises numbers, so it would not notice.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    import decimal
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    return v


_DUCK_FAMILY = {
    "tinyint": "integer", "smallint": "integer", "integer": "integer",
    "bigint": "integer", "hugeint": "integer", "utinyint": "integer",
    "usmallint": "integer", "uinteger": "integer", "ubigint": "integer",
    "uhugeint": "integer", "float": "floating", "double": "floating",
    "decimal": "decimal", "varchar": "string", "boolean": "boolean",
    "date": "temporal", "time": "temporal", "timestamp": "temporal",
    "timestamp with time zone": "temporal", "timestamp_ns": "temporal",
    "timestamp_ms": "temporal", "timestamp_s": "temporal",
}


def spark_family(dt):
    from pyspark.sql import types as T
    if isinstance(dt, T.ArrayType):
        inner = spark_family(dt.elementType)
        return inner and f"{inner}[]"
    for cls, fam in ((T.IntegralType, "integer"), (T.DecimalType, "decimal"),
                     (T.FractionalType, "floating"), (T.StringType, "string"),
                     (T.BooleanType, "boolean"), (T.DateType, "temporal"),
                     (T.TimestampType, "temporal"),
                     (T.TimestampNTZType, "temporal")):
        if isinstance(dt, cls):
            return fam
    return None


def duck_family(t):
    if t.id == "list":
        inner = duck_family(t.child)
        return inner and f"{inner}[]"
    return _DUCK_FAMILY.get(t.id)


def dtype_mismatches(sschema, dcols, dtypes):
    """[(column, spark family, duckdb family)] where both are known and
    differ.  Types outside the families (struct, map, binary) are skipped."""
    duck = dict(zip(dcols, dtypes))
    out = []
    for f in sschema.fields:
        s, d = spark_family(f.dataType), duck_family(duck[f.name])
        if s and d and s != d:
            out.append((f.name, s, d))
    return out


def norm_rows(cols, rows):
    from collections import Counter
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from pastash_spark.session import get_spark

    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures, dtype_hits = [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols, sschema = sdf.columns, sdf.schema
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows-only ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s) [no oracle]")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols, dtypes = rel.columns, rel.types
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL  {name}: columns {sorted(scols)} != {sorted(dcols)}")
            failures.append(name)
            continue
        if len(srows) != len(drows):
            print(f"FAIL  {name}: rowcount {len(srows)} != {len(drows)}")
            failures.append(name)
            continue
        ns, nd = norm_rows(scols, srows), norm_rows(dcols, drows)
        if ns != nd:
            only_s = list((ns - nd).keys())[:2]
            only_d = list((nd - ns).keys())[:2]
            print(f"FAIL  {name}: value mismatch "
                  f"({sum((ns - nd).values())} rows differ):")
            print(f"      spark-only : {only_s}")
            print(f"      duckdb-only: {only_d}")
            failures.append(name)
            continue
        print(f"OK    {name}: {len(srows)} rows match ({time.time()-t0:.1f}s)")
        hits = dtype_mismatches(sschema, dcols, dtypes)
        if hits:
            print(f"DTYPE {name}: " + ", ".join(
                f"{c} spark {s} vs duckdb {d}" for c, s, d in hits))
            dtype_hits.append(name)

    print(f"\n{len(qs) - len(failures)}/{len(qs)} ok; failures: {failures}")
    print(f"dtype lint: {len(dtype_hits)} queries differ in a column's type "
          f"family: {dtype_hits}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
