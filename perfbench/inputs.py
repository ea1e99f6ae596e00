"""Seeded benchmark inputs and their expected results, cached per seed.

Everything here runs before the Spark JVM starts and without it: inputs are
written with NumPy/PyArrow and expected results come from DuckDB, so input
preparation neither warms the JVM that the cold pass measures nor counts
towards set-up time.

Two input sets, both pure functions of the seed:

* token tables: rows of ``pastash_spark.datagen`` (the same per-row
  generator ``datagen.write_token_table`` runs on executors), written as
  doc_id-ordered parquet parts.  One table feeds the flagship pass, a
  smaller one the lineage/sink pass.
* registry tables: ``events``, ``documents`` and ``embeddings`` of the
  repo's sf0.01 test tables (copied unchanged into ``data/sf0.01``), each
  written back in a row order drawn from the seed.  No query result may
  depend on row order, so a result that does shows as a failure on some
  seed.

Expected results: a DuckDB reference of the flagship routing and per-sink
aggregates, and ``pastash_spark.queries.ORACLES`` run on DuckDB over the
permuted copies.  They are stored normalised (see ``normalise``) in the
cache next to the inputs.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import time
from collections import Counter
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOKEN_PARTS = 8
SF_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                       "sf0.01")
REGISTRY_TABLES = ("events", "documents", "embeddings")
FLOAT_TOL = 1e-9


KEEP_SEEDS = 24  # input sets kept in the cache; older ones are deleted


@dataclass(frozen=True)
class Sizes:
    """Token-table rows, and how many rows of each permuted registry table
    to keep (None keeps them all)."""
    flagship_rows: int
    sink_rows: int
    events: int | None = None
    documents: int | None = None
    embeddings: int | None = None


DEFAULT_SIZES = Sizes(flagship_rows=20_000, sink_rows=5_000)


def normalise_cell(v):
    """A cell as plain JSON data: decimals as floats, timestamps as ISO
    text, arrays and structs as lists."""
    import datetime
    import decimal
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [normalise_cell(x) for x in v]
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


def _coarse(v):
    """Sort key of a cell: numbers to 6 significant digits, so that rows
    whose floats differ only in the last bits line up in both results."""
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return "NaN" if v != v else f"{float(v):.6g}"
    if isinstance(v, list):
        return [_coarse(x) for x in v]
    return v


def normalise(cols, rows) -> dict:
    """Columns sorted by name; rows as sorted lists of JSON-able cells."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [[normalise_cell(r[i]) for i in order] for r in rows]
    out.sort(key=lambda r: (json.dumps(_coarse(r)), json.dumps(r)))
    return {"cols": sorted(cols), "rows": out}


def _close(a, b) -> bool:
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(map(_close, a, b))
    if isinstance(a, float) or isinstance(b, float):
        # two engines may sum floats in another order: compare to 1e-9
        if not all(isinstance(x, (int, float)) for x in (a, b)):
            return False
        return (a != a and b != b) or math.isclose(a, b, rel_tol=FLOAT_TOL,
                                                   abs_tol=FLOAT_TOL)
    return a == b


def same_rows(got: dict, want: dict) -> bool:
    """Equal column names and equal row multisets, floats within FLOAT_TOL
    (``scripts/check_oracle.py`` compares floats to 9 digits)."""
    return (got["cols"] == want["cols"]
            and len(got["rows"]) == len(want["rows"])
            and all(map(_close, got["rows"], want["rows"])))


# --- token tables ------------------------------------------------------------

def _write_token_table(path: str, n_rows: int, seed: int) -> int:
    from pastash_spark import datagen
    os.makedirs(path)
    tokens = 0
    bounds = np.linspace(0, n_rows, TOKEN_PARTS + 1).astype(np.int64)
    for k in range(TOKEN_PARTS):
        ids = np.arange(bounds[k], bounds[k + 1], dtype=np.int64)
        pdf = datagen._gen_batch(ids, seed)
        tokens += int(pdf["n_tok"].sum())
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(path, f"part-{k:05d}.parquet"))
    return tokens


FLAGSHIP_SQL = """
WITH t AS (
  SELECT source, n_tok,
         CAST(regexp_extract(raw, '^<([0-9]+)>', 1) AS INTEGER) AS pri
  FROM read_parquet('{path}/*.parquet')),
r AS (
  SELECT t.source, t.n_tok,
         t.n_tok * coalesce(l.source_weight, 0.0) AS w,
         CASE WHEN (t.pri & 7) <= 3 THEN 'errors'
              WHEN l.route_tag = 'quality' THEN 'quality'
              WHEN l.route_tag = 'code' THEN 'code'
              ELSE 'bulk' END AS sink
  FROM t LEFT JOIN lookup l ON t.source = l.source)
SELECT sink, source, count(*) AS count, sum(n_tok) AS sum_tokens,
       avg(n_tok) AS avg_ntok, avg(w) AS avg_weighted
FROM r GROUP BY sink, source
"""


def _flagship_reference(con, path: str) -> dict:
    """Routing spec of ``plans.flagship`` restated in SQL: syslog severity
    (pri & 7) <= 3 goes to errors, else the lookup's route_tag picks
    quality/code, else bulk; aggregates per (sink, source)."""
    from pastash_spark import datagen
    con.register("lookup", datagen.source_lookup_pandas())
    cur = con.execute(FLAGSHIP_SQL.format(path=path))
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    counts: Counter = Counter()
    for r in rows:
        counts[r[0]] += r[2]
    return {"aggregates": normalise(cols, rows),
            "sink_counts": normalise(["sink", "rows"], list(counts.items()))}


# --- registry tables ---------------------------------------------------------

def _permuted(table: str, seed: int, keep: int | None) -> pa.Table:
    """The sf0.01 ``table`` in a row order drawn from the seed, cut to its
    first ``keep`` rows."""
    t = pq.read_table(os.path.join(SF_DATA, f"{table}.parquet"))
    rng = np.random.default_rng([seed, REGISTRY_TABLES.index(table)])
    order = rng.permutation(t.num_rows)[:keep]
    return t.take(pa.array(order))


def _registry_oracles(con, sf_dir: str, names) -> dict:
    from pastash_spark.queries import ORACLES
    for t in REGISTRY_TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name in names:
        cur = con.execute(ORACLES[name])
        out[name] = normalise([d[0] for d in cur.description], cur.fetchall())
    return out


# --- cache -------------------------------------------------------------------

def _code_digest(root: str) -> str:
    """Inputs and expected results depend on these files; a change to any of
    them makes a fresh cache entry."""
    h = hashlib.sha256()
    for rel in ("pastash_spark/datagen.py", "pastash_spark/queries.py",
                "perfbench/inputs.py") + tuple(
                    f"perfbench/data/sf0.01/{t}.parquet"
                    for t in REGISTRY_TABLES):
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _token_inputs(d: str, seed: int, sizes: Sizes, con) -> dict:
    flag_path, sink_path = os.path.join(d, "flagship"), os.path.join(d, "sink")
    t0 = time.perf_counter()
    flag_tokens = _write_token_table(flag_path, sizes.flagship_rows, seed)
    sink_tokens = _write_token_table(sink_path, sizes.sink_rows, seed + 1)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    ref = _flagship_reference(con, flag_path)
    return {"flagship_path": flag_path, "flagship_rows": sizes.flagship_rows,
            "flagship_tokens": flag_tokens, "sink_path": sink_path,
            "sink_rows": sizes.sink_rows, "sink_tokens": sink_tokens,
            "flagship_ref": ref, "gen_s": gen_s,
            "oracle_s": time.perf_counter() - t0}


def _registry_inputs(d: str, seed: int, sizes: Sizes, con, queries) -> dict:
    sf_dir = os.path.join(d, "sf")
    os.makedirs(sf_dir)
    t0 = time.perf_counter()
    rows = {}
    for name in REGISTRY_TABLES:
        table = _permuted(name, seed, getattr(sizes, name))
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    oracles = _registry_oracles(con, sf_dir, queries)
    return {"sf_dir": sf_dir, "registry_rows": rows, "oracles": oracles,
            "gen_s": gen_s, "oracle_s": time.perf_counter() - t0}


def prepare(root: str, cache: str, seed: int, kind: str, sizes: Sizes,
            registry_queries) -> tuple[str, bool]:
    """Return the path of the ``kind`` ("tokens" or "registry") input
    manifest for ``seed`` and whether it was generated now (else it came
    from the cache).

    The manifest holds the input paths, row/token counts, the expected
    results and how long generation took (context, never set-up time)."""
    key = hashlib.sha256(json.dumps(
        [seed, kind, asdict(sizes),
         sorted(registry_queries) if kind == "registry" else [],
         _code_digest(root)]).encode()).hexdigest()[:16]
    base = os.path.join(cache, "inputs")
    d = os.path.join(base, f"{kind}-seed{seed}-{key}")
    manifest_path = os.path.join(d, "manifest.json")
    if os.path.exists(manifest_path):
        os.utime(d)
        return manifest_path, False

    import duckdb
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    con = duckdb.connect()
    try:
        if kind == "tokens":
            m = _token_inputs(d, seed, sizes, con)
        else:
            m = _registry_inputs(d, seed, sizes, con, registry_queries)
    finally:
        con.close()
    m["seed"] = seed
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f)
    os.replace(tmp, manifest_path)
    _prune(base, keep=d)
    return manifest_path, True


def _prune(base: str, keep: str) -> None:
    """Delete all but the KEEP_SEEDS most recently used input sets."""
    dirs = sorted((os.path.join(base, n) for n in os.listdir(base)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_SEEDS:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    import sys
    root_, cache_, seed_, kind_, sizes_, queries_ = sys.argv[1:7]
    sys.path.insert(0, root_)
    path_, generated_ = prepare(root_, cache_, int(seed_), kind_,
                                Sizes(**json.loads(sizes_)),
                                json.loads(queries_))
    print(json.dumps([path_, generated_]))
