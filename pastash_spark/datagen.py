"""Deterministic synthetic data generators (FIXTURES.md schemas).

Everything here is seed-stable and *distributed*: generation runs as
``spark.range(n).mapInPandas(...)`` so a 10^9-row bench table is produced by
the executors in parallel, never by a driver loop.  Per-row values derive from
a splitmix64 integer mix of (seed, row_index) — counter-based, so any row of
any scale tier is reproducible in isolation (the property a resumable
100 TB backfill needs).

Tables
------
token_sequences   (doc_id string, tokens array<int>, n_tok int, source string,
                   raw string) — the BASELINE.json input_hint shape plus the
                   rendered syslog-style header line `raw` that the parse
                   stage extracts fields back out of (FIXTURES.md §1).
source_lookup     20-row broadcast enrichment dim (FIXTURES.md §2).
correlation_events CREATE/ANSWER/DESTROY lifecycle stream for sessionization
                   tests (FIXTURES.md §4; semantics from
                   /root/reference/lib/filters/filter_esl.js:159-204).
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pastash_spark.session import local_frame

SEED = 42
VOCAB = 50257
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]

# ~12 source categories; `web` is the deliberate hot key (~40%) so enrichment
# joins and groupBys exercise salting / AQE skew handling.
SOURCES = ["web", "books", "code", "wiki", "news", "arxiv",
           "forums", "social", "legal", "patents", "subtitles", "mail"]
# Cumulative per-mille thresholds: web=400, books=120, code=110, wiki=100,
# news=80, arxiv=50, forums=40, social=40, legal=25, patents=15, sub=10, mail=10
_SRC_CUM = np.cumsum([400, 120, 110, 100, 80, 50, 40, 40, 25, 15, 10, 10])

TOKEN_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
    T.StructField("n_tok", T.IntegerType(), False),
    T.StructField("source", T.StringType(), False),
    T.StructField("raw", T.StringType(), False),
])


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer — the counter-based PRNG core."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z = x
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    return z ^ (z >> np.uint64(31))


def _mix(i: np.ndarray, stream: int, seed: int = SEED) -> np.ndarray:
    offset = (seed * 0x5851F42D4C957F2D + stream * 0x2545F4914F6CDD1D) % (1 << 64)
    return _splitmix64(i.astype(np.uint64) + np.uint64(offset))


def _gen_batch(ids: np.ndarray, seed: int) -> pd.DataFrame:
    n = len(ids)
    m_ntok = _mix(ids, 1, seed)
    m_src = _mix(ids, 2, seed)
    m_misc = _mix(ids, 3, seed)

    # n_tok: 85% short [8, 128), 15% long [8, 2048) — Zipf-ish mix.
    is_long = (m_ntok % np.uint64(100)) < np.uint64(15)
    n_tok = np.where(is_long,
                     8 + (m_ntok >> np.uint64(8)) % np.uint64(2040),
                     8 + (m_ntok >> np.uint64(8)) % np.uint64(120)).astype(np.int32)

    src_idx = np.searchsorted(_SRC_CUM, (m_src % np.uint64(1000)).astype(np.int64), side="right")
    src_idx = np.minimum(src_idx, len(SOURCES) - 1)
    sources = np.array(SOURCES, dtype=object)[src_idx]

    # Ragged token arrays from one flat counter-based stream: token j of row i
    # is splitmix(seed, global_offset_i + j) — reproducible per row.
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offsets[1:])
    total = int(offsets[-1])
    base = np.repeat(ids.astype(np.int64) * 4099, n_tok)  # per-row stream base
    pos = np.arange(total, dtype=np.int64) - np.repeat(offsets[:-1], n_tok)
    flat = (_mix((base + pos).astype(np.uint64), 7, seed) % np.uint64(VOCAB)).astype(np.int32)
    tokens = [flat[offsets[k]:offsets[k + 1]] for k in range(n)]

    # doc_id with duplicate prefixes across sources (FIXTURES §1): the prefix
    # groups ids in blocks of 1000 so distinct sources share prefixes.
    doc_ids = np.array([f"doc-{i // 1000:06d}-{i % 1000:06d}" for i in ids], dtype=object)

    # Rendered syslog-style header (parse target, cf. reference pattern file
    # /root/reference/lib/patterns/syslog) — `<pri>MMM DD HH:mm:ss host prog[pid]: msg`.
    pri = (m_misc % np.uint64(192)).astype(np.int64)
    month = np.array(MONTHS, dtype=object)[((m_misc >> np.uint64(8)) % np.uint64(12)).astype(np.int64)]
    day = ((m_misc >> np.uint64(16)) % np.uint64(28) + np.uint64(1)).astype(np.int64)
    hh = ((m_misc >> np.uint64(24)) % np.uint64(24)).astype(np.int64)
    mm = ((m_misc >> np.uint64(32)) % np.uint64(60)).astype(np.int64)
    ss = ((m_misc >> np.uint64(40)) % np.uint64(60)).astype(np.int64)
    host_n = ((m_misc >> np.uint64(48)) % np.uint64(20)).astype(np.int64)
    pid = ((m_misc >> np.uint64(52)) % np.uint64(9000) + np.uint64(1000)).astype(np.int64)
    first_tok = np.array([int(t[0]) for t in tokens], dtype=np.int64)
    raw = np.array([
        f"<{pri[k]}>{month[k]} {day[k]:2d} {hh[k]:02d}:{mm[k]:02d}:{ss[k]:02d} "
        f"host{host_n[k]} {sources[k]}[{pid[k]}]: ntok={n_tok[k]} first={first_tok[k]} doc={doc_ids[k]}"
        for k in range(n)
    ], dtype=object)

    return pd.DataFrame({
        "doc_id": doc_ids,
        "tokens": tokens,
        "n_tok": n_tok,
        "source": sources,
        "raw": raw,
    })


def token_sequences(spark: SparkSession, n_rows: int, seed: int = SEED,
                    partitions: int | None = None) -> DataFrame:
    """Distributed deterministic token table (input_hint shape + `raw`)."""
    if partitions is None:
        partitions = max(8, min(256, n_rows // 50_000 or 8))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            # bound Arrow batch memory: long rows make wide arrays
            for lo in range(0, len(ids), 20_000):
                yield _gen_batch(ids[lo:lo + 20_000], seed)

    return (spark.range(0, n_rows, numPartitions=partitions)
            .mapInPandas(gen, schema=TOKEN_SCHEMA))


# --- source_lookup dim (FIXTURES.md §2) -------------------------------------
# Covers all 12 sources plus unmatched extras for the left-join null path.
# route_tag drives the 3-way sink fan-out (+ implicit default sink).
_LOOKUP_ROWS = [
    # source, source_region, source_weight, route_tag
    ("web", "global", 1.0, "bulk"),
    ("books", "us", 2.5, "quality"),
    ("code", "global", 3.0, "code"),
    ("wiki", "global", 2.0, "quality"),
    ("news", "eu", 1.5, "bulk"),
    ("arxiv", "global", 3.5, "quality"),
    ("forums", "us", 0.8, "bulk"),
    ("social", "us", 0.5, "bulk"),
    ("legal", "eu", 2.2, "quality"),
    ("patents", "us", 2.1, "quality"),
    ("subtitles", "eu", 0.9, "bulk"),
    ("mail", "global", 0.4, "bulk"),
    ("usenet", "us", 0.7, "bulk"),       # unmatched extras (null-path probes)
    ("gopher", "global", 0.1, "bulk"),
]

LOOKUP_SCHEMA = T.StructType([
    T.StructField("source", T.StringType(), False),
    T.StructField("source_region", T.StringType(), False),
    T.StructField("source_weight", T.DoubleType(), False),
    T.StructField("route_tag", T.StringType(), False),
])


def source_lookup(spark: SparkSession) -> DataFrame:
    return local_frame(spark, _LOOKUP_ROWS, LOOKUP_SCHEMA)


def source_lookup_pandas() -> pd.DataFrame:
    return pd.DataFrame(_LOOKUP_ROWS, columns=[f.name for f in LOOKUP_SCHEMA.fields])


# --- correlation lifecycle events (FIXTURES.md §4) ---------------------------

EVENTS_SCHEMA = T.StructType([
    T.StructField("ts", T.TimestampType(), False),
    T.StructField("correlation_id", T.StringType(), False),
    T.StructField("event_name", T.StringType(), False),
    T.StructField("metric", T.DoubleType(), False),
    T.StructField("status", T.IntegerType(), False),
])


def correlation_events(spark: SparkSession, n_calls: int, seed: int = SEED) -> DataFrame:
    """CREATE→(ANSWER)→DESTROY lifecycles, ~3-5 events per call key, with
    inter-call gaps wide enough to split session windows."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"].to_numpy():
                m = int(_mix(np.array([i], dtype=np.uint64), 11, seed)[0])
                key = f"call-{i:08d}"
                t0 = pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=int(i) * 3600 + m % 1800)
                answered = (m >> 8) % 4 != 0
                n_media = (m >> 10) % 3
                rows.append((t0, key, "CHANNEL_CREATE", float((m >> 16) % 100), 100))
                t = t0
                if answered:
                    t = t + pd.Timedelta(seconds=1 + (m >> 20) % 30)
                    rows.append((t, key, "CHANNEL_ANSWER", float((m >> 24) % 100), 200))
                for j in range(n_media):
                    t = t + pd.Timedelta(seconds=1 + j)
                    rows.append((t, key, "MEDIA", float((m >> (28 + j)) % 50), 183))
                t = t + pd.Timedelta(seconds=2 + (m >> 34) % 60)
                rows.append((t, key, "CHANNEL_DESTROY", float((m >> 40) % 100), 487 if not answered else 200))
            yield pd.DataFrame(rows, columns=["ts", "correlation_id", "event_name", "metric", "status"])

    return spark.range(0, n_calls, numPartitions=8).mapInPandas(gen, schema=EVENTS_SCHEMA)


def write_token_table(spark: SparkSession, path: str, n_rows: int,
                      seed: int = SEED, partitions: int | None = None) -> None:
    """Materialize the token table as parquet partitioned the way the real
    job would be: range-partitioned by doc_id so downstream per-doc work is
    co-located (north rule: explicit partition policy).

    Default split count is sized so the file layout never caps parallelism:
    at least 2x the machine's cores (a local[32] run over an 8-file table
    can only schedule 8 scan tasks)."""
    if partitions is None:
        partitions = max(2 * (os.cpu_count() or 16), n_rows // 50_000 or 1)
    df = token_sequences(spark, n_rows, seed=seed)
    df.repartitionByRange(partitions, "doc_id") \
      .write.mode("overwrite").parquet(path)
