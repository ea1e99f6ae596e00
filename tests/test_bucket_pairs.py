"""dataset.bucket_pairs — the one in-bucket pair generator — against a
pure-Python replay: every i<j pair of a bucket's rows in (order, payload)
order whose orders differ, per bucket of at most ``max_bucket`` rows."""

from __future__ import annotations

from collections import defaultdict
from itertools import combinations

from pastash_spark.operators import dataset as D

ROWS = [
    # (k, o, p): bucket key, order, payload
    (1, 1, "solo"),                                  # singleton: no pair
    (2, 5, "x"), (2, 5, "y"), (2, 6, "z"),           # equal orders
    (3, 1, "a"), (3, 2, "b"), (3, 3, "c"),           # exactly the cap
    (4, 1, "a"), (4, 2, "b"), (4, 3, "c"), (4, 4, "d"),  # cap + 1
]
CAP = 3


def _replay(rows, cap):
    buckets = defaultdict(list)
    for k, o, p in rows:
        buckets[k].append((o, p))
    out = []
    for k, members in buckets.items():
        if cap is not None and len(members) > cap:
            continue
        for a, b in combinations(sorted(members), 2):
            if a[0] < b[0]:
                out.append((k, a, b))
    return sorted(out)


def _pairs(df, **kw):
    got = D.bucket_pairs(df, "k", "o", "p", **kw).collect()
    return sorted((r.k, (r._a.o, r._a.p), (r._b.o, r._b.p)) for r in got)


def test_bucket_pairs_matches_combinations_replay(spark):
    df = spark.createDataFrame(ROWS, "k int, o int, p string")
    assert _pairs(df) == _replay(ROWS, None)
    # equal orders never pair: bucket 2 yields x-z and y-z only
    assert [(a, b) for k, a, b in _pairs(df) if k == 2] == [
        ((5, "x"), (6, "z")), ((5, "y"), (6, "z"))]


def test_bucket_pairs_cap_keeps_cap_drops_cap_plus_one(spark):
    df = spark.createDataFrame(ROWS, "k int, o int, p string")
    got = _pairs(df, max_bucket=CAP, metric="test_bucket_cap")
    assert got == _replay(ROWS, CAP)
    assert {k for k, _, _ in got} == {2, 3}          # 3 kept, 4 dropped
    assert D.cap_drop_stats("test_bucket_cap") == {
        "dropped_rows": 4, "dropped_groups": 1, "total_groups": 4}


def test_bucket_pairs_multi_key(spark):
    rows = [(1, "a", 1), (1, "a", 2), (1, "b", 3), (2, "a", 4)]
    df = spark.createDataFrame(rows, "k1 int, k2 string, o int")
    got = D.bucket_pairs(df, ["k1", "k2"], "o").collect()
    assert [(r.k1, r.k2, r._a.o, r._b.o) for r in got] == [(1, "a", 1, 2)]


def test_bucket_pairs_cap_dropping_every_bucket(spark):
    df = spark.createDataFrame(ROWS, "k int, o int, p string")
    assert _pairs(df, max_bucket=0, metric="test_bucket_cap_all") == []
    assert D.cap_drop_stats("test_bucket_cap_all") == {
        "dropped_rows": len(ROWS), "dropped_groups": 4, "total_groups": 4}


def test_cap_stats_of_a_query_that_never_ran(spark):
    """The Observation never fires, so the read must not block on it: it
    answers from the standalone aggregation, with the same numbers."""
    df = spark.createDataFrame(ROWS, "k int, o int, p string")
    D.bucket_pairs(df, "k", "o", "p", max_bucket=CAP,
                   metric="test_bucket_cap_unrun")
    assert D.cap_drop_stats("test_bucket_cap_unrun") == {
        "dropped_rows": 4, "dropped_groups": 1, "total_groups": 4}
