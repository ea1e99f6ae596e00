"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline, and sign-LSH / IVF
variants as the scale path.  Top-k candidates score JVM-side via F.aggregate
/ zip_with (``cosine``); the bulk passes are vectorized Arrow UDFs: one
matrix product per batch for the sign-LSH buckets (``sign_buckets``) and
the IVF cell assignment, numpy per grid cell in ``exact_cosine_pairs`` and
per candidate batch in ``lsh_near_dup_pairs``.  At 100 TB the broadcast of
the query set is the key property: scoring is a map-only pass over the
corpus (one scan, zero shuffle), and only the per-partition top-k survivors
reach the final top-k reduce.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pastash_spark.operators.dataset import bucket_pairs, portable_hash60_py
from pastash_spark.session import local_frame


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` best-scored neighbors of each query: rank 1..k by ``_sim``
    descending, ties to the smaller ``neighbor_id`` — the one ranking tail
    of every top-k search.  Output: (query_id, neighbor_id, rank, sim)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.col("_sim").alias("sim")))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, *,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     k: int = 10) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, score map-side, then a single top-k window per query.

    Output: (query_id, neighbor_id, rank) with rank 1..k — ids and ranks
    only, so results are engine-portable (no float in the compared output).
    Ties break on neighbor_id for determinism.
    """
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("_qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("_cv"))
    scored = (c.crossJoin(F.broadcast(q))
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("_sim", cosine(
                  F.col("_qv").cast("array<double>"),
                  F.col("_cv").cast("array<double>"))))
    return _top_k(scored, k)


def plane_component_py(p: int, j: int, *, seed: int = 42) -> float:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5):
    portable_hash60('seed,p,j') scaled.  Derived on the DRIVER and embedded
    as plan literals (planes are row-independent constants — deriving them
    inside a HOF lambda would re-hash per element per row, interpreted).
    The DuckDB oracle re-derives the identical planes in SQL from md5."""
    h = portable_hash60_py(f"{seed},{p},{j}")
    return (h % 1_000_003) / 1_000_003.0 - 0.5


def _plane_matrix(n_planes: int, dim: int, seed: int) -> np.ndarray:
    return np.array([[plane_component_py(p, j, seed=seed)
                      for j in range(dim)] for p in range(n_planes)],
                    dtype=np.float64)


def sign_buckets(v: str, *, n_tables: int, n_planes: int,
                 dim: int | None) -> Column:
    """Sign-random-projection LSH buckets (SimHash for vectors) of the
    vector column named ``v``: ``array<long>``, one bucket per table.
    Table t's bucket is the bits of sign(v . r_p) over the ``n_planes``
    hyperplanes ``_plane_matrix(n_planes, dim, 42 + t)`` (md5-derived on
    the driver — reproducible across runs AND engines; the SQL oracles
    re-derive the identical planes).

    One Arrow pass per batch for ALL tables: the T*P dot products are a
    single BLAS matrix product.  (A zip_with+aggregate HOF pair per plane
    walks the array 2*P times per row, interpreted; a union of per-table
    passes scans the input T times.)  Callers posexplode the array to
    (table, bucket)."""
    if dim is None:
        raise ValueError("pass dim= (embedding dimensionality)")
    planes = np.concatenate(
        [_plane_matrix(n_planes, dim, 42 + t) for t in range(n_tables)])
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf("array<long>")
    def buckets(vs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(x, dtype=np.float64) for x in vs]) \
            if len(vs) else np.empty((0, dim))
        bits = ((m @ planes.T) > 0).reshape(len(vs), n_tables, n_planes)
        return pd.Series(list((bits * weights).sum(axis=2).astype(np.int64)))

    return buckets(F.col(v).cast("array<double>"))


def exact_cosine_pairs(df: DataFrame, *, id_col: str = "vec_id",
                       vec_col: str = "embedding", threshold: float = 0.5,
                       n_blocks: int = 16,
                       max_rows: int | None = 2_000_000) -> DataFrame:
    """EXACT all-pairs cosine threshold join, distributed as a block-grid
    theta-join (the 1-bucket theta-join shape from Okcan & Riedewald,
    SIGMOD'11): rows hash into B blocks; each unordered block pair (i,j)
    becomes an equi-join key, so the O(n^2) pair evaluations spread evenly
    over B(B+1)/2 independent tasks instead of a BroadcastNestedLoopJoin
    funneling the whole corpus through one in-memory build side.

    Shuffle volume is ~n*(B+1)/2 per side — linear in n for fixed B; pick
    B ~ sqrt(desired tasks).  Exactness: every unordered row pair lands in
    exactly one grid cell (diagonal cells deduped by id order).

    For a *near-dup* threshold (>=0.9) prefer lsh_near_dup_pairs + this as
    the verifier on candidates; the exact grid is for low thresholds where
    guaranteed-recall blocking does not exist.

    ``max_rows`` is a fail-fast scale guard: an exact low-threshold join is
    O(n^2) pair evaluations BY DEFINITION — the grid spreads the work
    evenly but cannot shrink it, and past ~10^6-10^7 vectors the job is
    compute-unrunnable no matter the cluster.  Rather than silently
    launching that job, raise with the LSH path recommendation.  Pass
    ``max_rows=None`` for an explicit opt-out (e.g. verifier over a
    pre-filtered candidate subset).
    """
    B = n_blocks
    spark = df.sparkSession
    if max_rows is not None:
        n = df.count()
        if n > max_rows:
            raise ValueError(
                f"exact_cosine_pairs: input has {n} rows > max_rows="
                f"{max_rows}; an exact all-pairs cosine at this size is "
                f"O(n^2) = {n * n:.1e} pair evaluations.  Use "
                "lsh_near_dup_pairs (sign-LSH candidates + exact verify) "
                "for near-dup thresholds, or pass max_rows=None to force.")
    base = df.select(F.col(id_col).alias("id"),
                     F.col(vec_col).cast("array<double>").alias("v"),
                     F.pmod(F.xxhash64(F.col(id_col)), F.lit(B))
                     .cast("int").alias("bk"))
    grid = local_frame(
        spark, [(i, j) for i in range(B) for j in range(i, B)], "i int, j int")
    left = base.join(F.broadcast(grid), F.col("bk") == F.col("i")) \
        .select("i", "j", "id", "v")
    # distinct column names on the right side keep the self-cogroup
    # unambiguous (both lineages share `base`)
    right = base.join(F.broadcast(grid), F.col("bk") == F.col("j")) \
        .select(F.col("i").alias("ri"), F.col("j").alias("rj"),
                F.col("id").alias("rid"), F.col("v").alias("rv"))

    # each grid cell scores as ONE normalized matrix product (numpy/BLAS) —
    # a Catalyst HOF cosine would re-walk both arrays interpreted per pair
    def score_cell(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame):
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"id_a": [], "id_b": []})
        li = lpdf["id"].to_numpy()
        ri = rpdf["rid"].to_numpy()
        lm = np.stack(lpdf["v"].to_numpy())
        rm = np.stack(rpdf["rv"].to_numpy())
        lm /= np.linalg.norm(lm, axis=1, keepdims=True)
        rm /= np.linalg.norm(rm, axis=1, keepdims=True)
        sims = lm @ rm.T
        if key[0] == key[1]:                 # diagonal cell: order the pair
            mask = (sims > threshold) & (li[:, None] < ri[None, :])
        else:
            mask = sims > threshold
        a, b = np.nonzero(mask)
        ia, ib = li[a], ri[b]
        return pd.DataFrame({"id_a": np.minimum(ia, ib),
                             "id_b": np.maximum(ia, ib)})

    return (left.groupBy("i", "j")
            .cogroup(right.groupBy("ri", "rj"))
            .applyInPandas(score_cell, "id_a long, id_b long"))


def lsh_near_dup_pairs(df: DataFrame, *, id_col: str = "vec_id",
                       vec_col: str = "embedding", threshold: float = 0.9,
                       n_tables: int = 3, n_planes: int = 8,
                       dim: int | None = None) -> DataFrame:
    """HIGH-threshold embedding near-dup pairs — the 100 TB path: candidates
    from T independent random-projection tables (pairs inside each bucket,
    bucket_pairs; a pair qualifies if ANY table buckets it together), then
    exact cosine verification on candidates only.

    vs exact_cosine_pairs: the grid join evaluates all O(n^2) pairs — right
    for LOW thresholds where no blocking can guarantee recall; at near-dup
    thresholds (>=0.9, SemDeDup-style) sign-LSH collapses the candidate set
    to ~buckets' within-bucket pairs, linear-ish in n.  Hyperplanes are the
    deterministic md5-derived constants, so an external SQL oracle can
    replicate the exact candidate condition — the approximation itself is
    driver-verifiable.
    """
    # base feeds the bucket UDF AND both verify sides — materialize it once
    # (lazy localCheckpoint; see dataset.dedup_minhash for why ReuseExchange
    # does not share it and for the cluster caveat)
    base = (df.select(F.col(id_col).alias("id"),
                      F.col(vec_col).cast("array<double>").alias("v"))
            .localCheckpoint(eager=False))
    # ALL tables' buckets in ONE Arrow pass, then ONE pair pass keyed on
    # (table, bucket): a pair is a candidate iff some table buckets it
    # together — one shuffle, not T.
    bk = base.select("id", F.posexplode(sign_buckets(
        "v", n_tables=n_tables, n_planes=n_planes, dim=dim)).alias("t", "bk"))
    cand_ids = (bucket_pairs(bk, ["t", "bk"], "id")
                .select(F.col("_a.id").alias("id_a"),
                        F.col("_b.id").alias("id_b"))
                .distinct())
    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("_va"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("_vb"))

    # stays a pandas UDF: the HOF ``cosine`` here returned the same pairs
    # but ran slower (sf0.1, local[4], median 1.64 -> 1.95 s, slower in 6
    # of 6 interleaved pairs)
    @F.pandas_udf("double")
    def cos_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series([], dtype="float64")
        ma = np.stack([np.asarray(x, dtype=np.float64) for x in a])
        mb = np.stack([np.asarray(x, dtype=np.float64) for x in b])
        num = (ma * mb).sum(axis=1)
        den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        return pd.Series(num / den)

    return (cand_ids.join(va, "id_a").join(vb, "id_b")
            .filter(cos_udf(F.col("_va"), F.col("_vb")) > threshold)
            .select("id_a", "id_b"))


def ivf_assign(v: str, centroids: list, *, nprobe: int = 1) -> Column:
    """The ``nprobe`` nearest centroid cells (cosine, ties to the smaller
    centroid id) of the vector column named ``v``: ``array<long>``.
    ``centroids`` = [(cid, [floats])], small (they ride into the UDF
    closure; at real scale they'd broadcast).  One Arrow pass: the whole
    batch scores against the centroid matrix as a single normalized matrix
    product.  Callers explode the array inside the generator, so the UDF
    runs once per row (a projected cell column lets the join's inferred
    not-null filter re-run it below the projection)."""
    cids = np.array([c[0] for c in centroids], dtype=np.int64)
    cm = np.stack([np.asarray(c[1], dtype=np.float64) for c in centroids])
    cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
    order = np.argsort(cids)
    cids, cm = cids[order], cm[order]          # ascending cid = stable ties

    @F.pandas_udf("array<long>")
    def cells(vs: pd.Series) -> pd.Series:
        m = np.stack(vs.to_numpy()).astype(np.float64)
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        sims = m @ cm.T
        # stable argsort on -sims: equal sims resolve to the smaller cid
        top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(cids[top]))

    return cells(F.col(v).cast("array<double>"))


def ivf_topk(corpus: DataFrame, queries: DataFrame, *,
             id_col: str = "vec_id", vec_col: str = "embedding",
             k: int = 10, n_centroids: int = 8, nprobe: int = 2) -> DataFrame:
    """IVF approximate top-k: corpus partitions into centroid cells; each
    query searches only its ``nprobe`` nearest cells.  Centroids are
    DETERMINISTIC — the embeddings of the ``n_centroids`` smallest ids
    (a fixed coreset instead of k-means iterations), so an external SQL
    oracle can replay the exact cell assignment and probe set.

    Scale shape: cell assignment is a map-only Arrow pass over the corpus;
    the probe join is an equi-join on cell id (corpus scan cost unchanged,
    pair count divided by ~n_centroids/nprobe); per-query top-k via window
    over candidates only.
    """
    base = corpus.select(F.col(id_col).alias("neighbor_id"),
                         F.col(vec_col).cast("array<double>").alias("_cv"))
    cents = [(r[0], list(r[1])) for r in
             base.filter(F.col("neighbor_id") < n_centroids)
             .select("neighbor_id", "_cv").collect()]
    cb = base.select("neighbor_id", "_cv", F.explode(
        ivf_assign("_cv", cents, nprobe=1)).alias("cell"))
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
        F.explode(ivf_assign(vec_col, cents, nprobe=nprobe)).alias("cell"))
    scored = (cb.join(F.broadcast(qb), "cell")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("_sim", cosine(F.col("_qv"), F.col("_cv"))))
    return _top_k(scored, k).drop("sim")


def lsh_topk(corpus: DataFrame, queries: DataFrame, *,
             id_col: str = "vec_id", vec_col: str = "embedding",
             k: int = 10, n_planes: int = 8, dim: int | None = None,
             n_tables: int = 1) -> DataFrame:
    """Approximate top-k: score only within matching random-projection
    buckets — the candidate join is an equi-join on (table, bucket), so
    corpus scan cost is unchanged but pair count drops ~2^n_planes-fold
    per table.

    ``n_tables`` is the recall knob: sign-LSH single-bucket recall is
    ~(1 - theta/pi)^n_planes per table, which on near-isotropic embeddings
    (top-k neighbors at ~70 deg) is only a few percent — union the
    candidates of T independent tables to lift it ~T-fold at T-fold
    candidate cost.  tests/test_dataset_ops pins measured recall vs brute
    force; for recall-critical serving prefer ivf_topk (nprobe/n_centroids
    bounds scanned corpus fraction directly).
    """
    def bucketed(df, vc):
        return df.select("*", F.posexplode(sign_buckets(
            vc, n_tables=n_tables, n_planes=n_planes,
            dim=dim)).alias("_tbl", "bucket"))

    cb = bucketed(corpus.select(F.col(id_col).alias("neighbor_id"),
                                F.col(vec_col).alias("_cv")), "_cv")
    qb = bucketed(queries.select(F.col(id_col).alias("query_id"),
                                 F.col(vec_col).alias("_qv")), "_qv")
    cand = (cb.join(F.broadcast(qb), ["_tbl", "bucket"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", "_qv", "_cv")
            .dropDuplicates(["query_id", "neighbor_id"]))
    scored = cand.withColumn("_sim", cosine(
        F.col("_qv").cast("array<double>"),
        F.col("_cv").cast("array<double>")))
    return _top_k(scored, k)
