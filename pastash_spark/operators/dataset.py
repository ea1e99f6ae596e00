"""Training-data pipeline operators: dedup, text analysis, fingerprinting.

Beyond the reference's own inventory (its dedup story is limited to keyed
LRU caches), these are the operations a 100 TB token-pipeline actually needs.
All are expressed shuffle-consciously:

  * exact dedup        one hash-groupBy (partial agg map-side)
  * minhash LSH        signature in one vectorized Arrow pass (pandas C
                       hashing + numpy permutation matrix), then band ->
                       bucket -> in-bucket pairs (bucket_pairs); candidate
                       pairs only, never the full O(n^2) cross join
  * simhash            majority bit-vote over word hashes, one Arrow pass
  * n-gram jaccard     shingle explode + in-bucket pairs per shingle
                       posting (the exact small-scale oracle for the LSH
                       path)
  * quality/lang/count pure column arithmetic (argument arrays evaluated
                       once per row — no expressions embedded in HOF lambdas)
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- tokenize / fingerprint --------------------------------------------------

def words(col: str = "text") -> Column:
    return F.split(F.col(col), " ")


def portable_tokenize(col: str = "text") -> Column:
    """Deterministic word -> token-id derivation used to manufacture the
    input_hint token table from a text corpus: id = (ascii(first)*100 +
    length) % 50257.  Chosen to be expressible identically in Spark SQL and
    DuckDB SQL so oracle queries can reproduce it bit-for-bit."""
    return F.transform(words(col),
                       lambda w: (F.ascii(w) * 100 + F.length(w)) % 50257)


def portable_hash60_py(s: str) -> int:
    """60-bit deterministic hash both engines compute bit-for-bit: first 15
    hex chars of md5 as an integer.  Python: int(md5.hexdigest()[:15], 16) —
    Spark SQL: ``portable_hash60`` — DuckDB:
    CAST('0x'||substring(md5(x),1,15) AS BIGINT).  This is what lets the
    LSH queries ship FULL-fidelity SQL oracles instead of rows-only checks."""
    import hashlib
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def portable_hash60(c: Column) -> Column:
    """``portable_hash60_py`` of a string column, JVM-side (codegen)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def fingerprint(col: str = "text") -> Column:
    """Normalized-document fingerprint: md5 over whitespace-collapsed,
    lowercased text (the `mutate_hash` dedup key pattern,
    /root/reference/lib/filters/filter_mutate_hash.js:24-29)."""
    return F.md5(F.lower(F.regexp_replace(F.col(col), r"\s+", " ")))


# --- exact dedup -------------------------------------------------------------

def dedup_exact(df: DataFrame, *, col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact near-free dedup: group on content hash, keep min-id survivor.
    One shuffle on a high-cardinality uniform key — no skew possible."""
    return (df.withColumn("_fp", fingerprint(col))
            .groupBy(F.col("_fp").alias("fp"))
            .agg(F.min(id_col).alias("survivor_id"),
                 F.count("*").alias("dup_count")))


def dedup_exact_keep(df: DataFrame, *, col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Return the surviving rows themselves (min id per content hash)."""
    from pyspark.sql import Window
    w = Window.partitionBy(fingerprint(col)).orderBy(F.col(id_col))
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


# --- shingles + jaccard ------------------------------------------------------
#
# PERFORMANCE NOTE: shingling/minhash/simhash are implemented as vectorized
# Arrow-batched pandas UDFs, NOT as Catalyst higher-order-function lambdas.
# A lambda like transform(seq, i -> concat_ws(' ', slice(split(text), i, k)))
# re-evaluates split(text) per array ELEMENT in interpreted (non-codegen)
# mode — O(words^2) per document, measured as the dominant cost at bench
# scale.  One Arrow pass with numpy does the whole signature per batch.

def _kword_windows(text: str | None, k: int) -> list[str]:
    """Every k-word window of ``text`` (words split on single spaces), in
    document order, duplicates kept; empty when it has fewer than k words."""
    ws = (text or "").split(" ")
    return [" ".join(ws[i:i + k]) for i in range(len(ws) - k + 1)]


def _pos_shingle_list(text: str | None, k: int) -> list[str]:
    """Positional k-word shingles; a text shorter than k words is its own
    single shingle."""
    return _kword_windows(text, k) or [text or ""]


def shingles(col: str = "text", k: int = 3) -> Column:
    """Distinct k-word shingle array — one vectorized Arrow pass."""
    @F.pandas_udf("array<string>")
    def sh(texts: pd.Series) -> pd.Series:
        # dict.fromkeys = order-preserving distinct
        return pd.Series([list(dict.fromkeys(_pos_shingle_list(t, k)))
                          for t in texts])

    return sh(F.col(col))


def ngram_jaccard_pairs(df: DataFrame, *, id_col: str = "doc_id",
                        col: str = "text", k: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard similarity over k-shingles for all pairs sharing >=1
    shingle: explode shingles, pair the docs of each shingle's posting
    (bucket_pairs), count common per pair, jaccard = common / (n1 + n2 -
    common).  The shingle count per doc rides each pair, so n_a/n_b arrive
    as groupBy keys instead of two size joins.

    This is the *oracle* path — O(pairs sharing a shingle).  At 100 TB use
    minhash_lsh_pairs to cut candidates first, then verify with this on the
    candidate set only.
    """
    shr = (df.select(F.col(id_col).alias("id"),
                     shingles(col, k).alias("_shs"))
           .select("id", F.size("_shs").alias("n"),
                   F.explode("_shs").alias("sh")))
    common = (bucket_pairs(shr, "sh", "id", "n")
              .groupBy(F.col("_a.id").alias("id_a"),
                       F.col("_a.n").alias("n_a"),
                       F.col("_b.id").alias("id_b"),
                       F.col("_b.n").alias("n_b"))
              .agg(F.count("*").alias("common")))
    out = common.withColumn(
        "jaccard",
        F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")))
    return out.filter(F.col("jaccard") >= threshold) \
        .select("id_a", "id_b", "jaccard")


# --- in-bucket pairs and hot-group caps with observable drop metrics ---------

# per cap metric, its latest invocation: (Observation, standalone stats
# aggregation) until read, then the stats dict it read — one live entry per
# metric, replaced per call, so a long-lived driver holds no old plans
_CAP_LATEST: dict[str, tuple | dict] = {}


def observe_cap(frame: DataFrame, metric: str,
                stats: list[Column]) -> DataFrame:
    """Record a hot-group cap's drop counts under ``metric``.

    A silent cap reads as "covered everything" when it didn't: at 100 TB an
    oversized LSH bucket / posting list being discarded must surface as a
    metric, not vanish.  ``stats`` are the aggregate columns
    ``dropped_rows``, ``dropped_groups`` and ``total_groups`` over
    ``frame``, the stream just BEFORE the cap filter.  An ``Observation``
    collects them while the downstream query runs, but Spark drops the
    metrics of a node AQE pruned and of one whose output feeds a later
    distinct — on the hot-bucket fixtures every operator's cap read ends
    up there — and then ``cap_drop_stats(metric)`` runs
    ``frame.select(*stats)`` as one small extra job.  Read them after any
    action on the downstream DataFrame via ``cap_drop_stats`` or
    ``cap_drop_report``; on a cluster an observed row also lands in the
    QueryExecutionListener / SQL-UI observed-metrics channel, the standard
    place ops dashboards scrape.
    """
    from pyspark.sql import Observation

    obs = Observation()
    _CAP_LATEST[metric] = (obs, frame.select(*stats))
    return frame.observe(obs, *stats)


def bucket_pairs(df: DataFrame, keys, order: str, *payload: str,
                 max_bucket: int | None = None,
                 metric: str | None = None) -> DataFrame:
    """Every pair of rows of ``df`` that share a bucket key — the one
    in-bucket pair generator (LSH bands, simhash blocks, shingle and
    fingerprint postings, qrelate handles).

    One exchange on ``keys``: each bucket collects its rows as a sorted
    array of ``struct(order, *payload)``, then a posexplode × slice-explode
    emits every i<j pair inside the bucket.  No self-join (two shuffled or
    broadcast sides plus join sorts) and no checkpoint to feed both sides:
    the input stream is consumed once.  Output: ``(*keys, _a, _b)`` where
    ``_a``/``_b`` are the two row structs with ``_a.<order> <
    _b.<order>`` — rows with equal ``order`` are never paired, so a row
    never pairs with itself — i.e. exactly the rows of the self-join
    ``a.key = b.key AND a.order < b.order``.  A pair is emitted once per
    bucket it shares; callers dedupe or count across buckets.

    Unlike an equi-join, a NULL key forms a bucket of its own; every call
    site's keys are non-null by construction (hashes, chunk values,
    shingles, gated handle values).

    Cost: a bucket of m rows is one m-element array in one task and emits
    m(m-1)/2 pairs.  ``max_bucket`` drops whole buckets of MORE than
    ``max_bucket`` rows before any pair is generated, and records the drop
    under ``metric`` (observe_cap over the collected ``size``; no extra
    exchange in the pair query — reading the counts may run one small
    job, see observe_cap).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    occ = (df.groupBy(*keys)
           .agg(F.sort_array(F.collect_list(F.struct(order, *payload)))
                .alias("_occ")))
    n = F.size("_occ")
    if max_bucket is not None:
        dropped = n > max_bucket
        occ = observe_cap(occ, metric, [
            F.coalesce(F.sum(F.when(dropped, n)), F.lit(0))
            .alias("dropped_rows"),
            F.count(F.when(dropped, 1)).alias("dropped_groups"),
            F.count(F.lit(1)).alias("total_groups")])
        occ = occ.filter(~dropped)
    e1 = (occ.filter(n >= 2)
          .select(*keys, "_occ", F.posexplode("_occ").alias("_i", "_a")))
    return (e1.select(*keys, "_a",
                      F.explode(F.slice("_occ", F.col("_i") + 2, n))
                      .alias("_b"))
            .filter(F.col(f"_a.{order}") < F.col(f"_b.{order}")))


def cap_drop_stats(metric: str) -> dict:
    """{'dropped_rows','dropped_groups','total_groups'} of the LATEST
    invocation of a named cap; empty dict if the metric never registered.
    ``Observation.get`` blocks until the query has run — forever when it
    never does — so wait at most ~100 ms for the observed row
    (``getRowOrEmpty``).  When there is none, or it came back empty, run
    the standalone aggregation over the same frame: the same numbers, one
    extra job.  The result is cached and the plan references dropped."""
    latest = _CAP_LATEST.get(metric)
    if isinstance(latest, tuple):
        obs, fallback = latest
        row = obs._jo.getRowOrEmpty()
        if row.isDefined() and row.get().length():
            latest = dict(obs.get)
        else:
            latest = fallback.first().asDict()
        _CAP_LATEST[metric] = latest
    return dict(latest or {})


CAP_METRICS = ("minhash_lsh_max_bucket", "simhash_max_bucket",
               "winnow_max_posting", "hsp_max_bucket")


def cap_drop_report() -> dict[str, dict]:
    """Operational summary of every known hot-group cap — for bench /
    flagship output, so silent truncation is visible end-to-end.  A metric
    whose cap never armed this session reports explicit zeros with
    ``uncapped: True`` (the lossless gate paths)."""
    return {m: cap_drop_stats(m) or {"dropped_rows": 0, "dropped_groups": 0,
                                     "uncapped": True}
            for m in CAP_METRICS}


# --- minhash + LSH -----------------------------------------------------------

_MERSENNE61 = np.uint64((1 << 61) - 1)


def _perm_coeffs(n_hashes: int, seed: int = 1337):
    """Deterministic universal-hash coefficients for minhash permutations."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, (1 << 61) - 1, size=n_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, (1 << 61) - 1, size=n_hashes, dtype=np.int64).astype(np.uint64)
    return a, b


def minhash_signature(col: str = "text", k: int = 3,
                      n_hashes: int = 64) -> Column:
    """Minhash signature as array<bigint> in ONE vectorized Arrow pass:
    ALL shingles of the batch hash in a single pandas hash_array call
    (C siphash), then each of the n permutations is one whole-batch numpy
    op (a_i * h + b_i mod 2^61-1) with per-document minima via
    np.minimum.reduceat over the segment offsets — no per-document numpy
    dispatch, no per-element interpreted expressions.  (Measured ~2x over
    the per-doc matrix variant at bench scale; identical values — the
    uint64 wrap/mod arithmetic is unchanged elementwise.)"""
    a, b = _perm_coeffs(n_hashes)

    @F.pandas_udf("array<bigint>")
    def sig(texts: pd.Series) -> pd.Series:
        shingle_lists = [list(dict.fromkeys(_pos_shingle_list(t, k)))
                         for t in texts]
        n_docs = len(shingle_lists)
        counts = np.fromiter((len(s) for s in shingle_lists),
                             dtype=np.int64, count=n_docs)
        flat = np.asarray([s for lst in shingle_lists for s in lst],
                          dtype=object)
        h = pd.util.hash_array(flat, categorize=False) % _MERSENNE61
        offsets = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(counts[:-1], out=offsets[1:])
        out = np.empty((n_docs, n_hashes), dtype=np.int64)
        for i in range(n_hashes):
            vals = (a[i] * h + b[i]) % _MERSENNE61
            out[:, i] = np.minimum.reduceat(vals, offsets).astype(np.int64)
        return pd.Series(list(out))

    return sig(F.col(col))


def minhash_lsh_pairs(df: DataFrame, *, id_col: str = "doc_id",
                      col: str = "text", k: int = 3, n_hashes: int = 64,
                      bands: int = 16,
                      max_bucket: int | None = None,
                      distinct: bool = True) -> DataFrame:
    """Candidate near-dup pairs via banded LSH: equal band-slice of the
    minhash signature -> same bucket -> pair.  rows_per_band = n_hashes/bands.
    ``distinct=False`` skips the final pair dedup for consumers that
    tolerate multi-band duplicates (e.g. a semi-join candidate fetch).

    Scale shape: explode to (band_id, band_hash) — the shuffle key is the
    band bucket, uniformly hash-distributed; pairs only inside a bucket
    (bucket_pairs).  Output is DISTINCT candidate pairs; verify with
    ngram_jaccard_pairs.

    ``max_bucket`` is the hot-bucket guard: a bucket holding m docs emits
    m^2/2 candidate pairs, so one degenerate bucket (boilerplate / empty
    docs) goes quadratic.  Buckets above the cap are DROPPED before any
    pair is generated; pairs inside them are lost, which is why
    dedup_minhash collapses exact duplicates FIRST — after that prepass a
    hot bucket can only come from a pathological near-identical mass, and
    the cap bounds worst-case work instead of letting one key stall the
    whole stage.
    """
    rows_per_band = n_hashes // bands
    sig = df.select(F.col(id_col).alias("id"),
                    minhash_signature(col, k, n_hashes).alias("sig"))
    # PERF (r06): the band structs are built as an UNROLLED literal array
    # instead of transform(sequence(...)) — the HOF lambda (slice + inner
    # transform + concat_ws + xxhash64) is CodegenFallback, i.e. the whole
    # banding expression ran interpreted per row.  getItem/concat_ws/
    # xxhash64 over the same elements produce BIT-IDENTICAL bucket values
    # (same "s1,s2,..." string into the same hash), fully codegen'd.
    # PERF (r06b): the unrolled band array is built as ONE F.expr string —
    # the per-band getItem/cast/struct Column chain was ~70 py4j round
    # trips (~0.6 s of DRIVER build time per plan, timed by the bench's
    # fresh-plan protocol).  sig[i] parses to the same GetArrayItem, SQL
    # xxhash64 uses the same default seed as F.xxhash64 — identical
    # expression tree, identical buckets.
    band_exprs = []
    for b in range(bands):
        lo = b * rows_per_band          # sig[i] is 0-based; slice was 1-based
        parts = ", ".join(f"cast(sig[{lo + i}] as string)"
                          for i in range(rows_per_band))
        band_exprs.append(f"struct({b} as band, "
                          f"xxhash64(concat_ws(',', {parts})) as bucket)")
    banded = sig.select(
        "id", F.explode(F.expr("array(" + ", ".join(band_exprs) + ")"))
        .alias("bb")) \
        .select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    pairs = (bucket_pairs(banded, ["band", "bucket"], "id",
                          max_bucket=max_bucket,
                          metric="minhash_lsh_max_bucket")
             .select(F.col("_a.id").alias("id_a"),
                     F.col("_b.id").alias("id_b")))
    return pairs.distinct() if distinct else pairs


def dedup_minhash(df: DataFrame, *, id_col: str = "doc_id", col: str = "text",
                  k: int = 3, threshold: float = 0.7, n_hashes: int = 64,
                  bands: int = 16,
                  max_bucket: int | None = None) -> DataFrame:
    """LSH candidates verified by exact jaccard — rows that survive dedup.
    Survivor = smaller id of each confirmed pair wins; every id that appears
    as a bigger-id duplicate is dropped.

    Text-identical docs collapse BEFORE banding (one fingerprint window):
    identical docs share every band bucket, so a mass of m copies would
    otherwise emit m^2/2 candidate pairs into LSH — the degenerate hot
    bucket.  Semantics are unchanged: an exact duplicate has the same
    jaccard to every other doc as its surviving representative, so the
    pair set over representatives plus the exact-loser set reproduces the
    all-pairs result."""
    from pyspark.sql import Window
    # PERF (r06/r06b): the (id, text) projection feeds every dedup-side
    # consumer (the candidate fetch, both exact splits, the final
    # anti-join).  Catalyst's ReuseExchange only fires for byte-identical
    # canonical subplans, which per-branch column pruning defeats, so it
    # is materialized once with a lazy localCheckpoint (it fills during
    # the first action; the bench source is a union-shaped scan that the
    # plan otherwise repeated 9+ times).  Checkpoint blocks live in
    # executor storage with no lineage: an executor loss fails the job
    # instead of recomputing.  The exact split rides ONE fingerprint
    # window: rn==1 rows are the representatives and rn>1 rows ARE the
    # exact losers (every non-representative is a loser).
    w_fp = Window.partitionBy(fingerprint(col)).orderBy(F.col(id_col))
    marked = (df.select(F.col(id_col), F.col(col))
              .withColumn("_rn", F.row_number().over(w_fp))
              .localCheckpoint(eager=False))
    exact_losers = marked.filter(F.col("_rn") > 1).select(id_col)
    work = marked.filter(F.col("_rn") == 1).select(id_col, col)
    # when the checkpointed frame holds exactly df's rows, the final
    # anti-join reads it instead of re-running the source subtree (one
    # scan fewer; row multiset identical); otherwise it returns the
    # ORIGINAL df, full schema
    final_df = (marked.select(*df.columns)
                if set(df.columns) == {id_col, col} else df)
    # PERF (r06b): no pair/doc-level distincts on the internal path — the
    # candidate fetch is a LEFT SEMI join (inherently deduping, one stage
    # fewer than inner-join-on-distinct with the same row set), the pair
    # distinct is skipped (semi join ignores duplicate keys), and the
    # losers feed a left_anti join, for which duplicate right-side keys
    # are irrelevant.  Row results are identical.
    cand = minhash_lsh_pairs(work, id_col=id_col, col=col, k=k,
                             n_hashes=n_hashes, bands=bands,
                             max_bucket=max_bucket, distinct=False)
    # PERF (r06): one explode instead of union-of-two-selects — the union
    # form re-ran the whole candidate-pair join once per side.
    cand_docs = (work.join(
        cand.select(F.explode(F.array("id_a", "id_b")).alias(id_col)),
        id_col, "left_semi"))
    verified = ngram_jaccard_pairs(cand_docs, id_col=id_col, col=col, k=k,
                                   threshold=threshold)
    losers = (verified.select(F.col("id_b").alias(id_col))
              .union(exact_losers))
    return final_df.join(losers, id_col, "left_anti")


# --- simhash -----------------------------------------------------------------

def simhash60_portable(col: str = "text") -> Column:
    """60-bit simhash whose word hash is ENGINE-PORTABLE (first 15 hex chars
    of md5 as an int), so a DuckDB SQL oracle recomputes the identical
    simhash and the driver gate verifies the hamming-pair output at full
    fidelity — not just row counts.  One Arrow pass per batch; per-batch
    word-hash memo amortizes the md5 cost across repeated vocabulary."""
    @F.pandas_udf("long")
    def sh(texts: pd.Series) -> pd.Series:
        # PERF (r06): one flat pass per BATCH instead of per-document
        # numpy dispatch — all words hash into one array (md5 memoized per
        # batch), then each bit's majority vote is a single
        # np.add.reduceat over the document segments.  votes_j =
        # 2*ones_j - n_words reproduces the old (2*bits-1).sum exactly,
        # so the simhash values are bit-identical.
        cache: dict[str, int] = {}
        n = len(texts)
        out = np.zeros(n, dtype=np.int64)
        if not n:
            return pd.Series(out)
        word_lists = [(t or "").split(" ") for t in texts]
        counts = np.fromiter((len(ws) for ws in word_lists),
                             dtype=np.int64, count=n)
        flat = np.empty(int(counts.sum()), dtype=np.int64)
        i = 0
        for ws in word_lists:
            for w in ws:
                h = cache.get(w)
                if h is None:
                    h = portable_hash60_py(w)
                    cache[w] = h
                flat[i] = h
                i += 1
        offsets = np.zeros(n, dtype=np.int64)
        np.cumsum(counts[:-1], out=offsets[1:])
        for j in range(60):
            # counts >= 1 always ("".split(" ") == ['']), so reduceat
            # segments are never empty
            ones = np.add.reduceat((flat >> j) & 1, offsets)
            out |= ((2 * ones - counts) > 0).astype(np.int64) << j
        return pd.Series(out)

    return sh(F.col(col))


def simhash_near_pairs(df: DataFrame, *, id_col: str = "doc_id",
                       col: str = "text", max_hamming: int = 3,
                       max_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs by simhash hamming distance, blocked on CHUNK PAIRS:
    the 60-bit portable simhash splits into 6 chunks of 10 bits; hamming<=3
    flips at most 3 chunks, so at least 3 chunks are equal and hence at
    least one of the C(6,2)=15 chunk PAIRS is equal on both sides — the
    candidates are the in-block pairs (bucket_pairs) of block key
    (pair_no, 20-bit value).

    vs. blocking on single chunks: 15 x 2^20 ≈ 1.6e7 distinct block keys
    instead of 4 x 2^16 ≈ 2.6e5 — at 10^10 docs the expected block
    population drops ~60x, which is the difference between balanced
    blocks and a quadratic within-block blowup.  ``max_bucket`` caps the
    residual hot blocks (identical-doc mass): oversized blocks are dropped
    before any pair is generated; run exact dedup first so that mass never
    arrives.  The hamming filter runs BEFORE the distinct, so only
    qualifying pairs reach it.
    """
    chunk_bits, n_chunks = 10, 6
    mask = (1 << chunk_bits) - 1
    sh = df.select(F.col(id_col).alias("id"), simhash60_portable(col).alias("sh"))

    def chunk(i: int):
        return F.shiftright(F.col("sh"), i * chunk_bits).bitwiseAND(F.lit(mask))

    pair_structs = []
    for pno, (i, j) in enumerate(
            (i, j) for i in range(n_chunks) for j in range(i + 1, n_chunks)):
        pair_structs.append(F.struct(
            F.lit(pno).alias("blk"),
            (F.shiftleft(chunk(i), chunk_bits) + chunk(j)).alias("val")))
    blocks = sh.select("id", "sh", F.explode(F.array(*pair_structs)).alias("c")) \
        .select("id", "sh", "c.blk", "c.val")
    pairs = bucket_pairs(blocks, ["blk", "val"], "id", "sh",
                         max_bucket=max_bucket, metric="simhash_max_bucket")
    ham = F.bit_count(F.col("_a.sh").bitwiseXOR(F.col("_b.sh"))).cast("int")
    return (pairs.select(F.col("_a.id").alias("id_a"),
                         F.col("_b.id").alias("id_b"), ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


# --- winnowing fingerprints ----------------------------------------------------

def pos_shingles(col: str = "text", k: int = 3) -> Column:
    """Positional k-word shingles WITH duplicates, in document order — the
    winnowing input (dedup would break window minima).  One Arrow pass."""
    @F.pandas_udf("array<string>")
    def sh(texts: pd.Series) -> pd.Series:
        return pd.Series([_pos_shingle_list(t, k) for t in texts])

    return sh(F.col(col))


def winnow_fingerprints(df: DataFrame, *, id_col: str = "doc_id",
                        col: str = "text", k: int = 3,
                        window: int = 4) -> DataFrame:
    """Winnowing document sketch (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    hash every positional k-shingle, keep the minimum hash of each sliding
    ``window`` — the distinct minima are the fingerprint set, robust to
    insertions (any sufficiently long shared run yields a shared minimum).

    Scale shape: shingle hash is NATIVE (md5 prefix on the exploded shingle
    — JVM codegen, no Python on the hot path after the positional-shingle
    pass), window min per doc, distinct.  The 60-bit md5-prefix hash keeps
    the sketch replayable in external SQL for the driver oracle.

    Output: (id_col, fp) rows — explodeable into an inverted index for
    containment / plagiarism-style matching at corpus scale.
    """
    from pyspark.sql import Window
    pos = df.select(F.col(id_col),
                    F.posexplode(pos_shingles(col, k)).alias("pos", "_sh"))
    h = portable_hash60(F.col("_sh"))
    w = (Window.partitionBy(id_col).orderBy("pos")
         .rowsBetween(-(window - 1), 0))
    return (pos.withColumn("fp", F.min(h).over(w))
            .select(id_col, "fp").distinct())


def winnow_containment_pairs(df: DataFrame, *, id_col: str = "doc_id",
                             col: str = "text", k: int = 3, window: int = 4,
                             min_shared: int = 5,
                             max_posting: int | None = None) -> DataFrame:
    """Containment / plagiarism-style candidate pairs: docs sharing at least
    ``min_shared`` winnowing fingerprints.  The sketch is an inverted index
    (fp -> docs); candidates are the pairs inside each posting list
    (bucket_pairs) — never an all-pairs comparison.  ``max_posting`` caps
    degenerate posting lists (ubiquitous boilerplate fingerprints) the same
    way the LSH hot-bucket guards do."""
    fps = winnow_fingerprints(df, id_col=id_col, col=col, k=k,
                              window=window)
    return (bucket_pairs(fps, "fp", id_col, max_bucket=max_posting,
                         metric="winnow_max_posting")
            .groupBy(F.col(f"_a.{id_col}").alias("id_a"),
                     F.col(f"_b.{id_col}").alias("id_b"))
            .agg(F.count("*").alias("shared"))
            .filter(F.col("shared") >= min_shared))


# --- training-sequence assembly ------------------------------------------------

def portable_bucket(col, n_buckets: int):
    """Engine-portable bucket id: md5-prefix hash mod n (identical in Spark
    and DuckDB, unlike xxhash64) — the cross-engine stand-in for a hash
    repartitioning key."""
    return F.pmod(portable_hash60(F.col(col).cast("string")),
                  F.lit(n_buckets)).cast("int")


def pack_sequences(df: DataFrame, *, seq_len: int, n_buckets: int = 64,
                   id_col: str = "doc_id",
                   tokens_col: str = "tokens") -> DataFrame:
    """Concat-and-chunk training-sequence packing: within each hash bucket,
    concatenate token arrays in id order and slice into fixed ``seq_len``
    sequences (the standard pre-training data layout); the tail remainder
    of each bucket is dropped (its length is < seq_len by construction).

    Scale shape: ONE doc-level shuffle (groupBy bucket) — never a
    token-level explode+shuffle, which would move every token id through
    the exchange; inside a bucket the packing is a single numpy
    concatenate+reshape per Arrow group.  Buckets are md5-portable so a SQL
    oracle replays the exact grouping; determinism comes from the
    (bucket, id-order) spec, independent of partitioning.  Pick n_buckets
    >> executors for balance; per-bucket memory = bucket token mass.

    Output: (bucket, seq_no, seq array<int>) with seq_no ordered by token
    offset within the bucket.
    """
    bucketed = df.select(
        F.col(id_col).alias("_id"),
        F.col(tokens_col).alias("_toks"),
        portable_bucket(id_col, n_buckets).alias("bucket"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id", kind="mergesort")
        flat = np.concatenate([np.asarray(t, dtype=np.int64)
                               for t in pdf["_toks"]]) \
            if len(pdf) else np.empty(0, dtype=np.int64)
        k = len(flat) // seq_len
        if k == 0:
            return pd.DataFrame({"bucket": pd.Series([], dtype="int32"),
                                 "seq_no": pd.Series([], dtype="int64"),
                                 "seq": pd.Series([], dtype=object)})
        chunks = flat[:k * seq_len].reshape(k, seq_len)
        return pd.DataFrame({
            "bucket": np.full(k, pdf["bucket"].iloc[0], dtype="int32"),
            "seq_no": np.arange(k, dtype=np.int64),
            "seq": list(chunks)})

    return (bucketed.groupBy("bucket")
            .applyInPandas(pack, "bucket int, seq_no long, seq array<bigint>"))


def split_dataset(df: DataFrame, *, id_col: str = "doc_id",
                  train_pct: int = 90, valid_pct: int = 5) -> DataFrame:
    """Deterministic train/valid/test assignment by content-independent id
    hash (md5-portable): reproducible across runs, engines, and data
    re-partitioning — never random(), which re-rolls per run and can't be
    replayed by an external oracle.  Map-only; no shuffle."""
    slot = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 17, 15),
               16, 10).cast("long"),
        F.lit(100))
    split = (F.when(slot < train_pct, "train")
             .when(slot < train_pct + valid_pct, "valid")
             .otherwise("test"))
    return df.withColumn("split", split)


def ngram_repetition(df: DataFrame, *, col: str = "text", n: int = 2,
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document top n-gram repetition counts — the Gopher-style
    'repetitive document' quality signal (fraction of n-grams taken by the
    most frequent n-gram).  Emitted as INTEGERS (top_count, total) so the
    downstream keep-rule is integer arithmetic, portable across engines
    with no float ties.

    Scale shape: one Arrow pass per batch, documents independent — NO
    shuffle (a groupBy(doc, gram) formulation would shuffle every n-gram
    occurrence).  Keep rule example: keep iff top_count * 5 < total
    (top 2-gram under 20%)."""
    @F.pandas_udf("struct<top_count: long, total: long>")
    def rep(texts: pd.Series) -> pd.DataFrame:
        tops, totals = [], []
        for t in texts:
            grams = _kword_windows(t, n)
            totals.append(len(grams))
            if not grams:
                tops.append(0)
                continue
            counts: dict[str, int] = {}
            for g in grams:
                counts[g] = counts.get(g, 0) + 1
            tops.append(max(counts.values()))
        return pd.DataFrame({"top_count": tops, "total": totals})

    out = df.withColumn("_rep", rep(F.col(col)))
    return out.select(id_col, F.col("_rep.top_count").alias("top_count"),
                      F.col("_rep.total").alias("total"))


# --- corpus statistics --------------------------------------------------------

def vocab_topk(df: DataFrame, *, col: str = "text", k: int = 50) -> DataFrame:
    """Corpus vocabulary top-k: explode words, count, global top-k.
    Scale shape: map-side partial counts into ONE shuffle on the word key,
    then orderBy().limit(k) compiles to TakeOrderedAndProject — no global
    sort ever materializes.  Ties break lexicographically."""
    words_ = F.explode(F.split(F.col(col), " ")).alias("word")
    return (df.select(words_)
            .filter(F.col("word") != "")
            .groupBy("word").agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("word"))
            .limit(k))


# --- embedding quantization ----------------------------------------------------

def quantize_embeddings(df: DataFrame, *, vec_col: str = "embedding",
                        bits: int = 8) -> DataFrame:
    """Symmetric scalar quantization (the storage-compression step of an
    embedding pipeline): per-vector scale = max|x| / qmax, q_i =
    floor(x_i/scale + 0.5) — int8 payload is 4x smaller than float32 and
    dequantization error is bounded by scale/2 per component.

    Pure column expressions (no Python); floor(+0.5) is used instead of
    round() because its tie behavior is identical across engines, keeping
    the op SQL-replayable for the driver oracle.  All-zero vectors get
    scale 0 and a zero q-vector.
    """
    qmax = (1 << (bits - 1)) - 1
    v = F.col(vec_col).cast("array<double>")
    # materialize the scale as a column FIRST: referencing the array_max
    # expression inside the transform lambda would re-evaluate it per
    # element (interpreted — the HOF trap)
    out = df.withColumn(
        "q_scale", F.array_max(F.transform(v, lambda x: F.abs(x))) / qmax)
    s = F.col("q_scale")
    q = F.when(s == 0, F.transform(v, lambda x: F.lit(0))) \
        .otherwise(F.transform(v, lambda x: F.floor(x / s + 0.5).cast("int")))
    return out.withColumn("q_vec", q)


# --- text analysis -----------------------------------------------------------

EN_STOPWORDS = ["the", "a", "an", "of", "to", "in", "and", "is", "it", "that"]


def token_count(col: str = "text") -> Column:
    """Whitespace token count (the baseline tokens/sec denominator)."""
    return F.size(F.split(F.trim(F.col(col)), r"\s+"))


def quality_features(df: DataFrame, *, col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features — all integer
    or exactly-derived doubles so cross-engine comparison is stable."""
    ws = words(col)
    n_words = F.size(ws)
    stop_hits = F.size(F.filter(ws, lambda w: F.lower(w).isin(EN_STOPWORDS)))
    n_chars = F.length(F.col(col))
    n_punct = n_chars - F.length(F.regexp_replace(F.col(col), r"[^\w\s]", ""))
    return (df
            .withColumn("n_words", n_words)
            .withColumn("n_chars_m", n_chars)
            .withColumn("stop_hits", stop_hits)
            .withColumn("punct_chars", n_punct)
            .withColumn("stop_ratio", stop_hits.cast("double") / n_words)
            .withColumn("avg_word_len",
                        (n_chars - (n_words - 1)).cast("double") / n_words))


def lang_id(df: DataFrame, *, col: str = "text",
            target: str = "lang_pred") -> DataFrame:
    """Stopword-vote language ID heuristic: 'en' when >=2 distinct English
    stopwords appear, else 'unk'.  (A real model would be a broadcast n-gram
    profile table + the same argmax-join shape.)"""
    ws = words(col)
    hits = F.size(F.array_distinct(
        F.filter(ws, lambda w: F.lower(w).isin(EN_STOPWORDS))))
    return df.withColumn(target, F.when(hits >= 2, "en").otherwise("unk"))
