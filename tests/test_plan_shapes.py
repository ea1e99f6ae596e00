"""Physical-plan shape assertions — the scale-readiness gate.

These tests pin the properties that matter at 100 TB: predicate pushdown
reaching the parquet scan, column pruning (ReadSchema), broadcast joins for
dims (no shuffle on the fact side), and whole-stage codegen over the parse
chain.  A change that silently degrades one of these fails here long before
a benchmark would catch it.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from pastash_spark import datagen
from pastash_spark.operators.enrich import broadcast_lookup
from pastash_spark.plans import flagship


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _windows(plan: str) -> int:
    """Number of Window operators in a plan string."""
    return len(re.findall(r"(?m)^\W*Window \[", plan))


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def token_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tok") / "tokens")
    datagen.token_sequences(spark, 2000).write.parquet(path)
    return path


def test_filter_pushdown_reaches_scan(spark, token_parquet):
    df = spark.read.parquet(token_parquet)
    q = df.filter(F.col("source") == "web").select("doc_id", "n_tok")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(source), EqualTo(source,web)]" in plan


def test_column_pruning_reaches_scan(spark, token_parquet):
    df = spark.read.parquet(token_parquet)
    q = df.select("doc_id", "n_tok")
    plan = _plan(q)
    # tokens (the wide array) must not be read for a 2-column projection
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "tokens" not in read_schema and "raw" not in read_schema


def test_enrichment_is_broadcast_join(spark, token_parquet):
    df = spark.read.parquet(token_parquet)
    out = broadcast_lookup(df, datagen.source_lookup(spark), on="source")
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan      # no shuffle of the fact side


def test_flagship_single_stage_until_aggregate(spark, token_parquet):
    df = spark.read.parquet(token_parquet)
    out = flagship.build(df, datagen.source_lookup(spark))
    routed_plan = _plan(out["routed"])
    # parse -> enrich -> route is map-only: no Exchange before the routing
    # column exists (broadcast join exchanges only the dim side)
    assert "Exchange hashpartitioning" not in routed_plan
    # (WholeStageCodegen markers only appear in the final AQE plan after
    # execution; the no-Exchange assertion above is the load-bearing one)
    # the one job behind both aggregate outputs adds exactly one shuffle
    # (partial -> final)
    agg_plan = _plan(flagship.aggregate_stage(out["routed"]))
    assert agg_plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in agg_plan or "partial" in agg_plan.lower()


def test_flagship_plans_have_no_python_workers(spark, token_parquet):
    """Nothing in the flagship DAG is Python logic, so no plan may start a
    Python worker: no Python UDF node and no Python-RDD scan (which is what
    spark.createDataFrame(list) plans for a literal dim)."""
    df = spark.read.parquet(token_parquet)
    out = flagship.build(df, datagen.source_lookup(spark))
    frames = dict(out, aggregate_job=flagship.aggregate_stage(out["routed"]))
    for name, frame in frames.items():
        plan = _plan(frame)
        for node in ("EvalPython", "MapInPandas", "ExistingRDD", "PythonRDD"):
            assert node not in plan, (name, node)
        assert "LocalTableScan" in plan, name


def _sql_executions(spark) -> dict[int, str]:
    """Physical plan of every SQL execution so far, by execution id, read
    from the SQL status store (the UI is off)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = spark._jsparkSession.sharedState().statusStore() \
        .executionsList()
    return {e.executionId(): e.physicalPlanDescription()
            for e in (executions.apply(i) for i in range(executions.size()))}


def test_flagship_outputs_share_one_job(spark, token_parquet):
    """Reading ``routed`` (or testing a key) runs nothing; collecting both
    aggregate outputs runs exactly one job over the token parquet, not one
    per output."""
    df = spark.read.parquet(token_parquet)
    out = flagship.build(df, datagen.source_lookup(spark))
    assert set(out) == {"routed", "aggregates", "sink_counts"}
    before = _sql_executions(spark)
    assert "_route" in out["routed"].columns and "aggregates" in out
    assert _sql_executions(spark).keys() == before.keys()
    aggs = out["aggregates"].collect()
    sinks = out["sink_counts"].collect()
    new = [plan for eid, plan in _sql_executions(spark).items()
           if eid not in before]
    assert sum("Scan parquet" in plan and token_parquet in plan
               for plan in new) == 1
    assert sum(r["count"] for r in aggs) == sum(r.rows for r in sinks) == 2000


def test_grok_regex_runs_once_per_row(spark, token_parquet):
    """An 8-field grok is one regex pass per row: the executed plan holds
    the whole-line wrapped pattern exactly once (not once per field)."""
    from pastash_spark.functions.grok import GrokCompiler
    cg = GrokCompiler().compile(flagship.HEADER_PATTERN)
    assert len(cg.fields) == 8
    df = spark.read.parquet(token_parquet)
    plan = _plan(flagship.parse_stage(df))
    assert plan.count(r"\A[\s\S]*?(?:(?U)" + cg.java_regex + ")") == 1


def test_local_frame_is_local_table_scan(spark):
    from pyspark.sql import types as T

    from pastash_spark.session import local_frame
    schema = T.StructType([T.StructField("k", T.StringType(), False),
                           T.StructField("v", T.DoubleType(), True)])
    for rows in ([("a", 1.0), ("b", None)], []):
        df = local_frame(spark, rows, schema)
        assert "LocalTableScan" in _plan(df)
        assert df.schema == schema
        assert [tuple(r) for r in df.collect()] == rows
    ddl = local_frame(spark, [(1, 2)], "i int, j int")
    assert "LocalTableScan" in _plan(ddl)
    assert [f.nullable for f in ddl.schema] == [True, True]


def test_dedup_exact_is_single_shuffle(spark):
    from pastash_spark.operators.dataset import dedup_exact
    docs = spark.createDataFrame([(1, "a"), (2, "a")], "doc_id int, text string")
    plan = _plan(dedup_exact(docs))
    assert plan.count("Exchange hashpartitioning") == 1


def test_vocab_topk_is_take_ordered(spark):
    from pastash_spark.operators.dataset import vocab_topk
    docs = spark.createDataFrame([(1, "a b"), (2, "b c")],
                                 "doc_id int, text string")
    plan = _plan(vocab_topk(docs, k=5))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_audiocodes_default_is_sid_partitioned_no_global_window(spark):
    """The DEFAULT audiocodes call must never plan the single-partition
    global sort (partition_by_sid=True ships as the default; the
    reference-exact global stream is an explicit opt-in)."""
    from pastash_spark.operators.correlate import app_audiocodes_correlate
    df = spark.createDataFrame([(1, "x")], "line_no long, message string")
    plan = _plan(app_audiocodes_correlate(df, order="line_no"))
    assert "Exchange SinglePartition" not in plan
    # the line parse and the reassembly re-parse run in the JVM: no Python
    # evaluation node, and (logs=True adds the CALL_END tokenizer) no
    # higher-order function, which would run interpreted
    plan_logs = _plan(app_audiocodes_correlate(df, order="line_no",
                                               logs=True))
    for p in (plan, plan_logs):
        for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                     "lambdafunction"):
            assert node not in p, node


def test_audiocodes_logs_plans_its_subtree_once(spark):
    """logs=True adds the CALL_END and other-line rows as two more slots of
    the one explode and reads the sidcache in one as-of window over it, so
    the scan -> parse -> sid-window subtree is planned once; the default
    (logs=False) plan keeps its one scan, Window and Exchange."""
    from pastash_spark.operators.correlate import app_audiocodes_correlate
    df = spark.createDataFrame([(1, "x")], "line_no long, message string")
    logs = _plan(app_audiocodes_correlate(df, order="line_no", logs=True))
    assert logs.count("Scan ExistingRDD") == 1
    plain = _plan(app_audiocodes_correlate(df, order="line_no"))
    assert plain.count("Scan ExistingRDD") == 1
    assert _windows(plain) == 1 and plain.count("Exchange") == 1


def _lambda_bodies(plan: str) -> list[str]:
    """The text of every ``lambdafunction(...)`` call in a plan string."""
    out = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        out.append(plan[m.end():i - 1])
    return out


def test_genesys_port_lambda_holds_no_regex(spark):
    """The genesys local-port pick filters host:port pairs in a
    higher-order function, which runs interpreted once per element: its
    lambda reads the payload and local ip as columns, never the regex
    chain that derives them."""
    from pastash_spark.operators.correlate import app_genesys_correlate
    df = spark.createDataFrame([(1, "x")], "line_no long, message string")
    bodies = _lambda_bodies(_optimized(app_genesys_correlate(df)))
    assert bodies
    for body in bodies:
        assert "regexp_" not in body, body


def test_sip_pack_patterns_run_once(spark):
    """Each multi-group pattern of a SIP app pack is one regex_groups pass
    (a whole-line regexp_replace) per row, its arrays projected before the
    fields read them — the optimizer must not inline a pass per field.
    avaya runs its datagram pattern on two fields."""
    from pastash_spark.operators import correlate as C, parse as P
    lines = spark.createDataFrame(
        [(1, "p1", "x")], "line_no long, path string, message string")
    janus = spark.createDataFrame(
        [(1, 10, 2, "s1", None, "sip-out", None, "x")],
        "event_id long, ts_us long, type int, session_id string, "
        "ws_id string, ws_event string, ws_ip string, sip string")
    passes = {
        "janus_sip": (C.app_janus_sip_correlate(janus), 1),
        "genesys": (C.app_genesys_correlate(lines), 2),
        "avaya": (C.app_avaya_correlate(lines), 2),
        "ingate": (C.app_ingate_correlate(lines), 2),
        "sonus_monitor": (P.app_sonus_monitor(lines, field="message"), 3)}
    for pack, (df, n) in passes.items():
        assert _plan(df).count(r"\A[\s\S]*?(?:") == n, pack


def test_rtpproxy_lookups_are_asof_windows_not_joins(spark):
    """Every rtpproxy cache lookup is one as-of window over a merged
    stream — never a range join plus a latest-row pick, which builds every
    (reader, prior writer) pair and goes quadratic on a hot token/port."""
    from pastash_spark.operators.correlate import app_rtpproxy_correlate
    df = spark.createDataFrame([(1, "x")], "line_no long, message string")
    plan = _optimized(app_rtpproxy_correlate(df))
    assert "Join" not in plan
    assert "WindowGroupLimit" not in plan


def test_rtpproxy_matcher_is_one_jvm_regex_pass_per_family(spark):
    """The rtpproxy line matcher runs in the JVM: no Python evaluation node
    in the matcher (the subtree the operator checkpoints) or in the
    operator's plan downstream of the checkpoint, and the matcher runs
    each family's pattern once per line, not once per captured field."""
    from pastash_spark.operators.correlate import (
        _RTP_FAMILIES, _rtp_match, app_rtpproxy_correlate)
    df = spark.createDataFrame([(1, "x")], "line_no long, message string")
    plan = _plan(_rtp_match(df, F.col("message"), "line_no"))
    for p in (plan, _plan(app_rtpproxy_correlate(df))):
        for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
            assert node not in p, node
    assert plan.count("regexp_replace") == len(_RTP_FAMILIES)
    for _, rx, _ in _RTP_FAMILIES:
        assert plan.count(r"\A[\s\S]*?(?:(?d)" + rx + ")") == 1, rx


def test_app_family_defaults_no_global_window(spark):
    """VERDICT r05 #3: no app_* reassembly operator may plan a
    single-partition global sort from its DEFAULT call — the window key
    auto-resolves to the per-device column (path/source/host), and a
    key-less stream without one must raise rather than silently
    serialize."""
    import pytest as _pytest
    from pastash_spark.operators import correlate as C
    df = spark.createDataFrame([(1, "p1", "x")],
                               "line_no long, path string, message string")
    for op in (C.app_avaya_correlate, C.app_ingate_correlate):
        plan = _plan(op(df, order="line_no"))
        assert "Exchange SinglePartition" not in plan, op.__name__
    dfh = spark.createDataFrame([(1, "h1", "x")],
                                "line_no long, host string, message string")
    assert "Exchange SinglePartition" not in _plan(
        C.app_cisco_correlate(dfh, order="line_no"))
    # no device column, no explicit key -> refuse, never a global sort
    bare = spark.createDataFrame([(1, "x")], "line_no long, message string")
    with _pytest.raises(ValueError, match="per-device partition column"):
        C.app_avaya_correlate(bare, order="line_no")


def test_janus_trace_spans_single_window_shuffle(spark):
    """janus_trace_spans = ONE per-trace-key window (all family forward-
    fills share it) + explode; no joins, no extra exchanges."""
    from pastash_spark.operators.correlate import janus_trace_spans
    df = spark.createDataFrame(
        [(1, 10, "s1", 1, 0, "created")],
        "ord long, ts_us long, session_id string, type int, subtype int, "
        "event_name string")
    plan = _plan(janus_trace_spans(df, order="ord", ts="ts_us"))
    assert plan.count("Exchange hashpartitioning") == 1
    assert _windows(plan) == 1
    assert "Exchange SinglePartition" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_carried_context_fills_are_row_frames(spark):
    """Every carried-context forward fill goes through enrich.asof_lookup:
    a ROWS UNBOUNDED PRECEDING frame, never the RANGE frame a bare
    ordered window defaults to (a RANGE frame reads rows that tie on the
    order column too).  All of an operator's fills share one Window node,
    and its Window and Exchange counts are pinned."""
    from pastash_spark.operators import correlate as C
    lines = spark.createDataFrame(
        [(1, "p1", "h1", "x")],
        "line_no long, path string, host string, message string")
    janus = spark.createDataFrame(
        [(1, 10, "s1", 1, 0, "created")],
        "ord long, ts_us long, session_id string, type int, subtype int, "
        "event_name string")
    plans = {
        "sonus": (_plan(C.app_sonus_reassemble(lines.drop("host"))), 1),
        "avaya": (_plan(C.app_avaya_correlate(lines.drop("host"))), 3),
        "ingate": (_plan(C.app_ingate_correlate(lines.drop("host"))), 1),
        "cisco": (_plan(C.app_cisco_correlate(lines.drop("path"))), 1),
        "janus": (_plan(C.janus_trace_spans(janus, order="ord",
                                            ts="ts_us")), 1)}
    for op, (plan, n_windows) in plans.items():
        assert "RangeFrame" not in plan, op
        assert _windows(plan) == n_windows, op
        assert plan.count("Exchange") == 1, op


def test_salted_aggregate_is_two_stage(spark):
    """Partial agg on (key, salt) then final on key: exactly two hash
    exchanges, never one reducer owning the hot key."""
    from pastash_spark.operators.correlate import salted_aggregate
    df = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 3.0)],
                               "k string, x double")
    out = salted_aggregate(df, key="k",
                           aggs={"cnt": F.count("*"), "total": F.sum("x")})
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning") == 2


def test_bucketed_join_is_exchange_free(spark):
    """Two tables bucketed identically on the join key must join with ZERO
    Exchange (and, bucket-sorted, zero Sort) — the write-once-shuffle,
    join-many-times primitive for 100 TB fact-fact joins."""
    from pastash_spark.sources.sinks import write_bucketed
    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3 % 97).alias("va"))
    b = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 89).alias("vb"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the big-big (SortMergeJoin) regime the primitive targets —
        # at test size the planner would otherwise just broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(a, "bkt_a", key="k", buckets=4)
        write_bucketed(b, "bkt_b", key="k", buckets=4)
        j = (spark.table("bkt_a").join(spark.table("bkt_b"), "k")
             .select("k", "va", "vb"))
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_exact_cosine_pairs_is_grid_equi_join_not_cartesian(spark):
    """The all-pairs cosine join must distribute as a block-grid equi-join —
    never BroadcastNestedLoopJoin/CartesianProduct, which funnel the whole
    corpus through one task's memory."""
    from pastash_spark.operators.similarity import exact_cosine_pairs
    emb = spark.range(100).select(
        F.col("id").cast("int").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 17).cast("double")
                  for i in range(4)]).alias("embedding"))
    plan = _plan(exact_cosine_pairs(emb, threshold=0.5, n_blocks=4))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_global_topk_is_take_ordered_not_global_window(spark, tmp_path):
    """orderBy().limit(k) must compile to TakeOrderedAndProject (per-partition
    top-k + small merge), never a single-partition global Window sort."""
    path = str(tmp_path / "orders")
    spark.range(0, 10_000).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") * 7 % 1000).cast("double").alias("o_totalprice")
    ).write.parquet(path)
    o = spark.read.parquet(path)
    top = (o.select("o_orderkey", "o_totalprice")
           .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(20))
    plan = _plan(top)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan


def test_pack_sequences_single_doc_level_shuffle(spark):
    """Sequence packing must shuffle DOC rows once (groupBy bucket) —
    never explode tokens through an exchange (token-level shuffle would
    move every token id of a 100 TB corpus)."""
    from pastash_spark.operators.dataset import pack_sequences
    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.sequence(F.lit(0), F.lit(50)).cast("array<bigint>").alias("tokens"))
    plan = _plan(pack_sequences(df, seq_len=16, n_buckets=4))
    assert plan.count("Exchange") == 1
    assert "Generate" not in plan            # no explode anywhere
    assert "FlatMapGroupsInPandas" in plan   # the per-bucket Arrow pack


def test_ngram_repetition_is_shuffle_free(spark):
    """The repetition signal is per-document — one Arrow projection pass,
    zero exchanges (the relational groupBy(doc, gram) formulation would
    shuffle every n-gram occurrence)."""
    from pastash_spark.operators.dataset import ngram_repetition
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.lit("a b c a b").alias("text"))
    plan = _plan(ngram_repetition(df))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_range_lookup_bucketed_is_hash_join_not_nlj(spark):
    """The prefix-bucketed range join must plan as a HASH equi-join on the
    bucket (BETWEEN as residual) — a BroadcastNestedLoopJoin would probe
    every fact against every range (3-4M ranges in a real geo table)."""
    from pastash_spark.operators.enrich import range_lookup
    df = spark.range(1000).select(F.col("id").alias("v"))
    ranges = spark.createDataFrame(
        [(i * 100, i * 100 + 49, f"r{i}") for i in range(10)],
        "range_start long, range_end long, name string")
    out = range_lookup(df, ranges, "v", bucket_bits=6)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # correctness of the equi-join formulation vs the direct BETWEEN
    got = {r.v: r.name for r in out.collect()}
    want = {v: (f"r{v // 100}" if v % 100 < 50 else None)
            for v in range(1000)}
    assert got == want


def test_split_dataset_is_map_only(spark, token_parquet):
    from pastash_spark.operators.dataset import split_dataset
    df = spark.read.parquet(token_parquet)
    plan = _plan(split_dataset(df).select("doc_id", "split"))
    assert "Exchange" not in plan
    # and the wide columns are pruned away
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "tokens" not in read_schema


def test_sqlite_lookup_is_broadcast_no_fact_shuffle(spark, tmp_path):
    """The mysql/sqlite lookup family must plan as a BROADCAST hash join —
    the fact side streams through codegen unshuffled, which is what keeps
    the per-event-prepared-statement replacement O(rows) at 100 TB."""
    import sqlite3
    db = str(tmp_path / "p.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (k INTEGER, v TEXT)")
    con.executemany("INSERT INTO t VALUES (?,?)", [(i, f"v{i}") for i in range(50)])
    con.commit(); con.close()
    from pastash_spark.operators.enrich import sqlite_lookup
    facts = spark.range(10_000).select(F.col("id").alias("uid"))
    out = sqlite_lookup(facts, db=db, query="SELECT v FROM t WHERE k = ?",
                        source_field="uid", target_field="val")
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_capped_pair_operators_observe_in_query(spark):
    """A hot-bucket cap is one observed filter inside bucket_pairs: the
    plan gains a CollectMetrics node, but no count join and no checkpoint
    scan feeding two consumers."""
    from pastash_spark.operators import dataset as D
    docs = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("shared words for every doc "),
                 F.col("id").cast("string")).alias("text"))
    for capped in (D.minhash_lsh_pairs(docs, max_bucket=5),
                   D.simhash_near_pairs(docs, max_bucket=5),
                   D.winnow_containment_pairs(docs, max_posting=5)):
        plan = _plan(capped)
        assert "CollectMetrics" in plan
        assert "Join" not in plan
        assert "ExistingRDD" not in plan


def test_lsh_topk_tables_share_one_scan(spark, tmp_path):
    """All sign-LSH tables bucket in one Arrow pass over one scan per side:
    more tables cost a wider matrix product, not more scans or UDF nodes."""
    import numpy as np
    from pastash_spark.operators.similarity import lsh_topk
    rng = np.random.RandomState(5)
    path = str(tmp_path / "emb")
    spark.createDataFrame(
        [(i, rng.randn(16).astype("float32").tolist()) for i in range(200)],
        "vec_id int, embedding array<float>").write.parquet(path)
    emb = spark.read.parquet(path)
    q = emb.filter(F.col("vec_id") < 5)

    def shape(n_tables):
        plan = _plan(lsh_topk(emb, q, k=3, n_planes=4, dim=16,
                              n_tables=n_tables))
        return plan.count("FileScan parquet"), plan.count("ArrowEvalPython")

    assert shape(8) == shape(1) == (2, 2)


def test_ivf_topk_assigns_cells_once(spark, tmp_path):
    """The IVF cell UDF runs once per row on each side: the cells explode
    inside the generator, so the join's inferred not-null filter on the
    cell column cannot re-run the UDF below a projection."""
    import numpy as np
    from pastash_spark.operators.similarity import ivf_topk
    rng = np.random.RandomState(5)
    path = str(tmp_path / "emb")
    spark.createDataFrame(
        [(i, rng.randn(16).astype("float32").tolist()) for i in range(200)],
        "vec_id int, embedding array<float>").write.parquet(path)
    emb = spark.read.parquet(path)
    plan = _plan(ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=3,
                          n_centroids=8, nprobe=2))
    assert plan.count("ArrowEvalPython") == 2
