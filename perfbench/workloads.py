"""What one pass of each workload runs, and how its output is checked.

A pass calls the checked-out program directly: ``plans.flagship`` for the
flagship workload, ``pastash_spark.queries.QUERIES`` for the registry
workload (not ``__spark_entry__.queries()``, which ships a packaged zip to
executors).  The traced run of the flagship workload also drives
``sources.lineage`` through a resumable sink write.

Every attempted query is counted in an ``Outcome``; a failure is an
exception or an output that differs from the expected result, and never
stops the run.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

from inputs import normalise, same_rows

# Registry queries of the end-to-end pass and the table each reads:
# operators.correlate (windows, range joins, merged-stream as-of, Arrow
# matcher).  A pass is one query so that a run fits the warm-up and the
# timed passes its figures need to be steady (see run.MIN_TIMED).
REGISTRY = [
    ("rtpproxy_correlate", "events"),
]
# Measured (and checked) once each in the traced run only: the near-dup
# queries, including operators.dataset (in-bucket pair generation,
# ngram_jaccard_pairs), operators.similarity (sign-LSH) and operators.hsp,
# and the other correlate queries the open roadmap items touch, including
# operators.enrich (asof_lookup).  ngram_jaccard_pairs was in the timed
# pass first; alone, its 1.2 s executions spread 15-20% between runs even
# over 8 timed passes, too much for a gated end-to-end figure.
TRACED_ONLY = ["ngram_jaccard_pairs", "embedding_near_dup_lsh",
               "audiocodes_sip_parse", "janus_trace_spans", "asof_lru_lookup",
               "minhash_lsh_dedup", "simhash_near_pairs",
               "hsp_scored_correlation"]

LINEAGE_BUCKETS = 8
LINEAGE_BUCKETS_PER_JOB = 4
FLAGSHIP_STAGES = ("scan", "parse", "enrich", "route", "aggregate")


class Outcome:
    """Attempted/failed counters plus the first few failure messages."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 10:
                self.errors.append(f"{name}: {detail}"[:2000])

    def attempt(self, name: str, fn, *args):
        """Run ``fn``; an exception counts as a failure and returns None."""
        try:
            return fn(*args)
        except Exception:  # a failing query must not end the run
            self.record(name, False, traceback.format_exc(limit=3))
            return None


def _noop(df) -> bool:
    df.write.format("noop").mode("overwrite").save()
    return True


# --- token workload: the flagship parse -> enrich -> route -> aggregate DAG ---

class FlagshipWorkload:
    name = "flagship"
    inputs = "tokens"

    def __init__(self, spark, manifest, work_dir):
        from pastash_spark import datagen
        self.spark = spark
        self.m = manifest
        self.work_dir = work_dir
        self.lookup = datagen.source_lookup(spark)
        self.input_units = manifest["flagship_tokens"]

    def _flagship(self):
        from pastash_spark.plans import flagship
        df = self.spark.read.parquet(self.m["flagship_path"])
        out = flagship.build(df, self.lookup)
        return out["aggregates"].collect(), out["sink_counts"].collect()

    def run_pass(self, outcome: Outcome, check: bool) -> float:
        """One untraced pass; returns its wall seconds.  Every pass collects
        the aggregates, so every pass is compared with the reference, after
        the clock stops."""
        t0 = time.perf_counter()
        flag = outcome.attempt("flagship", self._flagship)
        wall = time.perf_counter() - t0
        if flag is not None:
            self._check_flagship(outcome, *flag)
        return wall

    def _check_flagship(self, outcome, aggs, sinks) -> None:
        ref = self.m["flagship_ref"]
        got_aggs = normalise(aggs[0].__fields__ if aggs else [], aggs)
        got_sinks = normalise(["sink", "rows"], sinks)
        total = sum(r["rows"] for r in sinks)
        ok = (same_rows(got_aggs, ref["aggregates"])
              and same_rows(got_sinks, ref["sink_counts"])
              and total == self.m["flagship_rows"])
        outcome.record("flagship", ok,
                       f"sinks {got_sinks['rows']} vs {ref['sink_counts']['rows']}"
                       f", rows {total} vs {self.m['flagship_rows']}")

    def traced_pass(self, outcome: Outcome, tracer) -> dict:
        """The same work as ``run_pass`` with spans around each call."""
        from pastash_spark.plans import flagship
        with tracer.span("flagship"):
            with tracer.span("flagship.build"):
                df = self.spark.read.parquet(self.m["flagship_path"])
                out = flagship.build(df, self.lookup)
            with tracer.span("flagship.collect"):
                aggs = out["aggregates"].collect()
                sinks = out["sink_counts"].collect()
        self._check_flagship(outcome, aggs, sinks)
        return {}

    def sink_resume(self, outcome: Outcome, tracer) -> dict:
        """Lineage/sink layers on the smaller token table: mirrors
        ``flagship.run_with_lineage`` (process every bucket, then a resume
        run that must skip them all) with the sink write timed on its own."""
        from pyspark.sql import functions as F

        from pastash_spark.operators import route as R
        from pastash_spark.plans import flagship
        from pastash_spark.sources.lineage import (
            BUCKET_COL, LineageLog, run_resumable, with_bucket)

        spark = self.spark
        layer = {}
        work = os.path.join(self.work_dir, "sink_resume")
        sink_path = os.path.join(work, "sinks")
        write_s = [0.0]

        def process_and_write(subset, buckets):
            routed = flagship.build(subset, self.lookup)["routed"]
            with tracer.span("sinks.write") as sp:
                (routed.write.mode("overwrite")
                 .partitionBy(BUCKET_COL, R.ROUTE_COL)
                 .option("partitionOverwriteMode", "dynamic")
                 .parquet(sink_path))
            write_s[0] += sp.duration
            with tracer.span("lineage.readback"):
                per_bucket = (spark.read.parquet(sink_path)
                              .filter(F.col(BUCKET_COL).isin(list(buckets)))
                              .groupBy(BUCKET_COL)
                              .agg(F.count("*").alias("r"),
                                   F.sum("n_tok").alias("t")).collect())
            return {r[BUCKET_COL]: (r.r, int(r.t)) for r in per_bucket}

        with tracer.span("sink_resume"):
            bucketed = with_bucket(spark.read.parquet(self.m["sink_path"]),
                                   key="doc_id", n_buckets=LINEAGE_BUCKETS)
            log = LineageLog(spark, os.path.join(work, "lineage"))
            kw = dict(n_buckets=LINEAGE_BUCKETS,
                      buckets_per_job=LINEAGE_BUCKETS_PER_JOB)
            with tracer.span("lineage.process") as p1:
                first = run_resumable(bucketed, log, process_and_write, **kw)
            with tracer.span("lineage.resume") as p2:
                resumed = run_resumable(bucketed, log, process_and_write, **kw)
        readback = spark.read.parquet(sink_path).count()
        ok = (first["processed"] == LINEAGE_BUCKETS
              and first["rows"] == readback == self.m["sink_rows"]
              and resumed["skipped"] == LINEAGE_BUCKETS
              and resumed["processed"] == 0)
        outcome.record("sink_resume", ok,
                       f"readback {readback}, runs {first} / {resumed}")
        layer["lineage.process_s"] = p1.duration
        layer["lineage.resume_s"] = p2.duration
        layer["sinks.write_s"] = write_s[0]
        layer["sinks.output_mb"] = _dir_mib(sink_path)
        layer["lineage.buckets_skipped"] = float(resumed["skipped"])
        shutil.rmtree(work, ignore_errors=True)
        return layer

    def traced_extras(self, outcome: Outcome, tracer) -> dict:
        layer = {}
        with tracer.span("stage_split"):
            layer.update(self.stage_split(outcome))
        layer.update(self.sink_resume(outcome, tracer))
        return layer

    def stage_split(self, outcome: Outcome) -> dict:
        """Force each prefix of the flagship DAG through the noop sink; a
        stage's cost is its prefix time minus the previous prefix time."""
        from pastash_spark.plans import flagship as FS
        spark = self.spark
        t0 = time.perf_counter()
        df = spark.read.parquet(self.m["flagship_path"])
        parsed = FS.parse_stage(df)
        enriched = FS.enrich_stage(parsed, self.lookup)
        routed = FS.route_stage(enriched)
        aggregated = FS.aggregate_stage(routed)
        build_s = time.perf_counter() - t0
        prefixes = dict(zip(FLAGSHIP_STAGES,
                            (df, parsed, enriched, routed, aggregated)))
        layer, previous = {"flagship.build_s": build_s}, 0.0
        for stage, prefix in prefixes.items():
            t0 = time.perf_counter()
            if outcome.attempt(f"flagship.{stage}", _noop, prefix):
                outcome.record(f"flagship.{stage}", True)
            elapsed = time.perf_counter() - t0
            layer[f"flagship.{stage}_s"] = elapsed - previous
            previous = elapsed
        return layer


# --- registry workload: correlate + near-dup queries -------------------------

class RegistryWorkload:
    name = "correlate"
    inputs = "registry"

    def __init__(self, spark, manifest, work_dir):
        from pastash_spark.queries import QUERIES
        self.spark = spark
        self.m = manifest
        self.queries = [(n, QUERIES[n]) for n, _ in REGISTRY]
        self.traced_only = [(n, QUERIES[n]) for n in TRACED_ONLY]
        rows = manifest["registry_rows"]
        self.input_units = sum(rows[t] for _, t in REGISTRY)
        self.rows_out: dict[str, int] = {}

    def run_pass(self, outcome: Outcome, check: bool) -> float:
        """One untraced pass: every query built fresh and forced through the
        noop sink, or with ``check`` collected and compared with its oracle
        (the comparison after the clock stops)."""
        wall = 0.0
        for name, fn in self.queries:
            if check:
                wall += self._check(outcome, name, fn)
                continue
            t0 = time.perf_counter()
            ok = outcome.attempt(name, _build_noop, fn, self.spark,
                                 self.m["sf_dir"])
            wall += time.perf_counter() - t0
            if ok:
                outcome.record(name, True)
        return wall

    def _check(self, outcome: Outcome, name: str, fn) -> float:
        t0 = time.perf_counter()
        got = outcome.attempt(name, _collect, fn, self.spark, self.m["sf_dir"])
        wall = time.perf_counter() - t0
        if got is not None:
            self._compare(outcome, name, got)
        return wall

    def _compare(self, outcome: Outcome, name: str, got: dict) -> None:
        want = self.m["oracles"][name]
        self.rows_out[name] = len(got["rows"])
        outcome.record(name, same_rows(got, want), f"{len(got['rows'])} rows "
                       f"vs {len(want['rows'])} expected")

    def traced_pass(self, outcome: Outcome, tracer) -> dict:
        layer = {}
        for name, fn in self.queries:
            self._traced_query(outcome, tracer, name, fn, layer)
        return layer

    def traced_extras(self, outcome: Outcome, tracer) -> dict:
        """The traced-only queries, measured once each; their execution is
        the checking collect, so exec_s includes moving the rows to the
        driver."""
        layer = {}
        for name, fn in self.traced_only:
            self._traced_query(outcome, tracer, name, fn, layer, check=True)
        return layer

    def _traced_query(self, outcome, tracer, name, fn, layer,
                      check: bool = False) -> None:
        """Build, plan (executedPlan) and execute (noop, or with ``check`` a
        collect compared with the oracle) timed separately; plan-node
        metrics read from the SQL store."""
        from probes import last_execution_id, plan_totals
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench:{name}", name)
        before = last_execution_id(self.spark)
        try:
            with tracer.span(name):
                with tracer.span(f"{name}.build") as b:
                    df = fn(self.spark, self.m["sf_dir"])
                with tracer.span(f"{name}.plan") as p:
                    df._jdf.queryExecution().executedPlan()
                with tracer.span(f"{name}.exec") as e:
                    got = (normalise(df.columns, df.collect()) if check
                           else _noop(df))
        except Exception:  # a failing query must not end the run
            outcome.record(name, False, traceback.format_exc(limit=3))
            return
        finally:
            sc.setJobGroup(None, None)
        if check:
            self._compare(outcome, name, got)
        else:
            outcome.record(name, True)
        layer[f"{name}.build_s"] = b.duration
        layer[f"{name}.plan_s"] = p.duration
        layer[f"{name}.exec_s"] = e.duration
        layer[f"{name}.peak_rows"] = plan_totals(self.spark,
                                                 before)["peak_rows"]
        layer[f"{name}.rows_out"] = float(self.rows_out.get(name, 0))


def _collect(fn, spark, sf):
    df = fn(spark, sf)
    return normalise(df.columns, df.collect())


def _build_noop(fn, spark, sf) -> bool:
    return _noop(fn(spark, sf))


def _dir_mib(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / 2.0 ** 20


WORKLOADS = {w.name: w for w in (FlagshipWorkload, RegistryWorkload)}
