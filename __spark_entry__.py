"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship parse→enrich→route→aggregate pipeline on the
                  deterministic synthetic token table (BASELINE.json
                  input_hint shape), returning the per-sink aggregates.
queries()       — one entry per implemented operator (SURVEY.md §2 +
                  training-data ops), each (spark, sf_dir) -> DataFrame.
oracle_sql()    — matching DuckDB SQL for every SQL-expressible query.

All real logic lives in the pastash_spark package; this module is the thin
contract layer.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from pastash_spark import datagen  # noqa: E402
from pastash_spark.plans import flagship  # noqa: E402
from pastash_spark.queries import ORACLES, QUERIES  # noqa: E402

_REPO = os.path.dirname(os.path.abspath(__file__))
_shipped: set[str] = set()


def _ensure_shipped(spark: SparkSession) -> None:
    """Make `pastash_spark` importable on executor python workers even when
    the caller's SparkSession was built without our PYTHONPATH (the driver
    harness creates its own session): ship the package zip via addPyFile
    once per application — the same mechanism spark-submit --py-files uses.
    """
    app = spark.sparkContext.applicationId
    if app in _shipped:
        return
    spark.sparkContext.addPyFile(_packaged_zip())
    _shipped.add(app)


def _packaged_zip(repo: str = _REPO) -> str:
    """Path of ``dist/pastash_spark.zip`` holding the current
    ``pastash_spark/**/*.py``.  The zip's comment is the sources' content
    hash; a zip whose comment differs (missing, stale, or built by
    scripts/package.sh) is rebuilt, so an old zip never shadows fresh
    code on the executors."""
    import hashlib
    import zipfile
    pkg = os.path.join(repo, "pastash_spark")
    sources = sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(pkg) if "__pycache__" not in root
        for f in files if f.endswith(".py"))
    h = hashlib.sha256()
    for full in sources:
        h.update(os.path.relpath(full, repo).encode() + b"\0")
        with open(full, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest().encode()
    zip_path = os.path.join(repo, "dist", "pastash_spark.zip")
    try:
        with zipfile.ZipFile(zip_path) as zf:
            if zf.comment == digest:
                return zip_path
    except (OSError, zipfile.BadZipFile):
        pass
    os.makedirs(os.path.dirname(zip_path), exist_ok=True)
    tmp = f"{zip_path}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for full in sources:
            zf.write(full, os.path.relpath(full, repo))
        zf.comment = digest
    os.replace(tmp, zip_path)
    return zip_path


_SF_DIR = os.environ.get("SPARK_GRAFT_ENTRY_SF", "/root/testdata/sf0.001")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship pipeline over the driver's sf0.001 parquet (per contract);
    driver checks rows>0 and a stable schema.

    The input_hint-shaped token table derives deterministically from
    documents.parquet (portable tokenization + rendered syslog header);
    falls back to the synthetic generator if the testdata dir is absent.

    The result carries the per-sink aggregates PLUS the lineage-resume
    evidence columns from driving the same pipeline through the resumable
    lineage log twice (run + resume, monitor_file.js:289-316 semantics):
    `resume_buckets_skipped` == total buckets proves the second run skipped
    all committed work, and `lineage_committed_rows` is the durable
    per-bucket metrics sum.
    """
    import tempfile

    from pyspark.sql import functions as F

    _ensure_shipped(spark)
    if os.path.exists(os.path.join(_SF_DIR, "documents.parquet")):
        df = flagship.token_table_from_documents(spark, _SF_DIR)
    else:
        df = datagen.token_sequences(spark, 5_000)
    out = flagship.run(spark, df)
    work_dir = tempfile.mkdtemp(prefix="pastash_entry_lineage_")
    summary = flagship.run_with_lineage(spark, df, work_dir, n_buckets=4,
                                        buckets_per_job=4)
    return out["aggregates"].crossJoin(F.broadcast(summary))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_shipped(spark)
            return fn(spark, sf_dir)
        run.__name__ = getattr(fn, "__name__", "query")
        return run
    return {name: wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
