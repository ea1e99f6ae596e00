"""spark-submit entry point: the flagship pipeline as a production job.

    spark-submit --py-files pastash_spark.zip scripts/run_pipeline.py \
        --input  /data/tokens.parquet \
        --output /data/sinks \
        --lineage /data/lineage \
        --buckets 4096 --buckets-per-job 64

Reads the token table (BASELINE.json input_hint shape plus the rendered
`raw` header, which the input must carry), runs parse → enrich → route,
writes the per-sink fan-out, and checkpoints per-bucket lineage so a killed
job resumes where it stopped (anti-join on completed buckets — the
table-native analogue of paStash's --db_file, bin/pastash:210-234).  Each batch's per-bucket
counts are read back from the partitions it wrote, so the parse runs once
per batch.

Build the zip with:  make package   (or scripts/package.sh)
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--buckets-per-job", type=int, default=32)
    ap.add_argument("--generate-rows", type=int, default=0,
                    help="if >0, generate a synthetic input of N rows first")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pastash_spark import datagen
    from pastash_spark.plans import flagship
    from pastash_spark.session import get_spark
    from pastash_spark.sources.lineage import (LineageLog, run_resumable,
                                               with_bucket)

    spark = get_spark("pastash-pipeline", master=args.master)

    if args.generate_rows:
        datagen.write_token_table(spark, args.input, args.generate_rows)

    df = spark.read.parquet(args.input)
    lookup = datagen.source_lookup(spark)
    bucketed = with_bucket(df, key="doc_id", n_buckets=args.buckets)
    log = LineageLog(spark, args.lineage)

    def process(subset, buckets):
        return flagship.write_batch(subset, buckets, lookup, args.output)

    t0 = time.time()
    stats = run_resumable(bucketed, log, process, n_buckets=args.buckets,
                          buckets_per_job=args.buckets_per_job)
    stats["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
