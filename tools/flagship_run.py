"""Single flagship-pipeline run at a fixed parallelism (subprocess
worker for tools/scaling_bench.py).  Prints one JSON line:
{"cores": N, "pages": P, "sec": S, "pages_per_sec": R}
Timing excludes JVM/session startup and Python-worker warm-up.

The timed job is the north-rule job shape: READ the pages table
(parquet stand-in for Iceberg, materialized once per parameter set by
materialize_pages_table) → transcode+validate+extract → window
features → backward as-of join → write.  Input synthesis is NOT part
of the job (measured ~55% of the old inline-synth wall at local[4])
and runs untimed; pass --synth-inline to reproduce the pre-r3 shape.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--replicate", type=int, default=48)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--text-repeat", type=int, default=20,
                    help="tile doc text to web-realistic page size "
                         "(~10 KB at 20)")
    ap.add_argument("--pages-path", default=None,
                    help="pre-materialized pages parquet dir (skips the "
                         "in-process materialize step)")
    ap.add_argument("--synth-inline", action="store_true",
                    help="time the old shape: synthesize pages inside "
                         "the job instead of reading the table")
    ap.add_argument("--prep-only", action="store_true",
                    help="materialize the pages table and exit (prints "
                         '{"pages_path": ..., "pages": N})')
    args = ap.parse_args()

    from ultraviolet_spark.pipeline import flagship_enriched
    from ultraviolet_spark.session import get_spark
    from ultraviolet_spark.sources.pages_from_docs import (
        materialize_pages_table,
        pages_from_documents,
    )

    spark = get_spark("flagship_scale", cores=args.cores,
                      shuffle_partitions=args.cores)
    spark.sparkContext.setLogLevel("ERROR")

    if args.prep_only:
        path = materialize_pages_table(
            spark, args.sf_dir, replicate=args.replicate,
            text_repeat=args.text_repeat)
        print(json.dumps({"pages_path": path,
                          "pages": spark.read.parquet(path).count()}))
        return

    if args.synth_inline:
        def build():
            return flagship_enriched(pages_from_documents(
                spark, args.sf_dir, replicate=args.replicate,
                text_repeat=args.text_repeat))

        n_pages = (spark.read.parquet(
            f"{args.sf_dir}/documents.parquet").count() * args.replicate)
        warm_df = flagship_enriched(pages_from_documents(
            spark, args.sf_dir, replicate=max(args.replicate // 8, 1),
            text_repeat=args.text_repeat))
    else:
        pages_path = args.pages_path or materialize_pages_table(
            spark, args.sf_dir, replicate=args.replicate,
            text_repeat=args.text_repeat)

        def build():
            return flagship_enriched(spark.read.parquet(pages_path))

        n_pages = spark.read.parquet(pages_path).count()
        # warm-up input: a row-parallel sample (limit would collapse to
        # one partition and under-warm the worker pool)
        warm_df = flagship_enriched(
            spark.read.parquet(pages_path).sample(0.125, seed=1))

    def materialize(df):
        df.write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()  # drop the per-run persisted features

    # warm-up: full pipeline once (codegen + python workers)
    materialize(warm_df)

    times = []
    for _ in range(args.runs):
        t0 = time.perf_counter()
        materialize(build())
        times.append(time.perf_counter() - t0)
    sec = min(times)
    print(json.dumps({
        "cores": args.cores, "pages": n_pages, "sec": round(sec, 3),
        "all_runs_sec": [round(t, 3) for t in times],
        "pages_per_sec": round(n_pages / sec, 1),
    }))


if __name__ == "__main__":
    main()
