"""Multi-executor scaling simulation (the honest stand-in for the
north rule's "N vs 4N executors" on a single box).

An executor on a real cluster is its own JVM with its own Python
workers and heap; `local[4N]` is NOT that — one JVM's shuffle tracker,
GC, and allocator serialize across all task threads (measured collapse
in BASELINE.md).  This tool launches K independent executor PROCESSES,
each `local[C]`, each owning a disjoint url-bucket shard of the same
input (the engine's prescribed bucketed physical layout — url-bucketed
crawl storage means as-of/window shuffles never cross executors).

All executors build + warm up, then start the timed run on a shared
GO signal; the reported wall time is max(per-executor timed sec).

Usage: python tools/executor_sim.py --executors 1 --cores 2
       python tools/executor_sim.py --executors 4 --cores 2
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = r"""
import json, os, sys, time
sys.path.insert(0, %(root)r)
from ultraviolet_spark.pipeline import flagship_enriched
from ultraviolet_spark.session import get_spark
from ultraviolet_spark.sources.pages_from_docs import pages_from_documents

i, k, cores, replicate, sf_dir = %(i)d, %(k)d, %(cores)d, %(replicate)d, %(sf_dir)r
spark = get_spark(f"exec_{i}_of_{k}", cores=cores, shuffle_partitions=cores,
                  extra_conf={"spark.ui.enabled": "false"})
spark.sparkContext.setLogLevel("ERROR")

def build():
    return flagship_enriched(pages_from_documents(
        spark, sf_dir, replicate=replicate, shard=(i, k)))

def mat():
    build().write.mode("overwrite").format("noop").save()

n_pages = build().count()          # also warms the whole pipeline
print("READY", n_pages, flush=True)
sys.stdin.readline()               # GO
t0 = time.perf_counter()
mat()
print(json.dumps({"i": i, "sec": round(time.perf_counter() - t0, 3),
                  "pages": n_pages}), flush=True)
"""


_WORKER_BUCKETED = r"""
import json, os, sys, tempfile, time
sys.path.insert(0, %(root)r)
# each executor JVM gets its OWN cwd so the derby metastore +
# spark-warehouse of concurrent executors never collide
wd = tempfile.mkdtemp(prefix="uv_exec_bucketed_")
os.chdir(wd)
# the cwd no longer contains the package, so the executor-side Python
# workers need it on PYTHONPATH explicitly (the daemon inherits env)
os.environ["PYTHONPATH"] = %(root)r + os.pathsep + os.environ.get(
    "PYTHONPATH", "")
from ultraviolet_spark.functions.udfs import extract_stage
from ultraviolet_spark.pipeline import flagship_over_bucketed
from ultraviolet_spark.plans.layout import write_bucketed
from ultraviolet_spark.session import get_spark
from ultraviolet_spark.sources.pages_from_docs import pages_from_documents

i, k, cores, replicate, sf_dir = %(i)d, %(k)d, %(cores)d, %(replicate)d, %(sf_dir)r
spark = get_spark(f"exec_{i}_of_{k}", cores=cores, shuffle_partitions=cores,
                  extra_conf={"spark.ui.enabled": "false"})
spark.sparkContext.setLogLevel("ERROR")

# UNTIMED ingest prep, exactly the 100 TB story: transcode+extract once,
# write the url-bucketed (uv_bucket, url, warc_ts)-sorted layout once
pages = pages_from_documents(spark, sf_dir, replicate=replicate, shard=(i, k))
te = extract_stage(pages, with_features=True)
table = f"te_sim_{i}_{k}"
write_bucketed(te, table, by="url", ts="warc_ts", num_buckets=max(cores * 4, 8),
               path=os.path.join(wd, table))

def mat():
    flagship_over_bucketed(spark, table).write.mode("overwrite") \
        .format("noop").save()

n_pages = flagship_over_bucketed(spark, table).count()  # warm everything
print("READY", n_pages, flush=True)
sys.stdin.readline()               # GO
t0 = time.perf_counter()
mat()
print(json.dumps({"i": i, "sec": round(time.perf_counter() - t0, 3),
                  "pages": n_pages}), flush=True)
"""


def _run_leg(k: int, cores: int, replicate: int, sf_dir: str,
             bucketed: bool) -> dict:
    """Launch k pinned executor JVMs, wait for READY, GO, collect."""
    procs = []
    for i in range(k):
        tmpl = _WORKER_BUCKETED if bucketed else _WORKER
        code = tmpl % {"root": ROOT, "i": i, "k": k, "cores": cores,
                       "replicate": replicate, "sf_dir": sf_dir}
        env = dict(os.environ, SPARK_DRIVER_MEM="12g")
        lo, hi = i * cores, (i + 1) * cores - 1
        cmd = ["taskset", "-c", f"{lo}-{hi}", sys.executable, "-c", code]
        procs.append(subprocess.Popen(
            cmd, stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, cwd=ROOT, env=env))
    pages = 0
    for p in procs:
        line = p.stdout.readline()
        while line and not line.startswith("READY"):
            line = p.stdout.readline()
        if not line:
            raise RuntimeError("executor died before READY")
        pages += int(line.split()[1])
    for p in procs:
        p.stdin.write("\n")
        p.stdin.flush()
    secs = []
    for p in procs:
        out = json.loads(p.stdout.readline())
        secs.append(out["sec"])
        p.wait()
    wall = max(secs)
    return {"executors": k, "cores_per_executor": cores,
            "total_cores": k * cores, "pages": pages, "sec": wall,
            "per_executor_sec": secs,
            "pages_per_sec": round(pages / wall, 1)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--executors", type=int)
    ap.add_argument("--cores", type=int, default=2)
    ap.add_argument("--replicate", type=int, default=192)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--bucketed", action="store_true",
                    help="run flagship_over_bucketed on a per-executor "
                         "pre-materialized zero-exchange bucketed table "
                         "(ingest prep untimed) instead of the "
                         "shuffling flagship")
    ap.add_argument("--compare-pairs", type=int, default=0, metavar="R",
                    help="run R INTERLEAVED (1-executor, 4-executor) "
                         "pairs at --cores each and report the median "
                         "per-pair N->4N efficiency (the scaling_bench "
                         "methodology applied to separate pinned JVMs)")
    args = ap.parse_args()

    if args.compare_pairs:
        import statistics
        pairs = []
        for r in range(args.compare_pairs):
            one = _run_leg(1, args.cores, args.replicate, args.sf_dir,
                           args.bucketed)
            four = _run_leg(4, args.cores, args.replicate, args.sf_dir,
                            args.bucketed)
            eff = round(four["pages_per_sec"]
                        / (4 * one["pages_per_sec"]), 3)
            pairs.append({"pair": r, "one": one, "four": four,
                          "efficiency": eff})
            print(json.dumps(pairs[-1]), flush=True)
        effs = [p["efficiency"] for p in pairs]
        print(json.dumps({
            "mode": "bucketed" if args.bucketed else "shuffling",
            "cores_per_executor": args.cores,
            "replicate": args.replicate,
            "pairs": effs,
            "median_efficiency": round(statistics.median(effs), 3),
            "meets_0_8": statistics.median(effs) >= 0.8,
        }))
        return

    k = args.executors
    if k is None:
        ap.error("--executors is required without --compare-pairs")
    procs = []
    for i in range(k):
        tmpl = _WORKER_BUCKETED if args.bucketed else _WORKER
        code = tmpl % {"root": ROOT, "i": i, "k": k, "cores": args.cores,
                       "replicate": args.replicate, "sf_dir": args.sf_dir}
        env = dict(os.environ, SPARK_DRIVER_MEM="12g")
        # pin each executor to its own CPU set — a real cluster executor
        # has dedicated cores; unpinned JVM aux threads (GC, netty)
        # otherwise oversubscribe the box and distort the comparison
        lo, hi = i * args.cores, (i + 1) * args.cores - 1
        cmd = ["taskset", "-c", f"{lo}-{hi}", sys.executable, "-c", code]
        procs.append(subprocess.Popen(
            cmd, stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, cwd=ROOT, env=env))

    pages = 0
    for p in procs:                       # wait until every executor is warm
        line = p.stdout.readline()
        while not line.startswith("READY"):
            line = p.stdout.readline()
        pages += int(line.split()[1])
    for p in procs:                       # GO
        p.stdin.write("\n")
        p.stdin.flush()
    secs = []
    for p in procs:
        out = json.loads(p.stdout.readline())
        secs.append(out["sec"])
        p.wait()
    wall = max(secs)
    print(json.dumps({
        "executors": k, "cores_per_executor": args.cores,
        "total_cores": k * args.cores, "pages": pages,
        "sec": wall, "per_executor_sec": secs,
        "pages_per_sec": round(pages / wall, 1),
    }))


if __name__ == "__main__":
    main()
