"""Kernel-only multiprocessing scaling probe (no Spark): measures this
host's achievable parallel speedup for the engine's fused extract stage
(``transcode_extract_batches`` with features: decode, extract, text
length and class histogram) at a given page size — the hardware envelope
quoted in BASELINE.md."""

from __future__ import annotations

import argparse
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def work(args):
    page_kb, rows, reps = args
    import pyarrow as pa

    from ultraviolet_spark.functions.udfs import transcode_extract_batches

    words = max(page_kb * 1024 // 6, 10)
    html = ("<html><body><p>" + "wörd " * words + "</p></body></html>").encode()
    batch = pa.RecordBatch.from_arrays(
        [pa.array([html] * rows, type=pa.large_binary())], names=["html"])
    for _ in range(reps):
        for _ in transcode_extract_batches(iter([batch]), with_features=True):
            pass
    return 0


def main() -> None:
    # The engine's executors run with glibc arena reuse (session.py);
    # the probe's workers must too, or mmap page-zeroing serializes
    # across processes and understates the envelope (measured: 0.585 vs
    # the true 0.92 at 1→4 lanes).
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    ap = argparse.ArgumentParser()
    ap.add_argument("--page-kb", type=int, default=10)
    ap.add_argument("--rows", type=int, default=500)
    ap.add_argument("--reps", type=int, default=8)
    ap.add_argument("--procs", type=int, nargs="+", default=[2, 8, 32])
    args = ap.parse_args()

    for n in args.procs:
        with mp.Pool(n) as p:  # warm imports
            p.map(work, [(args.page_kb, 50, 1)] * n)
        t0 = time.perf_counter()
        with mp.Pool(n) as p:
            p.map(work, [(args.page_kb, args.rows, args.reps)] * n)
        dt = time.perf_counter() - t0
        total = n * args.rows * args.reps
        print(f"procs={n} sec={dt:.2f} pages_per_sec={total/dt:.0f}")


if __name__ == "__main__":
    main()
