"""Kernel-pass probe: the extract stage's five numpy passes, timed one
at a time on one core, outside Spark, over a workload's own html in
2,000-row batches (the engine's Arrow batch size).

Averages divide by the rows and bytes actually read, never by a
requested row count.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BATCH_ROWS = 2000            # the engine's Arrow batch size
MAX_BYTES = 8 << 20         # html read per probe
REPS = 3                    # timed passes over the batches; medians are reported
PASSES = ("decode_auto", "codepoints_to_utf8", "extract_text",
          "utf8_to_codepoints", "codepoint_class_histogram")


def read_html_batches(pages_dir: str) -> list[pa.Array]:
    """The table's first ``BATCH_ROWS``-row html batches, in file order,
    until ``MAX_BYTES`` of html are read."""
    html = pq.read_table(pages_dir, columns=["html"]).column("html")
    html = html.combine_chunks().cast(pa.large_binary())
    out, total = [], 0
    for start in range(0, len(html), BATCH_ROWS):
        out.append(html.slice(start, BATCH_ROWS))
        total += pc.sum(pc.binary_length(out[-1])).as_py()
        if total >= MAX_BYTES:
            break
    return out


def _nbytes(result) -> int:
    return sum(a.nbytes for a in result if isinstance(a, np.ndarray))


def probe(pages_dir: str) -> dict[str, float]:
    from ultraviolet_spark.kernels.buffers import binary_to_offsets
    from ultraviolet_spark.kernels.classify import codepoint_class_histogram
    from ultraviolet_spark.kernels.encode import codepoints_to_utf8
    from ultraviolet_spark.kernels.extract import extract_text
    from ultraviolet_spark.kernels.transcode import decode_auto
    from ultraviolet_spark.kernels.utf8 import utf8_to_codepoints

    batches = [binary_to_offsets(b) for b in read_html_batches(pages_dir)]
    rows = sum(len(off) - 1 for _, off, _ in batches)
    html_bytes = sum(int(off[-1] - off[0]) for _, off, _ in batches)
    seconds = {p: [] for p in PASSES}
    temp_bytes = 0
    for rep in range(REPS):
        spent = dict.fromkeys(PASSES, 0.0)
        for data, offsets, _ in batches:
            t0 = time.perf_counter()
            cp, cpo, n_repl, bom = decoded = decode_auto(data, offsets)
            t1 = time.perf_counter()
            u8, u8o = encoded = codepoints_to_utf8(cp, cpo)
            t2 = time.perf_counter()
            ext, exto = extracted = extract_text(u8, u8o)
            t3 = time.perf_counter()
            ecp, ecpo = redecoded = utf8_to_codepoints(ext, exto)
            t4 = time.perf_counter()
            hist = codepoint_class_histogram(ecp, ecpo)
            t5 = time.perf_counter()
            for p, dt in zip(PASSES, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4)):
                spent[p] += dt
            if rep == 0:
                temp_bytes += sum(_nbytes(r) for r in (decoded, encoded, extracted,
                                                       redecoded, (hist,)))
        for p in PASSES:
            seconds[p].append(spent[p])
    med = {p: statistics.median(v) for p, v in seconds.items()}
    out = {f"kernels.{p}.ns_per_byte": med[p] * 1e9 / html_bytes for p in PASSES}
    out["kernels.chain_mb_per_s"] = html_bytes / 1e6 / sum(med.values())
    out["kernels.temp_bytes_per_html_byte"] = temp_bytes / html_bytes
    out["kernels.avg_page_bytes"] = html_bytes / rows
    out["kernels.rows"] = float(rows)
    return out
