"""Scaling-efficiency evidence for the north rule (≥0.8 from N to 4N):
run the identical flagship job at local[8] and local[32] on the same
input in separate JVMs, report throughput at both + efficiency.

Usage: python tools/scaling_bench.py [--replicate 48] [--sf-dir ...]
Appends a measured-results block to BASELINE.md (replacing any prior
block between the markers).
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import re
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MARK_A = "<!-- scaling-results:begin -->"
MARK_B = "<!-- scaling-results:end -->"


def prep_pages(replicate: int, sf_dir: str, text_repeat: int) -> str:
    """Materialize the pages table once (untimed — the north-rule job
    reads the table, it doesn't synthesize it); returns its path."""
    cmd = [sys.executable, os.path.join(ROOT, "tools", "flagship_run.py"),
           "--cores", "8", "--replicate", str(replicate),
           "--sf-dir", sf_dir, "--text-repeat", str(text_repeat),
           "--prep-only"]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True,
                         cwd=ROOT, timeout=1800)
    return json.loads(out.stdout.strip().splitlines()[-1])["pages_path"]


def run_at(cores: int, replicate: int, sf_dir: str, runs: int,
           text_repeat: int, pages_path: str | None = None) -> dict:
    # Pre-sized, pre-touched heap: without it the first full-size run
    # in a fresh JVM pays heap growth + page zeroing DURING the timed
    # region (measured 96 s vs 46 s steady on the 4-core leg) —
    # AlwaysPreTouch moves that cost into JVM startup, which the
    # harness excludes from timing on both legs alike.
    env = dict(os.environ)
    mem = env.get("SPARK_DRIVER_MEM", "8g")
    # APPEND (the sandbox already exports SPARK_SUBMIT_OPTS with ivy
    # settings — setdefault would silently drop the pre-touch).
    pre = f"-Xms{mem} -XX:+AlwaysPreTouch"
    prior = env.get("SPARK_SUBMIT_OPTS", "")
    if pre not in prior:
        env["SPARK_SUBMIT_OPTS"] = f"{prior} {pre}".strip()
    # A leg occasionally wedges in a chained-PythonRunner stall (workers
    # blocked on write, JVM reader polling — observed ~1/15 legs, jstack
    # + /proc evidence in BASELINE.md); bound each leg and retry once
    # rather than hanging the whole measurement.
    leg_timeout = max(1500, runs * 600)
    cmd = [sys.executable, os.path.join(ROOT, "tools", "flagship_run.py"),
           "--cores", str(cores), "--replicate", str(replicate),
           "--sf-dir", sf_dir, "--runs", str(runs),
           "--text-repeat", str(text_repeat)]
    if pages_path is not None:
        cmd += ["--pages-path", pages_path]
    for attempt in (1, 2):
        try:
            out = subprocess.run(cmd, capture_output=True, text=True,
                                 check=True, cwd=ROOT, timeout=leg_timeout,
                                 env=env)
            return json.loads(out.stdout.strip().splitlines()[-1])
        except subprocess.TimeoutExpired:
            if attempt == 2:
                raise
            print(f"# leg local[{cores}] wedged after {leg_timeout}s — "
                  "retrying once", file=sys.stderr)
        except subprocess.CalledProcessError as exc:
            # transient leg crashes reproduce cleanly solo (r3 + r4
            # observations) — surface the child's stderr for the
            # record and retry once before giving up
            print(f"# leg local[{cores}] exited {exc.returncode} "
                  f"(attempt {attempt}); child stderr tail:\n"
                  + "\n".join((exc.stderr or "").splitlines()[-15:]),
                  file=sys.stderr)
            if attempt == 2:
                raise


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicate", type=int, default=48)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--leg-runs", type=int, default=3,
                    help="timed runs per leg within a pair (min taken): "
                         "filters hypervisor steal bursts (vmstat during "
                         "legs shows 1-8%% st — short 4N legs are bimodal "
                         "under them, 43.8 vs 76.3 s back-to-back in ONE "
                         "warm JVM) and the fresh-JVM first-run penalty")
    ap.add_argument("--n", type=int, default=8)
    ap.add_argument("--n4", type=int, default=32)
    ap.add_argument("--text-repeat", type=int, default=20,
                    help="page size multiplier (20 ≈ 10 KB web-average pages)")
    ap.add_argument("--no-record", action="store_true",
                    help="print the measurement only — do NOT update "
                         "tools/scaling_latest.json or BASELINE.md (for "
                         "auxiliary steps like 2→8 run as supporting "
                         "evidence next to the headline 1→4)")
    args = ap.parse_args()

    # INTERLEAVED pairs: this host's absolute speed drifts up to ~1.5×
    # over hours (r2 attributed it to THP/cache state; r3 vmstat during
    # legs shows 1-8% hypervisor steal, so noisy neighbors are at least
    # a co-cause — short legs are hit bimodally, hence min-of-k).  Running
    # all N legs then all 4N legs lets drift bias the ratio; alternating
    # (N, 4N) per round and taking the per-PAIR efficiency median makes
    # the measurement drift-robust (both legs of a pair see the same
    # host state).
    pages_path = prep_pages(args.replicate, args.sf_dir, args.text_repeat)
    pairs = []
    r8 = r32 = None
    for _ in range(args.runs):
        a = run_at(args.n, args.replicate, args.sf_dir, args.leg_runs,
                   args.text_repeat, pages_path)
        b = run_at(args.n4, args.replicate, args.sf_dir, args.leg_runs,
                   args.text_repeat, pages_path)
        pairs.append((a, b))
        if r8 is None or a["sec"] < r8["sec"]:
            r8 = a
        if r32 is None or b["sec"] < r32["sec"]:
            r32 = b
    per_pair = sorted(
        (b["pages_per_sec"] / a["pages_per_sec"]) / (args.n4 / args.n)
        for a, b in pairs)
    eff = statistics.median(per_pair)

    summary = {
        "when": datetime.datetime.now().isoformat(timespec="minutes"),
        "method": ("same flagship job (read materialized pages table → "
                   "transcode+extract → window features → as-of join → "
                   "write; input synthesis untimed per north-rule job "
                   "shape), local[N] vs local[4N], fresh pre-touched JVM "
                   "per leg, interleaved (N,4N) pairs, min-of-k runs per "
                   "leg (k=leg_runs; filters 1-8% hypervisor steal bursts "
                   "measured via vmstat), median per-pair efficiency "
                   "(drift-robust); warm-up excluded"),
        "n_cores": args.n, "n4_cores": args.n4,
        "pages": r8["pages"],
        "sec_n": r8["sec"], "sec_n4": r32["sec"],
        "pages_per_sec_n": r8["pages_per_sec"],
        "pages_per_sec_n4": r32["pages_per_sec"],
        "per_pair_efficiency": [round(e, 3) for e in per_pair],
        "scaling_efficiency": round(eff, 3),
        "meets_0_8": eff >= 0.8,
    }
    print(json.dumps(summary))
    if args.no_record:
        return
    # Persist for bench.py to attach to its driver-recorded JSON line.
    # This script is the SINGLE writer of scaling_latest.json and the
    # top level always reflects the MOST RECENT measurement (meets_0_8
    # included).  Prior measurements are appended to "history" and the
    # best one is surfaced as "best_recorded" for context — the host's
    # documented fast/slow drift (BASELINE.md) is visible there instead
    # of silently headlining a cherry-picked window.
    latest_path = os.path.join(ROOT, "tools", "scaling_latest.json")
    history: list[dict] = []
    if os.path.exists(latest_path):
        try:
            prior = json.load(open(latest_path))
            history = list(prior.get("history", []))
            # migrate any pre-unification record (best_window/latest_window
            # split, or a flat record without history) into history rows
            for key in ("best_window", "latest_window"):
                if key in prior:
                    history.append({k: prior[key].get(k) for k in
                                    ("when", "scaling_efficiency", "meets_0_8",
                                     "sec_n", "sec_n4")})
            if "history" not in prior and "best_window" not in prior \
                    and "scaling_efficiency" in prior:
                history.append({k: prior.get(k) for k in
                                ("when", "scaling_efficiency", "meets_0_8",
                                 "sec_n", "sec_n4")})
        except (json.JSONDecodeError, OSError):
            pass
    history.append({k: summary[k] for k in
                    ("when", "scaling_efficiency", "meets_0_8",
                     "sec_n", "sec_n4")})
    record = dict(summary)
    record["history"] = history[-20:]
    record["best_recorded"] = max(
        record["history"], key=lambda h: h.get("scaling_efficiency") or 0.0)
    with open(latest_path, "w") as fh:
        json.dump(record, fh, indent=1)

    block = f"""{MARK_A}
## Measured scaling results ({datetime.date.today().isoformat()})

Same flagship job (read materialized pages table → transcode+extract
via mapInArrow → window features → backward as-of join → write;
input synthesis is untimed — the north-rule job READS a pages table),
identical input ({r8['pages']:,} pages × ~{args.text_repeat // 2} KB
html synthesized from {args.sf_dir}, web-realistic page size), two
parallelism levels, separate JVMs, warm-up excluded, {args.runs}
INTERLEAVED (N, 4N) pairs —
the efficiency is the median per-pair ratio, robust to this host's
slow multi-hour performance drift (best wall/throughput shown):

| Config | Wall (s) | Throughput (pages/s) |
| --- | --- | --- |
| `local[{args.n}]` (N) | {r8['sec']} | {r8['pages_per_sec']:,} |
| `local[{args.n4}]` (4N) | {r32['sec']} | {r32['pages_per_sec']:,} |

**Scaling efficiency (median interleaved pair) = {eff:.3f}** — criterion ≥ 0.8: {"**MET**" if eff >= 0.8 else "**NOT MET**"}.

Per-pair efficiencies: {summary['per_pair_efficiency']}
{MARK_B}"""

    path = os.path.join(ROOT, "BASELINE.md")
    txt = open(path).read()
    if MARK_A in txt:
        txt = re.sub(re.escape(MARK_A) + r".*?" + re.escape(MARK_B), block,
                     txt, flags=re.S)
    else:
        txt = txt.rstrip() + "\n\n" + block + "\n"
    open(path, "w").write(txt)


if __name__ == "__main__":
    main()
