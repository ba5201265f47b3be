"""The uvspark benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One process runs one workload as a
closed loop (one client, one job at a time) on ``local[4]`` with 4
shuffle partitions, over a pages table the benchmark generates from
``--seed``.  It prints a readable report and, as the last line of
standard output, one JSON object.  With ``--trace 0`` the JSON holds the
end-to-end metrics; with ``--trace 1`` the per-layer metrics.  See
README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
MIN_JOBS = 3
WARMUP_JOBS = 4             # full jobs after the cold one, before the reference job
WARMUP_FRACTION = 0.125     # input share of the cold checkpointed run in a traced run
ORACLE_URLS = 24
STOP_TIMEOUT_S = 60.0


@dataclass(frozen=True)
class Workload:
    shape: str          # gen.generate shape
    pages: int


# Why each workload exists: README.md in this directory.
WORKLOADS = {
    "pit_small_pages": Workload("small", 80_000),
    "pit_large_mixed_pages": Workload("large", 5_000),
}

END_TO_END = {"pages_per_s": "pages/s", "setup_s": "s", "worker_peak_rss_mb": "MB"}

PER_LAYER = {
    "input.pages": "count", "input.html_bytes": "B", "input.avg_page_bytes": "B",
    "input.no_bom_share": "ratio", "input.non_ascii_share": "ratio",
    "input.ill_formed_share": "ratio", "input.max_crawls_per_url": "count",
    "input.pages_over_32k": "count",
    "sources.scan_s": "s", "sources.scan_bytes": "B",
    "udfs.extract_s": "s", "udfs.arrow_sent_bytes": "B", "udfs.arrow_received_bytes": "B",
    "udfs.python_run_task_s": "s", "udfs.python_init_task_s": "s",
    "kernels.decode_auto.ns_per_byte": "ns/B",
    "kernels.codepoints_to_utf8.ns_per_byte": "ns/B",
    "kernels.extract_text.ns_per_byte": "ns/B",
    "kernels.utf8_to_codepoints.ns_per_byte": "ns/B",
    "kernels.codepoint_class_histogram.ns_per_byte": "ns/B",
    "kernels.chain_mb_per_s": "MB/s", "kernels.temp_bytes_per_html_byte": "ratio",
    "kernels.avg_page_bytes": "B", "kernels.rows": "count",
    "windows.features_s": "s", "windows.sort_peak_bytes": "B", "windows.spill_bytes": "B",
    "asof.asof_s": "s", "asof.pandas_sent_bytes": "B", "asof.pandas_received_bytes": "B",
    "asof.python_run_task_s": "s", "asof.cogroup_tasks": "count",
    "pipeline.exchanges": "count", "pipeline.python_nodes": "count",
    "pipeline.cached_rows": "count", "pipeline.shuffle_write_bytes": "B",
    "pipeline.executor_run_task_s": "s", "pipeline.jvm_gc_s": "s",
    "snapshots.text_extracted_s": "s", "snapshots.features_s": "s",
    "snapshots.features_enriched_s": "s", "snapshots.bytes_written": "B",
    "snapshots.files_written": "count", "snapshots.resume_s": "s",
    "snapshots.bytes_per_html_byte": "ratio",
    "trace.pages_per_s": "pages/s", "trace.overhead_pages_per_s": "pages/s",
}

SNAPSHOT_TABLES = ("text_extracted", "features", "features_enriched")
CUTS = ("scan", "extract", "features", "full")   # "full" is the checked flagship job
LAYERS = {"extract": "udfs.extract_s", "features": "windows.features_s",
          "full": "asof.asof_s"}


def say(*parts) -> None:
    print(*parts, flush=True)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def cpu_ticks() -> list[int]:
    """The host's CPU time counters from /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other machines."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def tail_percentile(times) -> str:
    """The highest percentile of ``times`` with at least ten samples
    beyond it, as report text; empty with ten samples or fewer."""
    n = len(times)
    if n <= 10:
        return ""
    return f", p{100 * (n - 10) // n} {sorted(times)[n - 11]:.3f}"


# --------------------------------------------------------------------------
# Spark session and its processes
# --------------------------------------------------------------------------

def start_spark(work: str):
    """The engine session at the benchmark's fixed shape, with every
    scratch path inside ``work``."""
    from ultraviolet_spark.session import get_spark

    spark = get_spark("perfbench", cores=CORES, shuffle_partitions=CORES, extra_conf={
        "spark.master": f"local[{CORES}]",
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a heap sized up front does not resize during the timed jobs
        "spark.driver.extraJavaOptions":
            f"-Xms3g -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _proc_table() -> dict[int, int]:
    """pid → parent pid of every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z":
            out[int(d)] = int(fields[1])
    return out


def descendants(root: int) -> set[int]:
    table = _proc_table()
    found, frontier = set(), {root}
    while frontier:
        frontier = {p for p, pp in table.items() if pp in frontier} - found
        found |= frontier
    return found


class WorkerMemory:
    """Largest peak RSS (``VmHWM``) of the PySpark Python workers under
    one JVM.  Workers are reused across tasks and stay alive between
    jobs, so a reading after each job sees every worker's peak."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self.workers: set[int] = set()

    def _python_workers(self) -> list[int]:
        out = []
        for pid in descendants(self.jvm_pid):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    if b"pyspark" in fh.read():
                        out.append(pid)
            except OSError:
                pass
        return out

    def reset(self) -> None:
        """Restart every worker's peak at its current RSS."""
        for pid in self._python_workers():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass

    def sample(self) -> None:
        for pid in self._python_workers():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb, int(line.split()[1]))
                            self.workers.add(pid)
            except OSError:
                pass


def stop_spark(spark) -> None:
    """Stop the session, end its JVM and wait until the JVM and every
    process it started have exited."""
    import subprocess

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants(proc.pid) if proc else set()
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()      # the JVM exits when its stdin closes
    try:
        proc.wait(STOP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while children and time.monotonic() < deadline:
        children &= set(_proc_table())
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


# --------------------------------------------------------------------------
# Jobs
# --------------------------------------------------------------------------

def digest_aggs(df):
    """Row count and an order-free digest of every column."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns])
    return [F.count(F.lit(1)).alias("rows"),
            F.sum(F.pmod(h, F.lit(1 << 40))).alias("digest")]


class Jobs:
    """The workload's jobs over one generated pages table."""

    def __init__(self, spark, pages_path: str):
        self.spark = spark
        self.pages_path = pages_path

    def pages(self, fraction: float | None = None):
        df = self.spark.read.parquet(self.pages_path)
        return df.sample(fraction, seed=1) if fraction else df

    def _write(self, df, sink=None) -> tuple[int, int]:
        """Write ``df`` into ``sink`` (parquet) or a noop sink; returns
        its (rows, digest), observed on the same pass."""
        from pyspark.sql import Observation

        obs = Observation()
        df = df.observe(obs, *digest_aggs(df))
        if sink:
            df.write.mode("overwrite").parquet(sink)
        else:
            df.write.mode("overwrite").format("noop").save()
        return int(obs.get["rows"]), int(obs.get["digest"])

    def flagship(self, sink=None) -> tuple[int, int]:
        """One flagship job; returns the output's (rows, digest)."""
        from ultraviolet_spark.pipeline import flagship_enriched

        got = self._write(flagship_enriched(self.pages()), sink)
        self.spark.catalog.clearCache()      # the per-job persisted features
        return got

    def cut(self, name: str) -> None:
        """One cumulative cut of the pipeline into a noop sink.  Like the
        flagship job it digests its output, so that the digest's cost
        mostly cancels in the cut deltas."""
        from ultraviolet_spark.functions.udfs import extract_stage
        from ultraviolet_spark.pipeline import compute_features

        pages = self.pages()
        if name == "scan":
            df = pages
        elif name == "extract":
            df = extract_stage(pages, with_features=True)
        else:
            df = compute_features(pages)
        self._write(df)

    def checkpointed(self, warehouse: str, fraction=None, *, resume: bool = False):
        """``run_checkpointed_pipeline`` into an empty warehouse or, with
        ``resume``, after dropping the last stage's snapshot as a crash
        before that stage would; returns (seconds, resumed flags,
        output DataFrame)."""
        from ultraviolet_spark.pipeline import run_checkpointed_pipeline

        shutil.rmtree(os.path.join(warehouse, "features_enriched") if resume else warehouse,
                      ignore_errors=True)
        t0 = time.perf_counter()
        out, resumed = run_checkpointed_pipeline(
            self.spark, self.pages(fraction), warehouse, inputs_key=f"{fraction}")
        return time.perf_counter() - t0, resumed, out

    def table_digest(self, df) -> tuple[int, int]:
        row = df.agg(*digest_aggs(df)).first()
        return int(row["rows"]), int(row["digest"])


def snapshot_log(warehouse: str) -> dict:
    from ultraviolet_spark.plans.snapshots import ParquetSnapshotFormat

    fmt = ParquetSnapshotFormat(warehouse)
    return {t: fmt.snapshots(t)[-1] for t in SNAPSHOT_TABLES}


def checkpoint_problems(n_pages, cold, resume, reference, warehouse) -> list[str]:
    """What is wrong with one cold run plus resume, if anything.  Each
    of ``cold`` and ``resume`` is (resumed flags, (rows, digest))."""
    problems = []
    if any(cold[0].values()):
        problems.append(f"cold run resumed a stage: {cold[0]}")
    if resume[0] != {"text_extracted": True, "features": True, "features_enriched": False}:
        problems.append(f"resume re-ran the wrong stages: {resume[0]}")
    if cold[1] != reference:
        problems.append("cold output differs from the reference output")
    if resume[1] != cold[1]:
        problems.append("resumed output digest differs from the cold output's")
    for t, s in snapshot_log(warehouse).items():
        if s.n_rows != n_pages:
            problems.append(f"snapshot {t} has {s.n_rows} rows, input has {n_pages}")
    return problems


# --------------------------------------------------------------------------
# Tracing: spans around calls into the program's public functions
# --------------------------------------------------------------------------

class Tracer:
    """Records (name, seconds) spans around the pipeline's layer calls
    while active; with the snapshot writes these are real stage times,
    with the lazy DataFrame functions they are planning time."""

    TARGETS = (
        ("ultraviolet_spark.pipeline", "extract_stage"),
        ("ultraviolet_spark.pipeline", "feature_vector"),
        ("ultraviolet_spark.pipeline", "enrich_asof"),
        ("ultraviolet_spark.plans.snapshots", "ParquetSnapshotFormat.write"),
    )

    def __init__(self):
        self.spans: list[tuple[str, float]] = []
        self._saved = []

    def _wrap(self, name, fn):
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                label = name
                if name.endswith(".write"):
                    label = f"{name}:{args[2] if len(args) > 2 else kwargs.get('table')}"
                self.spans.append((label, time.perf_counter() - t0))
        return traced

    def __enter__(self):
        import importlib

        for mod_name, attr in self.TARGETS:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            fn = getattr(owner, leaf)
            self._saved.append((owner, leaf, fn))
            setattr(owner, leaf, self._wrap(attr, fn))
        return self

    def __exit__(self, *exc):
        for owner, leaf, fn in reversed(self._saved):
            setattr(owner, leaf, fn)
        self._saved.clear()

    def total(self, label: str) -> float:
        return sum(dt for name, dt in self.spans if name == label)


# --------------------------------------------------------------------------
# The run
# --------------------------------------------------------------------------

class Run:
    def __init__(self, workload: str, seed: int, seconds: int, work: str):
        self.name = workload
        self.spec = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.failed = 0
        self.attempted = 0

    def setup(self) -> None:
        """Input generation, session start and warm-up: a cold job, then
        ``WARMUP_JOBS`` jobs, then the reference job whose output every
        timed job must reproduce."""
        import gen

        t0 = time.perf_counter()
        self.pages_path = os.path.join(self.work, "pages")
        self.props = gen.generate(self.spec.shape, self.seed, self.pages_path,
                                  pages=self.spec.pages)
        self.n_pages = self.props["input.pages"]
        t1 = time.perf_counter()
        self.spark = start_spark(self.work)
        self.jobs = Jobs(self.spark, self.pages_path)
        t2 = time.perf_counter()
        self.jobs.flagship()
        t3 = time.perf_counter()
        for _ in range(WARMUP_JOBS):
            self.jobs.flagship()
        self.ref_output = os.path.join(self.work, "reference")
        self.reference = self.jobs.flagship(sink=self.ref_output)
        self.ref_problems = []
        if self.reference[0] != self.n_pages:
            self.ref_problems.append(
                f"{self.reference[0]} output rows, input has {self.n_pages}")
        t4 = time.perf_counter()
        self.setup_s = t4 - T_START
        say(f"setup {self.setup_s:.3f} s: start {t0 - T_START:.3f}, inputs {t1 - t0:.3f}, "
            f"session {t2 - t1:.3f}, cold job {t3 - t2:.3f}, {WARMUP_JOBS} warm-up jobs "
            f"and the reference job {t4 - t3:.3f}")

    def timed(self, job) -> tuple[float | None, object]:
        """Run one timed job; counts it attempted and, when it raises or
        its output check fails, failed."""
        self.attempted += 1
        try:
            dt, extra, problems = job()
        except Exception:                               # noqa: BLE001
            traceback.print_exc()
            self.failed += 1
            return None, None
        if problems:
            say(f"  job {self.attempted} failed its check: {'; '.join(problems)}")
            self.failed += 1
        return dt, extra

    def flagship_job(self):
        t0 = time.perf_counter()
        got = self.jobs.flagship()
        dt = time.perf_counter() - t0
        problems = [] if got == self.reference else [
            f"output (rows, digest) {got} differs from the reference {self.reference}"]
        return dt, None, problems

    def checkpoint_job(self, between):
        """A cold checkpointed run then a resume; returns (cold s,
        resume s, problems).  ``between`` runs after the cold run,
        before anything else."""
        wh = os.path.join(self.work, "wh_run")
        cold_s, cold_flags, cold_out = self.jobs.checkpointed(wh)
        between()
        cold = (cold_flags, self.jobs.table_digest(cold_out))
        resume_s, resume_flags, resume_out = self.jobs.checkpointed(wh, resume=True)
        resume = (resume_flags, self.jobs.table_digest(resume_out))
        problems = checkpoint_problems(self.n_pages, cold, resume, self.reference, wh)
        return cold_s, resume_s, problems

    def oracle(self) -> list[str]:
        """Compare the reference output with the oracle on a seeded url
        sample that includes the hottest url."""
        import pyarrow.parquet as pq

        import check

        urls = pq.read_table(self.pages_path, columns=["url"]).column("url").to_pandas()
        sample = check.sample_urls(urls, self.seed, ORACLE_URLS)
        flt = [("url", "in", sample)]
        pages = pq.read_table(self.pages_path, filters=flt).to_pandas()
        out = pq.read_table(self.ref_output, filters=flt).to_pandas()
        return check.oracle_problems(pages, out)

    def verdict(self) -> bool:
        problems = self.ref_problems + self.oracle()
        for p in problems:
            say(f"  output check: {p}")
        if problems:
            self.failed = self.attempted
        return not problems and self.failed == 0

    # -- untraced: the end-to-end metrics ----------------------------------
    def untraced(self) -> dict:
        times = []
        jvm = self.spark.sparkContext._gateway.proc.pid
        ticks = cpu_ticks()
        mem = WorkerMemory(jvm)
        mem.reset()
        t_end = time.perf_counter() + self.seconds
        while time.perf_counter() < t_end or self.attempted < MIN_JOBS:
            dt, _ = self.timed(self.flagship_job)
            mem.sample()
            if dt is not None:
                times.append(dt)
        steal = steal_share(ticks, cpu_ticks())
        correct = self.verdict()
        pps = self.n_pages / median(times)
        metrics = {"pages_per_s": pps, "setup_s": self.setup_s,
                   "worker_peak_rss_mb": mem.peak_kb / 1024}
        n = len(times)
        say(f"workload {self.name}  seed {self.seed}  {self.n_pages} pages  "
            f"{self.props['input.html_bytes'] / 1e6:.1f} MB html  local[{CORES}]")
        say("  job s: " + " ".join(f"{t:.3f}" for t in times))
        say(f"  pages_per_s         {pps:12.1f} pages/s  median of {n} jobs "
            f"(job s: min {min(times, default=0):.3f}, median {median(times):.3f}, "
            f"max {max(times, default=0):.3f}{tail_percentile(times)})")
        say(f"  setup_s             {self.setup_s:12.3f} s        1 sample")
        say(f"  worker_peak_rss_mb  {metrics['worker_peak_rss_mb']:12.1f} MB       "
            f"max over {len(mem.workers)} workers, {n} jobs")
        say(f"  failed_run_frac     {self.failed}/{self.attempted} = "
            f"{self.failed / self.attempted:.3f}")
        say("  resume_s and snapshot_bytes_per_html_byte: --trace 1 reports them "
            "as snapshots.resume_s and snapshots.bytes_per_html_byte")
        say(f"  cpu steal during the timed jobs: {100 * steal:.1f}% of host cpu time")
        return self.result(correct, metrics, END_TO_END)

    # -- traced: the per-layer metrics --------------------------------------
    def traced_checkpoint(self, tracer: Tracer):
        """One checkpointed cold run and resume with spans on, after a
        cold run on a sample like the flagship's warm-up; returns
        (cold s, resume s, snapshot write seconds of the cold run)."""
        self.jobs.checkpointed(os.path.join(self.work, "wh_warm"), WARMUP_FRACTION)
        stage_s = {}

        def after_cold():
            stage_s.update({t: tracer.total(f"ParquetSnapshotFormat.write:{t}")
                            for t in SNAPSHOT_TABLES})

        tracer.spans.clear()
        with tracer:
            dt, resume_s = self.timed(lambda: self.checkpoint_job(after_cold))
        return dt, resume_s, stage_s

    def traced(self) -> dict:
        import kprobe
        from sparkrest import SparkRest

        rest = SparkRest(self.spark)
        tracer = Tracer()
        cuts = {c: [] for c in CUTS}
        traced_times, layer = [], {}
        t_end = time.perf_counter() + self.seconds
        rounds = 0
        while time.perf_counter() < t_end or rounds < 2:
            rounds += 1
            for c in CUTS[:-1]:
                t0 = time.perf_counter()
                self.jobs.cut(c)
                cuts[c].append(time.perf_counter() - t0)
            dt, _ = self.timed(self.flagship_job)
            if dt is not None:
                cuts["full"].append(dt)
            marker = rest.last_execution_id()
            with tracer:
                dt, _ = self.timed(self.flagship_job)
            layer.update(rest.layer_metrics(marker))
            if dt is not None:
                traced_times.append(dt)
        _, resume_s, stage_s = self.traced_checkpoint(tracer)
        correct = self.verdict()

        m = {k: float(v) for k, v in self.props.items() if k in PER_LAYER}
        med = {c: median(v) for c, v in cuts.items()}
        m["sources.scan_s"] = med["scan"]
        for prev, cur in zip(CUTS, CUTS[1:]):
            m[LAYERS[cur]] = med[cur] - med[prev]
        m.update(layer)
        m.update(kprobe.probe(self.pages_path))
        snaps = snapshot_log(os.path.join(self.work, "wh_run"))
        m.update({f"snapshots.{t}_s": stage_s.get(t, float("nan")) for t in SNAPSHOT_TABLES})
        m["snapshots.bytes_written"] = float(sum(s.bytes for s in snaps.values()))
        m["snapshots.files_written"] = float(sum(s.n_files for s in snaps.values()))
        m["snapshots.bytes_per_html_byte"] = (m["snapshots.bytes_written"]
                                              / self.props["input.html_bytes"])
        m["snapshots.resume_s"] = resume_s if resume_s is not None else float("nan")
        untraced_pps = self.n_pages / med["full"]
        m["trace.pages_per_s"] = self.n_pages / median(traced_times)
        m["trace.overhead_pages_per_s"] = untraced_pps - m["trace.pages_per_s"]

        say(f"workload {self.name}  seed {self.seed}  {self.n_pages} pages  traced, "
            f"{rounds} rounds")
        say("  cumulative cuts (median s): " + ", ".join(
            f"{c} {med[c]:.3f}" for c in CUTS))
        deltas = {k: m[k] for k in ("sources.scan_s", *LAYERS.values())}
        top = max(deltas, key=deltas.get)
        say(f"  largest layer by cut delta: {top} = {deltas[top]:.3f} s of "
            f"{med['full']:.3f} s")
        say("  Spark operator metrics are task totals: they overlap and are not "
            "shares of wall time")
        say(f"  tracing overhead: {m['trace.overhead_pages_per_s']:.1f} pages/s "
            f"({untraced_pps:.1f} untraced, {m['trace.pages_per_s']:.1f} traced)")
        say("  planning spans, traced checkpointed run and resume (s): " + ", ".join(
            f"{attr} {tracer.total(attr):.4f}" for _, attr in Tracer.TARGETS[:3]))
        for k in PER_LAYER:
            say(f"  {k:46s} {m[k]:16.4f} {PER_LAYER[k]}")
        return self.result(correct, m, PER_LAYER)

    def result(self, correct: bool, metrics: dict, names: dict) -> dict:
        return {"correct": bool(correct), "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {k: {"value": metrics[k], "unit": names[k]} for k in names}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import fixtures.make_features_golden  # noqa: F401
        import ultraviolet_spark.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    run = Run(args.workload, args.seed, args.seconds, work)
    try:
        run.setup()
        result = run.traced() if args.trace else run.untraced()
    finally:
        if getattr(run, "spark", None) is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass            # another run's files are still there
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
