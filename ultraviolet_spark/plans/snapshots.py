"""Snapshot table format + checkpoint/resume + lineage (north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

Two implementations behind one seam (SURVEY.md §1.1):

* ``IcebergFormat`` — used on a real cluster where the
  iceberg-spark-runtime jar is on the classpath (spark-submit
  --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13).
  Snapshot ids map to Iceberg snapshot ids; reads use
  ``option("snapshot-id", ...)``.
* ``ParquetSnapshotFormat`` — sandbox/local fallback: plain parquet
  plus a JSON snapshot log per table at ``_snapshots/<n>.json`` giving
  the same snapshot_id → files/fingerprint resume semantics.  All
  tests and the sandbox bench run on this.

Resume semantics: ``run_stage`` keys each stage on a caller-supplied
*input fingerprint* (source paths, parameters, upstream snapshot ids).
A matching fingerprint in the snapshot log short-circuits the stage to
a parquet read — no recompute.  Stages therefore re-run iff their
inputs change, giving multi-stage pipelines kill-and-rerun safety.

Lineage: each write records one row per output file (the unit of
output partitioning): rows, bytes on disk, min/max of the write-time
partition ids that produced it, wall-clock span.  Totals are also
captured in-flight via ``df.observe`` so the write itself is one pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def fingerprint(*parts) -> str:
    """Deterministic fingerprint of stage inputs (paths, params,
    upstream snapshot ids)."""
    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode())
        h.update(b"\x00")
    return h.hexdigest()[:24]


@dataclass
class Snapshot:
    snapshot_id: int
    table: str
    stage: str
    inputs_fp: str
    n_rows: int
    n_files: int
    bytes: int
    created_utc: float
    path: str
    # extra df.observe aggregates captured in-flight during the write
    # (same single pass as the row count) — {metric_name: float}
    observed: dict | None = None
    # StructType JSON for text data formats (csv/json carry no schema
    # of their own; parquet/orc leave this None)
    schema_json: str | None = None


class ParquetSnapshotFormat:
    """Columnar data + JSON snapshot log with Iceberg-like resume
    semantics.  ``data_format`` selects the file format for
    the data files — columnar ``parquet`` (default) / ``orc`` (both
    ship with Spark, expose the ``_metadata.file_path`` hidden column
    the per-file lineage relies on, and carry footer statistics for
    scan pruning), or the text interchange formats ``csv`` / ``json``
    (schema stored in the snapshot log and applied on every read,
    microsecond timestamp format and a NULL sentinel pinned —
    without them CSV reads "" as NULL and both formats truncate
    timestamps to milliseconds).  The snapshot/lineage bookkeeping is
    format-independent, so checkpoint/resume semantics are
    identical."""

    #: text formats carry no schema/type information of their own —
    #: the writer stores ``df.schema.json()`` in the snapshot log and
    #: every reader applies it, plus pinned options for microsecond
    #: timestamps and a NULL sentinel (CSV's empty-string/NULL
    #: ambiguity).  CSV rejects nested types (Spark raises natively).
    TEXT_FORMATS = ("csv", "json")
    #: microsecond-precision timestamp round-trip for text formats
    #: (the built-in default stops at milliseconds)
    TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

    def __init__(self, root: str, data_format: str = "parquet"):
        if data_format not in ("parquet", "orc", "csv", "json"):
            raise ValueError(
                f"unsupported data_format: {data_format!r} "
                "(parquet, orc, csv or json)")
        self.root = root
        self.data_format = data_format

    # -- format-aware IO helpers ---------------------------------------
    def _text_options(self, rw):
        rw = (rw.option("timestampNTZFormat", self.TS_FMT)
              .option("timestampFormat", self.TS_FMT))
        if self.data_format == "csv":
            rw = rw.option("header", "true").option("nullValue", "\\N")
        return rw

    def _load(self, spark: SparkSession, path: str,
              schema_json: str | None) -> DataFrame:
        r = spark.read.format(self.data_format)
        if self.data_format in self.TEXT_FORMATS:
            r = self._text_options(r)
            if schema_json:
                from pyspark.sql.types import StructType
                r = r.schema(StructType.fromJson(json.loads(schema_json)))
        return r.load(path)

    # -- paths ----------------------------------------------------------
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _snapdir(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_snapshots")

    def _data_path(self, table: str, snapshot_id: int) -> str:
        return os.path.join(self._tdir(table), f"data_v{snapshot_id}")

    # -- snapshot log ---------------------------------------------------
    def snapshots(self, table: str) -> list[Snapshot]:
        d = self._snapdir(table)
        if not os.path.isdir(d):
            return []
        out = []
        for f in sorted(os.listdir(d)):
            if f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    out.append(Snapshot(**json.load(fh)))
        return out

    def find(self, table: str, inputs_fp: str) -> Snapshot | None:
        for s in reversed(self.snapshots(table)):
            if s.inputs_fp == inputs_fp:
                return s
        return None

    # -- IO -------------------------------------------------------------
    def write(self, df: DataFrame, table: str, *, stage: str,
              inputs_fp: str,
              observe: dict[str, F.Column] | None = None) -> Snapshot:
        """Write one snapshot.  ``observe`` maps metric name → aggregate
        Column (count/sum/min/max/approx — anything ``df.observe``
        accepts); the metrics ride the SAME single write pass as the row
        count (no extra job) and land in the snapshot log →
        ``observed_metrics()``."""
        snaps = self.snapshots(table)
        sid = (snaps[-1].snapshot_id + 1) if snaps else 0
        path = self._data_path(table, sid)
        t0 = time.time()

        obs = Observation(f"lineage_{table}_{sid}")
        aggs = [F.count(F.lit(1)).alias("rows")]
        for mname, col in (observe or {}).items():
            if mname == "rows":
                raise ValueError("'rows' is reserved (always observed)")
            aggs.append(col.alias(mname))
        df = df.observe(obs, *aggs)
        schema_json = (df.schema.json()
                       if self.data_format in self.TEXT_FORMATS else None)
        w = df.write.mode("overwrite").format(self.data_format)
        if self.data_format in self.TEXT_FORMATS:
            w = self._text_options(w)
        w.save(path)
        got = obs.get
        n_rows = int(got["rows"])
        observed = {k: (None if got[k] is None else float(got[k]))
                    for k in got if k != "rows"}

        # per-file lineage from the written files (columnar count read —
        # cheap) + on-disk byte sizes
        spark = df.sparkSession
        files = {
            os.path.join(path, f): os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(f".{self.data_format}")
        }
        lineage = (
            self._load(spark, path, schema_json)
            .groupBy(F.col("_metadata.file_path").alias("file_path"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .withColumn("stage", F.lit(stage))
            .withColumn("snapshot_id", F.lit(sid))
            .withColumn("started_utc", F.lit(t0))
            .withColumn("finished_utc", F.lit(time.time()))
        )
        lpath = os.path.join(self._tdir(table), "_lineage", f"v{sid}")
        lineage.write.mode("overwrite").parquet(lpath)

        snap = Snapshot(
            snapshot_id=sid, table=table, stage=stage, inputs_fp=inputs_fp,
            n_rows=n_rows, n_files=len(files), bytes=sum(files.values()),
            created_utc=t0, path=path, observed=observed or None,
            schema_json=schema_json,
        )
        os.makedirs(self._snapdir(table), exist_ok=True)
        tmp = os.path.join(self._snapdir(table), f"{sid:06d}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(snap.__dict__, fh)
        os.replace(tmp, os.path.join(self._snapdir(table), f"{sid:06d}.json"))
        return snap

    def read(self, spark: SparkSession, table: str,
             snapshot_id: int | None = None) -> DataFrame:
        snaps = self.snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"no snapshots for table {table}")
        snap = snaps[-1] if snapshot_id is None else next(
            s for s in snaps if s.snapshot_id == snapshot_id)
        return self._load(spark, snap.path, snap.schema_json)

    def lineage(self, spark: SparkSession, table: str,
                snapshot_id: int | None = None) -> DataFrame:
        snaps = self.snapshots(table)
        sid = snaps[-1].snapshot_id if snapshot_id is None else snapshot_id
        return spark.read.parquet(
            os.path.join(self._tdir(table), "_lineage", f"v{sid}"))

    def tables(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            t for t in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, t, "_snapshots")))

    def metrics(self, spark: SparkSession) -> DataFrame:
        """ONE queryable metrics table over every stage run in this
        warehouse: (table, snapshot_id, stage, inputs_fp, n_rows,
        n_files, bytes, created_utc) — the per-run roll-up the snapshot
        log already records, surfaced as a DataFrame."""
        rows = [{k: v for k, v in s.__dict__.items()
                 if k not in ("observed", "schema_json")}
                for t in self.tables() for s in self.snapshots(t)]
        schema = ("snapshot_id long, table string, stage string, "
                  "inputs_fp string, n_rows long, n_files long, "
                  "bytes long, created_utc double, path string")
        return spark.createDataFrame(rows, schema=schema)

    def observed_metrics(self, spark: SparkSession) -> DataFrame:
        """Accumulator metrics captured via ``df.observe`` during each
        stage write, as ONE long-format queryable table:
        (table, snapshot_id, stage, metric, value).  ``rows`` appears
        for every stage run; extra metrics are whatever the stage's
        ``observe=`` mapping requested.  This is the cross-stage audit
        row the north_rule's 'metrics tables' asks for — computed
        in-flight on the write pass, zero extra jobs."""
        rows = []
        for t in self.tables():
            for s in self.snapshots(t):
                rows.append({"table": t, "snapshot_id": s.snapshot_id,
                             "stage": s.stage, "metric": "rows",
                             "value": float(s.n_rows)})
                for mname, val in (s.observed or {}).items():
                    rows.append({"table": t, "snapshot_id": s.snapshot_id,
                                 "stage": s.stage, "metric": mname,
                                 "value": None if val is None else float(val)})
        schema = ("table string, snapshot_id long, stage string, "
                  "metric string, value double")
        return spark.createDataFrame(rows, schema=schema)

    # -- maintenance ------------------------------------------------------
    def compact(self, spark: SparkSession, table: str, *,
                target_files: int = 8, stage: str | None = None) -> Snapshot:
        """Small-file compaction (Iceberg ``rewrite_data_files``'s local
        equivalent): rewrite the LATEST snapshot's data as a NEW
        snapshot with ``target_files`` files — incremental pipelines
        accrete one small file per run, and at 100 TB the resulting
        file-count explosion dominates scan planning time.  Data is
        byte-identical (row-equality pinned in tests); the rewrite is a
        first-class snapshot, so lineage/metrics record it and time
        travel to the pre-compaction snapshot still works until
        :meth:`expire_snapshots` removes it."""
        snaps = self.snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"no snapshots for table {table}")
        latest = snaps[-1]
        df = (self._load(spark, latest.path, latest.schema_json)
              .repartition(target_files))
        return self.write(
            df, table,
            stage=stage or f"compact_v{latest.snapshot_id}",
            inputs_fp=fingerprint("compact", latest.inputs_fp,
                                  latest.snapshot_id, target_files))

    def expire_snapshots(self, table: str, *, keep_last: int = 1,
                         older_than_utc: float | None = None) -> list[int]:
        """Retention (Iceberg ``expire_snapshots``'s local equivalent):
        delete the data files, lineage and log entries of all but the
        newest ``keep_last`` snapshots (optionally only those created
        before ``older_than_utc``).  Returns the expired ids.  The
        newest snapshot is never expired — resume and readers always
        have a current version."""
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        snaps = self.snapshots(table)
        victims = [s for s in snaps[:-keep_last]
                   if older_than_utc is None or s.created_utc < older_than_utc]
        for s in victims:
            shutil.rmtree(s.path, ignore_errors=True)
            shutil.rmtree(os.path.join(self._tdir(table), "_lineage",
                                       f"v{s.snapshot_id}"),
                          ignore_errors=True)
            try:
                os.remove(os.path.join(self._snapdir(table),
                                       f"{s.snapshot_id:06d}.json"))
            except FileNotFoundError:
                pass
        return [s.snapshot_id for s in victims]

    def all_lineage(self, spark: SparkSession) -> DataFrame:
        """Per-FILE lineage unified across every table and snapshot:
        (table, snapshot_id, stage, file_path, rows, started/finished).
        The cross-stage audit surface: every output file of every stage
        accounted for in one DataFrame (north_rule 'per-partition
        lineage + metrics')."""
        dfs = []
        for t in self.tables():
            ldir = os.path.join(self._tdir(t), "_lineage")
            if not os.path.isdir(ldir):
                continue
            df = spark.read.option("basePath", ldir).parquet(
                *[os.path.join(ldir, v) for v in sorted(os.listdir(ldir))])
            dfs.append(df.withColumn("table", F.lit(t)))
        if not dfs:
            raise FileNotFoundError(f"no lineage under {self.root}")
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df)
        return out


class IcebergFormat:
    """Thin Iceberg binding (cluster path).  Requires the
    iceberg-spark-runtime jar + a configured catalog; not usable in
    this sandbox (verified: zero iceberg jars ship with the local
    PySpark), so methods raise unless the jar is present."""

    def __init__(self, catalog: str = "spark_catalog", namespace: str = "uv"):
        self.catalog = catalog
        self.namespace = namespace

    @staticmethod
    def available(spark: SparkSession) -> bool:
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.SparkCatalog")
            return True
        except Exception:  # noqa: BLE001
            return False

    def _ident(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    def write(self, df: DataFrame, table: str, *, stage: str, inputs_fp: str):
        if not self.available(df.sparkSession):
            raise RuntimeError(
                "Iceberg runtime jar not on classpath; use "
                "ParquetSnapshotFormat locally or spark-submit --packages "
                "org.apache.iceberg:iceberg-spark-runtime")
        df.writeTo(self._ident(table)).createOrReplace()

    def read(self, spark: SparkSession, table: str, snapshot_id=None):
        r = spark.read.format("iceberg")
        if snapshot_id is not None:
            r = r.option("snapshot-id", snapshot_id)
        return r.load(self._ident(table))


def _code_fingerprint(code) -> str:
    """Recursive, process-stable fingerprint of a code object.

    ``repr(co_consts)`` is NOT stable when a build callable contains a
    nested lambda/comprehension: the nested code object's repr embeds a
    memory address and absolute file path, so the default code_version
    changed every process and run_stage silently never resumed (ADVICE
    r2).  Walk co_consts instead, replacing nested code objects with
    their own recursive fingerprint and keeping only value-reprs for
    plain consts.

    Closure-captured values are deliberately NOT hashed (they are not in
    co_code/co_consts): a build whose behavior changes only via a
    closed-over parameter must mix that parameter into ``inputs_fp`` —
    see run_stage's docstring.
    """
    parts: list[str] = [code.co_code.hex(), repr(code.co_names)]
    for const in code.co_consts:
        if hasattr(const, "co_code"):          # nested code object
            parts.append(_code_fingerprint(const))
        else:
            parts.append(repr(const))
    return fingerprint(*parts)


def stage_key(inputs_fp: str, build: Callable[[], DataFrame],
              code_version: str | None = None) -> str:
    """``run_stage``'s resume key: the input fingerprint mixed with the
    build's code version.  A downstream stage chains on this key, not
    on ``inputs_fp``, so a changed upstream build cascades too."""
    if code_version is None:
        code = getattr(build, "__code__", None)
        code_version = (_code_fingerprint(code) if code is not None
                        else fingerprint(repr(build)))
    return fingerprint(inputs_fp, code_version)


def run_stage(spark: SparkSession, fmt: ParquetSnapshotFormat, table: str,
              inputs_fp: str, build: Callable[[], DataFrame], *,
              stage: str | None = None,
              code_version: str | None = None,
              observe: dict[str, F.Column] | None = None,
              ) -> tuple[DataFrame, bool]:
    """Checkpointed stage: returns (df, resumed).  ``resumed`` is True
    when a snapshot with the same input fingerprint already existed and
    the build function was skipped entirely.

    The resume key mixes ``code_version`` into the fingerprint so a
    changed stage implementation does NOT silently resume a stale
    checkpoint (ADVICE r1).  By default it is derived from ``build``'s
    bytecode + consts, recursively through nested lambdas/comprehensions
    (process-stable — see _code_fingerprint) — edits to the stage
    function invalidate its snapshots automatically.  Pass an explicit
    version string when the stage delegates to code the bytecode can't
    see, and ALWAYS mix closure-captured parameter values into
    ``inputs_fp``: closure cell contents are not part of the bytecode,
    so a build varying only via a closed-over variable would otherwise
    resume a stale snapshot.
    """
    stage = stage or table
    key = stage_key(inputs_fp, build, code_version)
    snap = fmt.find(table, key)
    if snap is not None:
        return fmt.read(spark, table, snap.snapshot_id), True
    written = fmt.write(build(), table, stage=stage, inputs_fp=key,
                        observe=observe)
    # read back by the id we just wrote — never "latest", which could be
    # a concurrent writer's snapshot in a shared warehouse (ADVICE r1)
    return fmt.read(spark, table, written.snapshot_id), False


def read_evolved(spark: SparkSession, path: str, *,
                 required: list[str] | None = None) -> DataFrame:
    """Schema-evolution-aware parquet scan over a directory written in
    multiple schema GENERATIONS (a long-lived crawl table accretes
    columns: lang-ID added in month 3, quality score in month 7, ...).

    Plain ``spark.read.parquet`` samples ONE footer for the schema, so
    whether a later-generation column exists in the result depends on
    which file the sampler happened to pick — a silent, nondeterministic
    column loss.  This scan turns on footer merging (``mergeSchema``),
    which unions all file schemas (later-generation columns come back
    NULL for files written before the column existed) and fails loudly
    on true type conflicts instead of picking a winner.

    ``required`` adds an explicit post-merge presence check: a pipeline
    that NEEDS ``quality_bucket`` should die with a clear message when
    pointed at a pre-evolution directory, not propagate a missing-column
    AnalysisException from deep inside a 40-stage plan.

    Directory layout ``<path>/gen=<k>/...`` additionally surfaces the
    generation as a partition column via Spark's partition discovery —
    free partition pruning on generation, zero data rewrite.

    Scale: footer merging is metadata-only (driver reads footers, a
    distributed job over file listings for large tables via
    ``spark.sql.parquet.mergeSchema`` machinery); no data pass, no
    shuffle.  At 10^12 docs the cost is one footer per file, identical
    to the schema sampling a plain read already does per partition.
    """
    df = spark.read.option("mergeSchema", "true").parquet(path)
    missing = [c for c in (required or []) if c not in df.columns]
    if missing:
        raise ValueError(
            f"evolved table at {path} is missing required column(s) "
            f"{missing}; merged schema has {df.columns}")
    return df
