"""Physical-layout writers (SURVEY.md §2.7; VERDICT r1 missing #7/#9).

Two materialized layouts:

* ``write_bucketed`` — Spark-native bucketing (``bucketBy`` +
  ``sortBy`` + ``saveAsTable``): N hash buckets on a key column, rows
  sorted within each bucket file.  A scan of the table reports
  ``hashpartitioning(key, N)``, so every downstream ``groupBy(key)``,
  equi-join on key, window ``partitionBy(key)`` and — via
  ``asof_join(bucket_col=...)`` — the flagship as-of window plans with
  ZERO exchanges (asserted in tests/test_layout.py).  This is the
  Iceberg ``bucket(N, url)`` partition transform's local equivalent; on
  a cluster the same DataFrame goes through ``writeTo(...).partitionedBy
  (bucket(N, col))``.

* ``write_range_sorted`` — ``repartitionByRange`` +
  ``sortWithinPartitions`` + parquet: totally-ordered files with
  non-overlapping key ranges.  Re-reads don't advertise partitioning
  (plain parquet has no metastore entry) but parquet min/max row-group
  stats make key-range predicates skip whole files — the layout for
  time-range-scanned archives.

At 100 TB: bucket count should be sized so one bucket ≈ ≤1 GB
(N ≈ table_bytes / 1e9 rounded to a power of two); both writers are one
full shuffle — the point is to pay it ONCE at ingest so the as-of /
window / join pipeline that runs daily pays none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Name of the materialized bucket column written by write_bucketed and
# consumed by asof_join(bucket_col=...).
BUCKET_COL = "uv_bucket"


def add_bucket_column(df: DataFrame, by: str, num_buckets: int,
                      bucket_col: str = BUCKET_COL) -> DataFrame:
    """Materialize a hash bucket id of ``by`` (pmod(xxhash64(by), N)) as
    a real column.  It is a function of the key, so partitioning by
    (bucket, key) forms the same groups as by key alone, and a table
    bucketed on this column feeds key windows and the as-of join
    (``asof_join(bucket_col=...)``) with no exchange."""
    return df.withColumn(
        bucket_col, F.pmod(F.xxhash64(F.col(by)), F.lit(num_buckets)))


def write_bucketed(df: DataFrame, table: str, *, by: str = "url",
                   ts: str = "warc_ts", num_buckets: int = 32,
                   bucket_col: str = BUCKET_COL,
                   path: str | None = None) -> None:
    """Materialize the url-bucket / (bucket, key, ts)-sorted layout the
    as-of path assumes.  Buckets on the precomputed ``bucket_col`` so
    the scan's hashpartitioning satisfies every (bucket, key) window
    and the as-of join; sorts within buckets by (key, ts) so per-key history is
    contiguous and in time order on disk.  ``path`` makes it an
    external table (warehouse.dir is a static conf)."""
    w = (add_bucket_column(df, by, num_buckets, bucket_col)
         .write.mode("overwrite")
         .bucketBy(num_buckets, bucket_col)
         .sortBy(bucket_col, by, ts)
         .format("parquet"))
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Scan a write_bucketed table; the plan carries
    hashpartitioning(bucket_col, N) — downstream key-clustered operators
    plan exchange-free (requires spark.sql.sources.bucketing.enabled,
    default true)."""
    return spark.table(table)


def write_range_sorted(df: DataFrame, path: str, *, range_by: list[str],
                       sort_by: list[str] | None = None,
                       num_partitions: int | None = None) -> None:
    """§2.7 range-partitioned sort: global order across files (file k's
    max key ≤ file k+1's min key), rows sorted within each file.  One
    range exchange (sampled boundaries) + local sort."""
    sort_by = sort_by or range_by
    parts = [F.col(c) for c in range_by]
    rp = (df.repartitionByRange(num_partitions, *parts) if num_partitions
          else df.repartitionByRange(*parts))
    (rp.sortWithinPartitions(*[F.col(c) for c in sort_by])
     .write.mode("overwrite").parquet(path))


def zorder_key(cols: list, *, bits: int = 16) -> F.Column:
    """Z-order (Morton) key: interleave the low ``bits`` bits of each
    input column — the multi-dimensional data-skipping layout
    (Iceberg's/Delta's Z-ORDER).  Sorting by this key clusters rows
    that are close in EVERY dimension into the same files, so parquet
    min/max stats prune scans filtered on ANY subset of the dimensions
    — the one layout trick ``write_range_sorted``'s single-key order
    can't give a second predicate column.

    Pure integer Catalyst arithmetic (shift/and/or unrolled ``bits``
    times per column), bit-identical in any engine.  Inputs must be
    non-negative integers; values ≥ 2^bits wrap (callers bucket or
    truncate first — locality only needs relative order of the low
    bits).  Output fits a long for ``len(cols)·bits ≤ 63``.
    """
    n = len(cols)
    if n == 0:
        raise ValueError("zorder_key needs at least one column")
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a long")
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        col = (F.col(c) if isinstance(c, str) else c).cast("long")
        masked = col.bitwiseAND(F.lit((1 << bits) - 1))
        for b in range(bits):
            bit = F.shiftright(masked, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + ci))
    return z


def write_zordered(df: DataFrame, path: str, *, cols: list,
                   bits: int = 16, num_files: int = 8,
                   zcol: str = "uv_zkey") -> None:
    """Materialize a Z-ordered parquet layout: compute the Morton key,
    range-partition on it (non-overlapping z-ranges per file) and sort
    within files — one ingest-time shuffle buys multi-column file
    skipping for every later scan."""
    (df.withColumn(zcol, zorder_key(cols, bits=bits))
       .repartitionByRange(num_files, zcol)
       .sortWithinPartitions(zcol)
       .write.mode("overwrite").parquet(path))


def write_date_partitioned(df: DataFrame, path: str, *,
                           ts_col: str = "warc_ts",
                           part_col: str = "crawl_date",
                           mode: str = "overwrite") -> None:
    """Hive-style date-partitioned layout — the warehouse default for
    time-series corpora: one directory per calendar day of ``ts_col``,
    so every date-bounded scan prunes at PLANNING time (directory
    listing, zero file reads for excluded days) and ingest appends land
    in their own partitions.

    ``mode='dynamic'`` enables idempotent backfill: only the partitions
    PRESENT in ``df`` are replaced (``partitionOverwriteMode=dynamic``),
    untouched days keep their files — re-running a day's pipeline never
    clobbers the rest of the table.  The conf is restored afterwards so
    session behavior doesn't leak (the q48 timezone lesson).
    """
    spark = df.sparkSession
    out = df.withColumn(part_col, F.to_date(F.col(ts_col)))
    if mode == "dynamic":
        key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(key, "static")
        spark.conf.set(key, "dynamic")
        try:
            (out.write.mode("overwrite").partitionBy(part_col)
             .parquet(path))
        finally:
            spark.conf.set(key, prev)
    else:
        out.write.mode(mode).partitionBy(part_col).parquet(path)


def read_date_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read back a :func:`write_date_partitioned` layout; date filters
    on the partition column prune directories at planning time
    (assert via ``PartitionFilters`` in the formatted plan —
    tests/test_layout.py)."""
    return spark.read.parquet(path)


def compaction_plan(files: DataFrame, *, partition_cols: list[str],
                    path_col: str = "file_path",
                    size_col: str = "size_bytes",
                    target_bytes: int = 128 * 1024 * 1024) -> DataFrame:
    """Small-file compaction planner over file METADATA (the lineage /
    listing table, not the data): within each partition, files already
    ≥ ``target_bytes`` pass through untouched (rewriting a full-size
    file is pure write amplification), and the small-file tail is
    grouped into compaction bins by prefix-sum arithmetic — bin =
    cum_bytes_before DIV target — over the deterministic path order.
    Each bin's total lands in [target, 2·target) except the final
    runt, because the file that crosses the boundary stays in the bin
    it started in; a bin is only actionable when it holds ≥ 2 files.

    This is the metadata-only half of OPTIMIZE/rewrite_data_files:
    the planner is one window over the listing (thousands of rows per
    partition, never data-scale), so it runs on the driver-side table
    in milliseconds and the expensive rewrite executes only the
    ``needs_compaction`` groups.

    Output: one row per (partition, group) with ``n_files``,
    ``bytes_total``, ``bytes_min/max``, ``needs_compaction`` and
    ``passthrough`` (true for kept-as-is large files, one group each,
    group id −1−rank to keep them disjoint from bin ids).
    """
    from pyspark.sql import Window

    keys = [F.col(c) for c in partition_cols]
    sz = F.col(size_col).cast("long")
    small = files.filter(sz < target_bytes)
    big = files.filter(sz >= target_bytes)

    w = Window.partitionBy(*keys).orderBy(path_col)
    cum_before = F.coalesce(
        F.sum(sz).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0))
    binned = (small.withColumn("__cb", cum_before)
              .withColumn("__grp", F.expr(f"__cb DIV {int(target_bytes)}")))
    plan_small = (binned.groupBy(*partition_cols, "__grp")
                  .agg(F.count("*").cast("long").alias("n_files"),
                       F.sum(sz).alias("bytes_total"),
                       F.min(sz).alias("bytes_min"),
                       F.max(sz).alias("bytes_max"))
                  .withColumn("needs_compaction", F.col("n_files") >= 2)
                  .withColumn("passthrough", F.lit(False)))
    wb = Window.partitionBy(*keys).orderBy(path_col)
    plan_big = (big.withColumn("__grp",
                               -F.row_number().over(wb).cast("long"))
                .groupBy(*partition_cols, "__grp")
                .agg(F.count("*").cast("long").alias("n_files"),
                     F.sum(sz).alias("bytes_total"),
                     F.min(sz).alias("bytes_min"),
                     F.max(sz).alias("bytes_max"))
                .withColumn("needs_compaction", F.lit(False))
                .withColumn("passthrough", F.lit(True)))
    return (plan_small.unionByName(plan_big)
            .withColumnRenamed("__grp", "group_id"))


def with_hilbert_key(df: DataFrame, x_col: str, y_col: str, *,
                     bits: int = 8, out: str = "hkey") -> DataFrame:
    """Hilbert-curve key for 2-D layout clustering — the strictly
    better-locality alternative to :func:`zorder_key`: CONSECUTIVE
    Hilbert indices are always grid neighbors (|Δx|+|Δy| = 1), so a
    range of keys maps to one compact blob instead of Morton's Z-shaped
    jumps, which tightens per-file min/max bounds for 2-D box
    predicates (the zone-map/skipping payoff).

    Classic per-level rotate/flip state machine (public — Hamilton
    2006 / the well-known xy2d recipe): for s = 2^(bits-1)..1 take one
    bit from each coordinate, accumulate s²·((3·rx) XOR ry), then
    rotate the frame (flip with n-1-coordinate so values stay in
    [0, n); already-consumed high bits are flipped too but never read
    again).  Each level is materialized as its own small projection —
    the per-level expressions reference the previous level's COLUMNS
    several times, and Spark's CollapseProject keeps non-cheap
    multiply-referenced aliases un-inlined, so the plan stays linear
    in ``bits`` instead of 3^bits (the winnowing lesson).

    Inputs must be non-negative; values ≥ 2^bits wrap (same contract
    as zorder_key — callers bucket first).  ``bits ≤ 10`` keeps the
    unrolled ORACLE replay of the same algebra tractable in any
    engine; 2^10 × 2^10 cells is far beyond file-level clustering
    needs.  Pure integer Catalyst arithmetic, bit-identical
    cross-engine; NO shuffle — this is a scan-stage expression chain,
    the layout shuffle happens in the writer that sorts by the key.
    """
    if not 1 <= bits <= 10:
        raise ValueError(f"bits must be in [1, 10], got {bits}")
    n = 1 << bits
    mask = n - 1
    d = (df.withColumn("__hx",
                       F.col(x_col).cast("long").bitwiseAND(F.lit(mask)))
           .withColumn("__hy",
                       F.col(y_col).cast("long").bitwiseAND(F.lit(mask)))
           .withColumn("__hd", F.lit(0).cast("long")))
    for b in range(bits - 1, -1, -1):
        s = 1 << b
        rx = F.shiftright(F.col("__hx"), b).bitwiseAND(F.lit(1))
        ry = F.shiftright(F.col("__hy"), b).bitwiseAND(F.lit(1))
        flip = (ry == 0) & (rx == 1)
        swap = ry == 0
        nd = (F.col("__hd")
              + F.lit(s * s) * (rx * 3).bitwiseXOR(ry))
        fx = F.when(flip, F.lit(mask) - F.col("__hx")).otherwise(
            F.col("__hx"))
        fy = F.when(flip, F.lit(mask) - F.col("__hy")).otherwise(
            F.col("__hy"))
        nx = F.when(swap, fy).otherwise(F.col("__hx"))
        ny = F.when(swap, fx).otherwise(F.col("__hy"))
        d = (d.withColumn("__hd2", nd)
              .withColumn("__hx2", nx).withColumn("__hy2", ny)
              .drop("__hd", "__hx", "__hy")
              .withColumnRenamed("__hd2", "__hd")
              .withColumnRenamed("__hx2", "__hx")
              .withColumnRenamed("__hy2", "__hy"))
    return (d.withColumnRenamed("__hd", out)
             .drop("__hx", "__hy"))


def hilbert_oracle_sql(x_expr: str, y_expr: str, *, bits: int = 8,
                       source: str) -> str:
    """Generate the DuckDB replay of :func:`with_hilbert_key` — the
    identical per-level integer algebra as an unrolled CTE chain with
    UNIQUE per-level column names (a reused alias inside one SELECT is
    ambiguous between the base column and the lateral alias), so a
    correctness gate can diff the Spark expression chain against an
    independent engine's evaluation of the same public recipe.
    Returns a query whose final column ``hkey`` is the Hilbert index;
    callers wrap it as a CTE/subquery."""
    n = 1 << bits
    mask = n - 1
    parts = [
        f"SELECT *, CAST(({x_expr}) AS BIGINT) & {mask} AS hx{bits}, "
        f"CAST(({y_expr}) AS BIGINT) & {mask} AS hy{bits}, "
        f"CAST(0 AS BIGINT) AS hd{bits} FROM {source}"]
    for b in range(bits - 1, -1, -1):
        s = 1 << b
        p = b + 1
        parts.append(
            f"SELECT * EXCLUDE (hx{p}, hy{p}, hd{p}), "
            f"CASE WHEN ((hy{p} >> {b}) & 1) = 0 THEN "
            f"CASE WHEN ((hx{p} >> {b}) & 1) = 1 THEN {mask} - hy{p} "
            f"ELSE hy{p} END ELSE hx{p} END AS hx{b}, "
            f"CASE WHEN ((hy{p} >> {b}) & 1) = 0 THEN "
            f"CASE WHEN ((hx{p} >> {b}) & 1) = 1 THEN {mask} - hx{p} "
            f"ELSE hx{p} END ELSE hy{p} END AS hy{b}, "
            f"hd{p} + {s * s} * xor(((hx{p} >> {b}) & 1) * 3, "
            f"(hy{p} >> {b}) & 1) AS hd{b} FROM ({parts.pop()})")
    return (f"SELECT * EXCLUDE (hx0, hy0, hd0), hd0 AS hkey "
            f"FROM ({parts.pop()})")


def write_hilbert_ordered(df: DataFrame, path: str, *, x_col: str,
                          y_col: str, bits: int = 8, num_files: int = 8,
                          hcol: str = "uv_hkey") -> None:
    """Materialize a Hilbert-ordered parquet layout (the 2-D sibling of
    :func:`write_zordered` with strictly better locality — see
    :func:`with_hilbert_key`): compute the key, range-partition on it
    (non-overlapping key ranges per file) and sort within files.  Each
    file's rows then cover one contiguous curve segment, and a curve
    segment is a COMPACT blob in (x, y) — so per-file min/max stats
    (the zone-map/skipping granule) are tight on BOTH dimensions at
    once.  One ingest-time shuffle, same cost as Z-ordering."""
    keyed = with_hilbert_key(df, x_col, y_col, bits=bits, out=hcol)
    (keyed.repartitionByRange(num_files, hcol)
          .sortWithinPartitions(hcol)
          .write.mode("overwrite").parquet(path))
