"""Physical-plan assertions (SURVEY.md §4): pushdown, pruning,
broadcast choice, and shuffle census for the core operators.  These
guard the 100 TB properties that small-SF correctness tests can't see.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ultraviolet_spark.functions.udfs import extract_stage
from ultraviolet_spark.operators.asof import asof_join


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def tables(spark, sf_dir):
    return {
        n: spark.read.parquet(f"{sf_dir}/{n}.parquet")
        for n in ("customer", "nation", "region", "orders", "lineitem", "events")
    }


def test_filter_pushdown_reaches_parquet_scan(tables):
    df = tables["lineitem"].filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]" in plan


def test_column_pruning_reaches_scan(tables):
    df = tables["lineitem"].select("l_orderkey", "l_quantity")
    plan = _plan(df)
    # ReadSchema must carry only the two projected columns
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_extendedprice" not in read


def test_pruning_through_extract_stage(spark, pages_path):
    # other modules cache this parquet; a cache hit would swap the scan
    # for InMemoryTableScan and hide the ReadSchema under inspection
    spark.catalog.clearCache()
    pages = spark.read.parquet(pages_path)
    # the golden `text` column is always dropped from the UDF input
    plan = _plan(extract_stage(pages).select("url", "text"))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "html" in read and "text" not in read
    # a mapInArrow stage is opaque to Catalyst pruning, so callers
    # select-early (SURVEY.md §4); the scan then shrinks accordingly
    slim = extract_stage(pages.select("url", "warc_ts", "html"))
    read2 = [ln for ln in _plan(slim).splitlines() if "ReadSchema" in ln][0]
    assert "lang" not in read2 and "html" in read2


def test_broadcast_join_for_small_dims(tables):
    df = (
        tables["customer"]
        .join(F.broadcast(tables["nation"]),
              tables["customer"].c_nationkey == tables["nation"].n_nationkey)
        .join(F.broadcast(tables["region"]),
              F.col("n_regionkey") == tables["region"].r_regionkey)
        .groupBy("r_name").count()
    )
    plan = _plan(df)
    # both joins broadcast (each node appears in tree + detail section)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def _executed_nodes(df) -> list:
    """Every operator of ``df``'s executed plan, descending through AQE
    stages and into each cached plan once."""
    jvm = df._sc._jvm
    python_node = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.python.PythonSQLMetrics")
    seen, nodes = set(), []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        kind = p.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        if kind == "InMemoryTableScanExec":
            cached = p.relation().cacheBuilder().cachedPlan()
            if jvm.System.identityHashCode(cached) not in seen:
                seen.add(jvm.System.identityHashCode(cached))
                stack.append(cached)
        nodes.append("Python" if python_node.isInstance(p) else kind)
        stack.extend(p.children().apply(i) for i in range(p.children().size()))
    return nodes


def test_asof_join_single_exchange_per_side(tables):
    ev = tables["events"]
    left = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("pv"))
    out = asof_join(left, right, on="ts", by="user_id", value_cols=["pv"])
    plan = _plan(out)
    # one hash exchange under the side-tagged union, nothing else moves
    # data, and the join never leaves the JVM
    assert plan.count(") Exchange") <= 2
    assert "hashpartitioning" in plan and "rangepartitioning" not in plan
    out.collect()
    assert "Python" not in _executed_nodes(out)


def test_flagship_plan_one_exchange_one_python_node(spark, pages_path):
    """The executed flagship: the features' url exchange is the only
    shuffle — the as-of window reuses its partitioning — and the extract
    MapInArrow is the only Python node."""
    from ultraviolet_spark.pipeline import flagship_enriched

    out = flagship_enriched(spark.read.parquet(pages_path))
    try:
        out.collect()
        nodes = _executed_nodes(out)
    finally:
        spark.catalog.clearCache()
    assert nodes.count("ShuffleExchangeExec") == 1, nodes
    assert nodes.count("Python") == 1, nodes


def test_whole_stage_codegen_on_relational_core(spark, tables):
    # AQE defers codegen planning until runtime; disable it to inspect
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = (
            tables["orders"].join(tables["customer"],
                                  F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("c_mktsegment").agg(F.sum("o_totalprice"))
        )
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "codegen")
        assert "Found 0 WholeStageCodegen" not in plan
        assert "WholeStageCodegen subtrees" in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_aggregate_is_partial_then_final(tables):
    df = tables["lineitem"].groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = _plan(df)
    # map-side combine: two HashAggregates split by one exchange
    assert plan.count(") HashAggregate") == 2
    assert plan.count(") Exchange") == 1
