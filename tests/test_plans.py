"""Plan-quality regression tests: the physical plans the 100 TB design
depends on (pushdown, pruning, broadcast, top-k) must not silently
degrade. (SCALE.md documents why each property matters.)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_kafka_streaming_spark.logging_utils import set_spark_log_level, stderr_to
from spark_kafka_streaming_spark.operators.skew import (
    salted_broadcast_join,
    salted_sum_count,
)
from spark_kafka_streaming_spark.queries import REGISTRY
from spark_kafka_streaming_spark.sources.batch import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q01_pushes_filter_and_prunes_columns(spark, sf_dir):
    df = REGISTRY["q01_pricing_summary"].builder(spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_orderkey" not in read, "column pruning lost: reading unused key"
    assert "l_quantity" in read


def test_q05_joins_are_all_broadcast(spark, sf_dir):
    df = REGISTRY["q05_local_supplier_volume"].builder(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan, "a dim join degraded to sort-merge"


def test_sort_limit_plans_take_ordered(spark, sf_dir):
    df = REGISTRY["q_sort_limit_top_lineitems"].builder(spark, sf_dir)
    assert "TakeOrderedAndProject" in _plan(df), (
        "top-k degraded to a global sort"
    )


def test_similarity_corpus_not_shuffled(spark, sf_dir):
    df = REGISTRY["q_similarity_topk_bruteforce"].builder(spark, sf_dir)
    plan = _plan(df)
    # The corpus streams through the batch-matmul kernel straight off
    # the scan — everything below the MapInPandas node (its subtree,
    # printed after it) must be shuffle-free; the only Exchange allowed
    # is the tiny |Q|·k-row candidate window above it.
    assert "MapInPandas" in plan
    below = plan.split("MapInPandas", 1)[1]
    assert "Exchange" not in below, "corpus shuffled before scoring"


def test_salted_broadcast_join_matches_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_suppkey", "s_suppkey"
    )
    supp = load_table(spark, sf_dir, "supplier")
    plain = (
        li.join(supp, "s_suppkey")
        .groupBy("s_name")
        .agg(F.count("*").alias("n"))
    )
    salted = (
        salted_broadcast_join(li, supp, "s_suppkey", n_salts=8)
        .groupBy("s_name")
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salted_sum_matches_plain(spark, sf_dir):
    from spark_kafka_streaming_spark.functions.exact import dec

    li = load_table(spark, sf_dir, "lineitem")
    plain = {
        r.l_returnflag: (float(r.t), r.n)
        for r in li.groupBy("l_returnflag")
        .agg(F.sum(dec("l_quantity")).alias("t"), F.count("*").alias("n"))
        .collect()
    }
    salted = {
        r.l_returnflag: (float(r.total), r.n)
        for r in salted_sum_count(
            li, ["l_returnflag"], dec("l_quantity"), n_salts=8
        ).collect()
    }
    assert plain == salted


def test_logging_utils(spark, tmp_path):
    set_spark_log_level(spark, "WARN")
    import sys

    log = str(tmp_path / "err.log")
    with stderr_to(log):
        print("captured-line", file=sys.stderr)
    with stderr_to(None):
        print("vanishes", file=sys.stderr)
    assert "captured-line" in open(log).read()


def test_vocab_topk_plans_take_ordered(spark, sf_dir):
    df = REGISTRY["q_text_vocab_topk"].builder(spark, sf_dir)
    assert "TakeOrderedAndProject" in _plan(df), (
        "vocab top-k degraded to a global sort"
    )


def test_quality_pipeline_is_single_scan(spark, sf_dir):
    """The cleaning pipeline must fuse scoring+filters into the scan
    stage: exactly one Exchange (the final groupBy) and no join."""
    df = REGISTRY["q_pipeline_quality_filter"].builder(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange") <= 2  # partial->final agg + ordering
    assert "Join" not in plan


def test_bm25_single_pass_top_k(spark, sf_dir):
    """BM25's plan contract: ranking via TakeOrderedAndProject (never a
    global sort), corpus stats as a broadcast (the only nested-loop is
    the 1-row stats attach), and ONE aggregate pass computing dl plus
    every per-term tf together (no tf⋈dl self-join of the corpus)."""
    df = REGISTRY["q_text_bm25_search"].builder(spark, sf_dir)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # 1-row stats attach
    assert "SortMergeJoin" not in plan


def test_not_in_plans_null_aware_broadcast(spark, sf_dir):
    """The NOT-IN-with-NULLs leg must plan as a null-aware broadcast
    anti join (BroadcastHashJoin LeftAnti with the isNullAware flag),
    not the quadratic BroadcastNestedLoopJoin fallback."""
    df = REGISTRY["q_subquery_not_in_null_aware"].builder(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    naaj = re.findall(r"BroadcastHashJoin .*LeftAnti, BuildRight, true", plan)
    assert naaj, "null-aware anti join flag missing from the NOT IN leg"


def test_zorder_metric_has_no_global_sort(spark, sf_dir):
    """VERDICT r3 #6: the layout metric must share the shipped writer's
    plan shape — value-range bucket tags, never a total-order sort of
    the fact (the final 2-row ORDER BY on layout is fine)."""
    df = REGISTRY["q_layout_zorder"].builder(spark, sf_dir)
    plan = _plan(df)
    assert "Window" not in plan  # the old NTILE total order
    # the only sort allowed is the final 2-group presentation sort
    assert plan.count("Exchange rangepartitioning") <= 1


def test_mad_hist_everything_after_first_agg_is_sketch_sized(spark, sf_dir):
    """The histogram MAD's one-scan contract: every consumer branch
    (count, median, deviation regroup, MAD, outliers) reads the
    persisted cents/deviation histograms via InMemoryTableScan — the
    fact table is materialized once and the rest of the plan runs on
    histogram-sized cached data.  (The plan STRING still prints the
    parquet lineage inside each InMemoryRelation, so counting raw scan
    substrings would be meaningless.)"""
    df = REGISTRY["q_events_anomaly_mad_hist"].builder(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("InMemoryTableScan") >= 4, (
        "histogram consumers bypassed the persisted histogram"
    )


def test_cdc_merge_is_single_join(spark, sf_dir):
    """MERGE semantics compile to ONE full-outer join of snapshot and
    changes (plus the derivation scans) — no repeated snapshot joins."""
    df = REGISTRY["q_cdc_apply_changes"].builder(spark, sf_dir)
    plan = _plan(df)
    assert (
        plan.count("FullOuter") == 1
        or plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") >= 1
    )
