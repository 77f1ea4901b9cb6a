"""Plan-quality regression tests.

``test_plan_matches_census`` checks the plan fingerprint of every
benched query (``operators.observability.plan_fingerprint``: shuffles,
join strategies, top-k, windows, dynamic pruning, scans per table)
against its line in docs/PLAN_CENSUS.json: a change that silently
loses a broadcast, the top-k operator or a map-only shape fails here,
not in a 100 TB run. The hand-written tests check what a fingerprint
cannot carry (pushed filter content, the read schema, node order, a
runtime AQE skew split, optimized-plan shapes) or queries outside the
census."""

from __future__ import annotations

import json
import re

import pytest

from bench import CENSUS
from etl_jobs_spark import registry
from etl_jobs_spark.queries.relational import q1_pricing_summary
from scripts.plan_census import CENSUS_PATH, COMMAND, fingerprint
from tests.conftest import SF_DIR

_CENSUS = json.loads(CENSUS_PATH.read_text())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", CENSUS)
def test_plan_matches_census(spark, name):
    if SF_DIR != _CENSUS["sf_dir"]:
        pytest.skip(f"the plan census is built at {_CENSUS['sf_dir']}, not {SF_DIR}")
    got = fingerprint(spark, registry.all_queries()[name], SF_DIR)
    want = _CENSUS["queries"].get(name, {})
    diff = {
        k: f"{want.get(k, 0)} -> {got.get(k, 0)}"
        for k in sorted(set(want) | set(got))
        if want.get(k) != got.get(k)
    }
    assert got == want, (
        f"{name}'s plan differs from the census (census -> now): {diff}."
        f" If the change is meant, regenerate it: {COMMAND}"
    )


def test_q1_filter_reaches_scan(spark):
    plan = _plan(q1_pricing_summary(spark, SF_DIR))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("LessThanOrEqual(l_shipdate" in p for p in pushed), pushed


def test_q1_scan_prunes_columns(spark):
    plan = _plan(q1_pricing_summary(spark, SF_DIR))
    # plan toString truncates long lines — capture to end of line
    m = re.search(r"ReadSchema: struct<([^\n]*)", plan)
    assert m, plan[:1500]
    cols = m.group(1)
    # the needed measure columns lead; the unneeded 16-column tail
    # (partkey/suppkey/comment/...) is pruned away
    assert cols.startswith("l_quantity:double,l_extendedprice:double"), cols
    assert "l_comment" not in cols and "l_partkey" not in cols, cols


def test_range_band_broadcasts_nlj(spark):
    """Small band table: the inequality join is a broadcast
    nested-loop probe (correct at this size)."""
    from etl_jobs_spark.queries.temporal import join_range_band

    plan = _plan(join_range_band(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan, plan[:1500]


def test_star_shuffle_hash_hint_respected(spark):
    """The SHUFFLE_HASH hint must produce ShuffledHashJoin for the
    hinted dims (no sort of the fact side) while the tiny dims still
    broadcast."""
    from etl_jobs_spark.queries.relational import join_star_shuffle_hash

    plan = _plan(join_star_shuffle_hash(spark, SF_DIR))
    assert "ShuffledHashJoin" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan  # nation/region still broadcast
    assert "SortMergeJoin" not in plan


def test_q2_semi_join_precedes_fact_agg(spark):
    """q2_min_cost_supplier: the selective part filter reaches the
    fact side as a broadcast LEFT SEMI join BEFORE the (partkey,
    suppkey) aggregation, and all dims broadcast."""
    from etl_jobs_spark.queries.tpch_plus import q2_min_cost_supplier

    plan = _plan(q2_min_cost_supplier(spark, SF_DIR))
    semi = plan.lower().index("leftsemi")
    agg = plan.lower().index("hashaggregate")
    # executedPlan prints top-down: the aggregate appears above
    # (before) the semi join that feeds it
    assert semi > agg, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]


def test_aqe_splits_skewed_join_partition(spark):
    """The OTHER half of the skew story: join_salted_skew handles
    skew by construction; this pins that AQE's runtime skew-join
    split fires when a hot key concentrates a shuffle partition
    (thresholds scaled down to fixture size — at production scale
    the defaults play the same role). Loses this and a 100 TB hot
    key serializes one reducer."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(400000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7))
            .otherwise(F.col("id") % 997)
            .alias("k"),
            F.concat(F.lit("payload-payload-payload-"), F.col("id")).alias(
                "payload"
            ),
        )
        right = spark.range(997).select(
            F.col("id").alias("k"), F.lit("dim").alias("name")
        )
        j = left.join(right.hint("merge"), "k")
        assert len(j.collect()) == 400000
        plan = _plan(j)  # final adaptive plan after execution
        assert "isFinalPlan=true" in plan, plan[:500]
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_triangle_census_is_intersect_not_wedge_join(spark):
    """Round-9 census lock: triangle counting must attach the
    memoized out-adjacency to each oriented edge and intersect
    map-side — NOT materialize wedges through an e1⋈e2⋈e3
    self-join (the shape that cost ~6s/round at sf0.1). The plan
    must contain array_intersect and must NOT join the edge table
    to itself on v=u (the wedge-producing condition)."""
    from etl_jobs_spark.queries.graph_analytics import (
        graph_triangle_count,
    )

    df = graph_triangle_count(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "array_intersect" in plan, plan[:2000]
    # two adjacency joins, zero edge-edge wedge joins: every join in
    # the census has an array-typed build side (the nbrs column)
    assert "nbrs" in plan
    df.count()  # and it still executes


def test_gram_novelty_uses_single_slot_pass(spark):
    """Round-9 novelty lock: first-appearance comes from a window
    MIN over the gram key — ONE evaluation of the
    normalize→explode→distinct slot lineage. The old groupBy +
    self-join shape evaluated it twice; its signature was a join on
    gh between two Aggregate subtrees. The optimized plan must
    contain a Window node and no Join at all."""
    from etl_jobs_spark.queries.dedup import (
        dedup_gram_novelty_by_source,
    )

    df = dedup_gram_novelty_by_source(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_er_audit_is_two_keyed_shuffles_no_join(spark):
    """Round-10 lock: er_block_cap_audit must stay a map-only
    variant explode → groupBy(hash) → single-row conditional
    aggregate — two keyed exchanges on 8-byte keys, NO join of any
    kind and no window (a rewrite through either would drag the
    text column or a per-block sort through the shuffle)."""
    from etl_jobs_spark.queries.warehouse_ext import er_block_cap_audit

    df = er_block_cap_audit(spark, SF_DIR)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in opt, opt[:2000]
    assert "Window" not in opt, opt[:2000]
    plan = _plan(df)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2, plan[:2000]
    df.count()


def test_sketch_audit_single_fact_scan_family(spark):
    """Round-10 lock (round-11 update): agg_sketch_accuracy_audit
    reads events through exactly four aggregate passes — combined
    exact+approx, the STANDALONE hll_direct aggregate (split out in
    round 11: the multi-distinct Expand rewrite silently drops a
    coalesce over the empty-corpus NULL estimate), per-type sketch
    rollup, rank rejoin — every join a broadcast of a 1-row side
    (scalar rejoin), never a shuffle join."""
    from etl_jobs_spark.queries.analytics_ext import (
        agg_sketch_accuracy_audit,
    )

    df = agg_sketch_accuracy_audit(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") <= 5, plan[:2000]
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    df.count()
