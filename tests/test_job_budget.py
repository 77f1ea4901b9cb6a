"""Spark-job budgets on the query read path: the schema memo in
``readers.read_table``, the literal-array PCA power iteration and the
closed-form ancestor walk. Jobs are counted per job group through the
status tracker."""

from __future__ import annotations

from tests.conftest import SF_DIR


def _jobs_in(spark, group, fn):
    """Run ``fn`` under a job group; return (its result, jobs launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_read_table_launches_no_job(spark):
    from etl_jobs_spark.sources.readers import read_table

    for name in ("embeddings", "events"):
        first = read_table(spark, SF_DIR, name)
        again, jobs = _jobs_in(
            spark, f"read_table_{name}", lambda: read_table(spark, SF_DIR, name)
        )
        assert jobs == 0, (name, jobs)
        assert again.schema == first.schema


def test_read_table_rewritten_with_new_schema_is_reinferred(spark, tmp_path):
    from etl_jobs_spark.sources.readers import read_table

    d = str(tmp_path)
    spark.range(3).write.parquet(f"{d}/t.parquet")
    assert read_table(spark, d, "t").columns == ["id"]
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s").write.mode(
        "overwrite"
    ).parquet(f"{d}/t.parquet")
    back = read_table(spark, d, "t")
    assert back.dtypes == [("id", "bigint"), ("s", "string")]
    assert sorted(r["s"] for r in back.collect()) == ["0", "1", "2"]


def test_pca_power_iter_warm_job_budget(spark):
    """Three power iterations are three corpus passes; a warm
    execution (memos filled) stays within 8 Spark jobs."""
    from etl_jobs_spark import cache
    from etl_jobs_spark.registry import all_queries

    pca = all_queries()["embed_pca_power_iter"]
    pca(spark, SF_DIR).collect()
    cache.release_all()
    rows, jobs = _jobs_in(spark, "pca_warm", lambda: pca(spark, SF_DIR).collect())
    cache.release_all()
    assert rows
    assert jobs <= 8, jobs


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_recursive_cte_hierarchy_warm_job_budget(spark):
    """The ancestor walk is one plan: a warm execution stays within 8
    Spark jobs (the native WITH RECURSIVE form ran one query execution
    per level, 19 jobs at sf0.001) and runs no UnionLoop."""
    from etl_jobs_spark import cache
    from etl_jobs_spark.registry import all_queries

    rcte = all_queries()["recursive_cte_hierarchy"]
    rcte(spark, SF_DIR).collect()
    cache.release_all()

    def run():
        df = rcte(spark, SF_DIR)
        return df, df.collect()

    (df, rows), jobs = _jobs_in(spark, "rcte_warm", run)
    plan = _executed_plan(df)
    cache.release_all()
    assert rows
    assert jobs <= 8, jobs
    assert "UnionLoop" not in plan


def test_graph_reachability_sql_keeps_native_recursion(spark):
    """``graph_reachability_sql`` shares its SQL text with its oracle, so
    it stays the one native WITH RECURSIVE path."""
    from etl_jobs_spark import cache
    from etl_jobs_spark.registry import all_queries

    df = all_queries()["graph_reachability_sql"](spark, SF_DIR)
    df.collect()
    plan = _executed_plan(df)
    cache.release_all()
    assert "UnionLoop" in plan
