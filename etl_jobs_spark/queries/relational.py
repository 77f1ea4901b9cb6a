"""Relational query declarations (SURVEY §7 step 4 breadth)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_jobs_spark.operators import money as M
from etl_jobs_spark.operators import relational as R
from etl_jobs_spark.registry import register
from etl_jobs_spark.sources.readers import read_table
# Registration order: the driver's correctness sweep walks the
# registry in registration order and may not reach the tail each
# round -- queries still lacking a green driver row register first.

def _bucketed_tables(spark, sf_dir):
    """One bucketed table pair per (session, corpus) — the layout is
    built once (like a real warehouse) and every co-located join
    reuses it."""
    import hashlib

    from etl_jobs_spark.scratch import scratch_dir

    from etl_jobs_spark.queries._shared import session_memo

    def build():
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        base = scratch_dir("bucketed")
        names = (f"orders_b_{tag}", f"customer_b_{tag}")
        for name, tbl, bcol in (
            (names[0], "orders", "o_custkey"),
            (names[1], "customer", "c_custkey"),
        ):
            (
                read_table(spark, sf_dir, tbl)
                .write.bucketBy(8, bcol)
                .sortBy(bcol)
                .option("path", str(base / name))
                .mode("overwrite")
                .saveAsTable(name)
            )
        return names

    return session_memo(spark, "bucketed_tables", sf_dir, build)


@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_bucketed_colocated(spark, sf_dir):
    """Co-located join via storage layout: both sides written
    ``bucketBy(8, custkey).sortBy(custkey)``, so the sort-merge join
    consumes bucket files directly — NO Exchange (and no sort) on
    either join side; the only shuffle in the plan is the final
    segment aggregation. THE layout lever for repeated big-big joins
    at 100 TB: pay one bucketed write, then every join on that key
    skips its shuffle (tests/test_bucketed_join.py asserts the
    single-Exchange plan). The ``merge`` hint pins the sort-merge
    strategy so the plan demonstrates the bucketed path rather than
    a small-dim broadcast shortcut (at real scale both sides are too
    big to broadcast anyway)."""
    orders_t, customer_t = _bucketed_tables(spark, sf_dir)
    o = spark.table(orders_t).select("o_custkey", "o_totalprice")
    c = spark.table(customer_t).select("c_custkey", "c_mktsegment").hint("merge")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            M.dsum("o_totalprice").alias("total_price"),
        )
    )


@register(
    "join_salted_skew",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(e.value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_salted_skew(spark, sf_dir):
    """Skew-resistant fact-dim join via key salting: the fact side
    carries a deterministic salt (event_id mod R), the dim side is
    replicated R ways (crossJoin with the salt range — R× a dim is
    cheap; R× a hot fact key is the win), and the join key becomes
    (key, salt) so ONE hot key's rows spread over R shuffle
    partitions instead of hammering one reducer. Same answer as the
    plain join (the oracle); different physical distribution — the
    join-side counterpart of agg_salted_events, for when AQE's
    skew-join split can't kick in (e.g. pre-AQE stages, or
    deliberately partitioned outputs)."""
    R = 8
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "value", (F.col("event_id") % R).cast("int").alias("salt")
    )
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    salts = spark.range(R).select(F.col("id").cast("int").alias("salt"))
    cust_rep = cust.crossJoin(salts)
    return (
        ev.join(
            cust_rep,
            (ev.user_id == cust_rep.c_custkey) & (ev.salt == cust_rep.salt),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            M.dsum("value").alias("total_value"),
        )
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT event_type, user_id % 5 AS user_band,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY GROUPING SETS ((event_type), (user_id % 5), ())
    -- Spark empty-relation semantics pinned (see agg_rollup_time)
    HAVING count(*) > 0
    """,
)
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the lattice rollup/cube generalize):
    three aggregation granularities in ONE shuffle pass via the
    Expand operator — at 100 TB this replaces three separate scans
    with one, the same machinery behind agg_rollup_time/
    agg_cube_events but with a hand-picked set list."""
    from etl_jobs_spark.queries._shared import scoped_view

    ev = read_table(spark, sf_dir, "events")
    v = scoped_view(ev, "events_gs", sf_dir)  # dataset-scoped: axis 9
    return spark.sql(
        f"""
        SELECT event_type, user_id % 5 AS user_band,
               CAST(count(*) AS BIGINT) AS n,
               CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
        FROM {v}
        GROUP BY GROUPING SETS ((event_type), (user_id % 5), ())
        """
    )


@register(
    "agg_salted_events",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)     AS total_value,
           {M.davg_sql("value")} AS avg_value
    FROM events
    GROUP BY event_type
    """,
)
def agg_salted_events(spark, sf_dir):
    """Two-phase salted aggregation — same answer as a direct
    groupBy (the oracle), different physical plan (skew-resistant)."""
    return R.salted_agg_events(read_table(spark, sf_dir, "events"))


@register(
    "agg_histogram_value",
    oracle="""
    SELECT CASE WHEN NOT isnan(value) AND abs(value) < 1e18
                THEN CAST(floor(value / 25) AS BIGINT) END AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(value), 2) AS lo, round(max(value), 2) AS hi
    FROM events GROUP BY 1
    """,
)
def agg_histogram_value(spark, sf_dir):
    """Equal-width histogram via arithmetic bucketing — an equi-key
    groupBy (scale-invariant), not a sort or range join."""
    ev = read_table(spark, sf_dir, "events")
    # out-of-domain values (NaN/inf, or beyond the BIGINT-bucketable
    # range) land in the NULL 'other' bucket on BOTH engines — the
    # bare floor/cast would silently saturate in Spark and hard-error
    # in DuckDB (round-11 extremes axis)
    bucketable = (
        ~F.isnan(F.col("value"))
        & (F.abs(F.col("value")) < F.lit(1e18))
    )
    return ev.groupBy(
        F.when(bucketable, F.floor(F.col("value") / 25).cast("long"))
        .alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 2).alias("lo"),
        F.round(F.max("value"), 2).alias("hi"),
    )


@register(
    "join_semi_anti",
    oracle="""
    SELECT c.c_custkey, 'has_urgent' AS status FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
    UNION ALL
    SELECT c.c_custkey, 'no_orders' AS status FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi_anti(spark, sf_dir):
    """Left-semi and left-anti joins (EXISTS / NOT EXISTS): existence
    checks that never materialize the right side's columns — at scale
    the build side ships only its join keys."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    orders = read_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    any_o = orders.select(F.col("o_custkey").alias("c_custkey"))
    semi = cust.join(urgent, "c_custkey", "left_semi").select(
        "c_custkey", F.lit("has_urgent").alias("status")
    )
    anti = cust.join(any_o, "c_custkey", "left_anti").select(
        "c_custkey", F.lit("no_orders").alias("status")
    )
    return semi.unionByName(anti)


@register(
    "window_ntile_quartiles",
    oracle="""
    SELECT event_id, event_type,
           CAST(ntile(4) OVER (PARTITION BY event_type
                               ORDER BY value ASC NULLS FIRST,
                                        event_id ASC) AS BIGINT)
             AS quartile
    FROM events
    """,
)
def window_ntile_quartiles(spark, sf_dir):
    """ntile bucketing per group (quartile assignment) — rank-family
    window with a deterministic tiebreak. Null ordering is EXPLICIT
    (NULLS FIRST on both engines): Spark's ASC default is NULLS
    FIRST but DuckDB's is NULLS LAST, so a nullable rank key silently
    permutes buckets cross-engine unless pinned (null-injection
    differential, round 10)."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_first(), F.col("event_id").asc()
    )
    return ev.select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT)   AS n_last_hour,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))) OVER w, 2) AS DOUBLE)       AS sum_last_hour
    FROM (SELECT event_id, user_id, value,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def window_range_frame(spark, sf_dir):
    """Time-RANGE window frame: per-user rolling 1-hour count/sum —
    the sliding-aggregate shape rows-frames can't express (frame
    bounds are in event-time units, not row counts). Spark range
    frames need a numeric sort key, so BOTH engines order by floored
    epoch seconds with a [-3600, 0] frame — an exact-INTERVAL oracle
    would disagree on sub-second boundary pairs."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.round(F.sum(F.col("value").cast(M.DEC2)).over(w), 2)
        .cast("double")
        .alias("sum_last_hour"),
    )


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)                                          AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)                                     AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(18,2))), 2) AS DOUBLE)                  AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(18,2)) * CAST((1 + l_tax) AS DECIMAL(18,2))), 2) AS DOUBLE)    AS sum_charge,
           {M.davg_sql("l_quantity")}                                         AS avg_qty,
           {M.davg_sql("l_extendedprice")}                                    AS avg_price,
           {M.davg_sql("l_discount")}                                         AS avg_disc,
           count(*)                                                           AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: the shipdate filter is pushed down to a
    column-pruned scan and the aggregate runs partial then final."""
    return R.pricing_summary(read_table(spark, sf_dir, "lineitem"))


@register(
    "join_star_revenue",
    oracle="""
    SELECT r_name AS region_name, n_name AS nation_name,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
           count(*)                                          AS n_lineitems,
           count(DISTINCT o_orderkey)                        AS n_orders
    FROM lineitem
    JOIN orders   ON l_orderkey  = o_orderkey
    JOIN customer ON o_custkey   = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def join_star_revenue(spark, sf_dir):
    """Star join: the small dims broadcast, so the fact side never
    shuffles for a join."""
    return R.star_join_revenue(
        read_table(spark, sf_dir, "lineitem"),
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "nation"),
        read_table(spark, sf_dir, "region"),
    )


@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def topk_orders(spark, sf_dir):
    """Global top-k that compiles to TakeOrderedAndProject: no full
    sort."""
    return R.top_orders(read_table(spark, sf_dir, "orders"), k=10)


@register(
    "window_rank_events",
    oracle="""
    SELECT user_id, event_id, event_type, value, rnk FROM (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id ASC) AS rnk
      FROM events)
    WHERE rnk <= 3
    """,
)
def window_rank_events(spark, sf_dir):
    return R.window_rank_events(read_table(spark, sf_dir, "events"), k=3)


@register(
    "window_running_sum",
    oracle="""
    SELECT user_id, event_id,
           CAST(round(sum(CAST(value AS DECIMAL(18,2)))
                      OVER (PARTITION BY user_id
                            ORDER BY ts ASC, event_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW), 6)
                AS DOUBLE) AS running_value
    FROM events
    """,
)
def window_running_sum(spark, sf_dir):
    return R.window_running_sum(read_table(spark, sf_dir, "events"))


@register(
    "setop_union_all",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    UNION ALL
    SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def setop_union_all(spark, sf_dir):
    """Union-all of two filtered scans (ref: pd.concat
    src/etl_2020.py:157 — Qkey setop_union_all)."""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    return R.union_all(
        cust.filter(F.col("c_mktsegment") == "AUTOMOBILE"),
        cust.filter(F.col("c_mktsegment") == "BUILDING"),
    )


@register(
    "setop_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    """,
)
def setop_intersect(spark, sf_dir):
    """Customers with both urgent and low-priority orders."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .intersect(o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey"))
    )


@register(
    "setop_except",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def setop_except(spark, sf_dir):
    """Customers with no orders (EXCEPT distinct semantics)."""
    return (
        read_table(spark, sf_dir, "customer")
        .select("c_custkey")
        .exceptAll(
            read_table(spark, sf_dir, "orders")
            .select(F.col("o_custkey").alias("c_custkey"))
        )
        .distinct()
    )


@register(
    "json_extract_props",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract(props, '$.k') AS INTEGER) AS props_k
    FROM events
    """,
)
def json_extract_props(spark, sf_dir):
    return R.extract_json_props(read_table(spark, sf_dir, "events"))


@register(
    "agg_events_by_type",
    oracle=f"""
    SELECT event_type,
           count(*)                   AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)       AS total_value,
           {M.davg_sql("value")} AS avg_value,
           count(DISTINCT user_id)    AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def agg_events_by_type(spark, sf_dir):
    return R.grouped_agg_events(read_table(spark, sf_dir, "events"))


@register(
    "join_star_shuffle_hash",
    oracle="""
    SELECT r_name AS region_name, n_name AS nation_name,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1 - l_discount) AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
           count(*)                                          AS n_lineitems,
           count(DISTINCT o_orderkey)                        AS n_orders
    FROM lineitem
    JOIN orders   ON l_orderkey  = o_orderkey
    JOIN customer ON o_custkey   = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def join_star_shuffle_hash(spark, sf_dir):
    """The star join under an explicit SHUFFLE_HASH strategy hint on
    the orders/customer sides — the plan a cluster runs when a
    dimension outgrows the broadcast threshold but is still far
    smaller than the fact (hash-build the small side per partition;
    no sort of the big side, unlike sort-merge). Identical answer to
    join_star_revenue (same oracle), different physical strategy —
    the point is that strategy choice is a per-join knob the engine
    exposes, not a global fate. Plan asserted in
    tests/test_plan_quality.py."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").hint("SHUFFLE_HASH")
    cust = read_table(spark, sf_dir, "customer").hint("SHUFFLE_HASH")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


@register(
    "join_bloom_prefilter",
    oracle="""
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(e.value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events e
    WHERE e.user_id IN (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    GROUP BY e.event_type
    """,
)
def join_bloom_prefilter(spark, sf_dir):
    """Runtime Bloom-filter join pruning, made explicit: the dim
    side (one customer segment) is aggregated into an 8 KB Bloom bit
    array (operators/bloom.py), the fact scan applies the membership
    test as a codegen column predicate BEFORE the join, and the
    exact broadcast semi join that follows removes the ~1e-3 false
    positives — so the answer is bit-identical to the plain semi
    join (the oracle) while only ~ the matching fraction of the fact
    table enters the join. This is Spark's own
    ``runtime.bloomFilter`` optimization realized as an operator, for
    the plans the optimizer can't rewrite (custom Python sources,
    stream-static joins, pre-AQE stages). At 100 TB the build is one
    tiny dim aggregation; the probe costs three md5s per fact row at
    the scan and saves shuffling/broadcast-probing the non-matching
    ~75% of the fact table."""
    from etl_jobs_spark.operators.bloom import bloom_build, bloom_probe_expr

    cust = read_table(spark, sf_dir, "customer")
    keys = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    words = bloom_build(keys, "c_custkey")
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    prefiltered = ev.where(bloom_probe_expr(words, "user_id"))
    exact = prefiltered.join(
        F.broadcast(keys), prefiltered.user_id == keys.c_custkey, "left_semi"
    )
    return exact.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        M.dsum("value").alias("total_value"),
    )


@register(
    "join_null_safe",
    oracle="""
    WITH dirty AS (
      SELECT event_id,
             CASE WHEN event_id % 11 = 0 THEN NULL
                  ELSE event_type END AS event_type_n,
             value
      FROM events),
    sys_a AS (
      SELECT event_type_n AS k, CAST(count(*) AS BIGINT) AS n_a,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS val_a_cents
      FROM dirty WHERE event_id % 2 = 0 GROUP BY 1),
    sys_b AS (
      SELECT event_type_n AS k, CAST(count(*) AS BIGINT) AS n_b,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS val_b_cents
      FROM dirty WHERE event_id % 2 = 1 GROUP BY 1)
    SELECT a.k AS event_type, a.n_a, b.n_b,
           a.val_a_cents, b.val_b_cents
    FROM sys_a a JOIN sys_b b
      ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe(spark, sf_dir):
    """NULL-safe equality join (``<=>`` / IS NOT DISTINCT FROM): two
    system halves of the event feed are reconciled per event_type
    where the type can be NULL (the unattributed bucket — injected by
    the shared deterministic dirty projection). A plain equi-join
    silently DROPS the NULL group on both sides — the classic
    reconciliation bug; the null-safe operator keeps it as a real
    join key. Scale shape: identical to an equi-join (hash-partition
    both sides on the key; NULL hashes like any value under
    null-safe semantics), so the fix costs nothing at 100 TB —
    unlike the ``COALESCE(k, sentinel)`` workaround, which breaks
    if the sentinel ever appears in data. Float discipline: the
    reconciled sums are integer cents (round-then-sum BIGINTs), so
    the result is bit-stable regardless of aggregation order."""
    from etl_jobs_spark.queries._shared import dirty_events

    d = dirty_events(spark, sf_dir)
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    a = (
        d.filter(F.col("event_id") % 2 == 0)
        .groupBy(F.col("event_type_n").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_a"),
            F.sum(cents).alias("val_a_cents"),
        )
    )
    b = (
        d.filter(F.col("event_id") % 2 == 1)
        .groupBy(F.col("event_type_n").alias("k2"))
        .agg(
            F.count(F.lit(1)).alias("n_b"),
            F.sum(cents).alias("val_b_cents"),
        )
    )
    return a.join(b, a.k.eqNullSafe(b.k2)).select(
        F.col("k").alias("event_type"),
        "n_a",
        "n_b",
        "val_a_cents",
        "val_b_cents",
    )


@register(
    "setop_multiset_all",
    oracle="""
    WITH big AS (
      SELECT o_orderpriority AS pri FROM orders
      WHERE o_totalprice > 100000),
    fin AS (
      SELECT o_orderpriority AS pri FROM orders
      WHERE o_orderstatus = 'F'),
    exc AS (SELECT pri FROM big EXCEPT ALL SELECT pri FROM fin),
    ints AS (SELECT pri FROM big INTERSECT ALL SELECT pri FROM fin)
    SELECT 'except_all' AS op, pri,
           CAST(count(*) AS BIGINT) AS n
    FROM exc GROUP BY 2
    UNION ALL
    SELECT 'intersect_all', pri, CAST(count(*) AS BIGINT)
    FROM ints GROUP BY 2
    """,
)
def setop_multiset_all(spark, sf_dir):
    """Multiset set operations (EXCEPT ALL / INTERSECT ALL): bag
    semantics preserve DUPLICATE COUNTS — ``except_all`` keeps
    max(m−n, 0) copies per value, ``intersect_all`` min(m, n) —
    which is what reconciliation arithmetic needs (the DISTINCT
    variants destroy the cardinality information). Spark implements
    both as a single hash aggregation per side plus a counted
    replicate (generate), never a sort; the aggregated output here
    makes the bag cardinalities directly visible to the driver's
    hash compare. At 100 TB: same cost profile as a groupBy on the
    value — one shuffle per side."""
    orders = read_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_orderpriority").alias("pri")
    )
    fin = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderpriority").alias("pri")
    )
    exc = (
        big.exceptAll(fin)
        .groupBy("pri")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "pri", "n")
    )
    ints = (
        big.intersectAll(fin)
        .groupBy("pri")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "pri", "n")
    )
    return exc.unionAll(ints)


#: One SQL text, two engines: the correlated LATERAL subquery is
#: dialect-shared, so the oracle IS the Spark query string.
_LATERAL_TOPN_SQL = """
    SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
    FROM {customer} c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM {orders} o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
"""


@register(
    "join_lateral_topn",
    oracle=_LATERAL_TOPN_SQL.format(customer="customer", orders="orders"),
)
def join_lateral_topn(spark, sf_dir):
    """Correlated LATERAL top-N join (SQL:2016 LATERAL, new to Spark
    in 4.0): each customer's two largest orders via a correlated
    ORDER BY … LIMIT subquery — the IDENTICAL SQL text runs on both
    engines, so this query pins cross-dialect LATERAL semantics
    (correlation scoping, per-row LIMIT, tiebreak) byte-for-byte.
    Catalyst decorrelates the lateral into the same plan the window
    formulation produces (rank over a partition — no per-row
    re-execution), so the 100 TB cost is one orders shuffle keyed by
    customer; LATERAL is surface syntax, not an execution strategy."""
    from etl_jobs_spark.queries._shared import scoped_view

    views = {
        t: scoped_view(read_table(spark, sf_dir, t), t, sf_dir)
        for t in ("customer", "orders")  # dataset-scoped: axis 9
    }
    return spark.sql(_LATERAL_TOPN_SQL.format(**views))


@register(
    "fn_url_suite",
    oracle="""
    SELECT event_id,
           'events.example.com' AS host,
           concat('/u/', CAST(user_id AS VARCHAR)) AS path,
           concat('t=', coalesce(event_type, 'unknown')) AS query,
           coalesce(event_type, 'unknown') AS t_param
    FROM events
    """,
)
def fn_url_suite(spark, sf_dir):
    """URL-function family: event rows rendered as canonical URLs
    and parsed back with ``parse_url`` (HOST / PATH / QUERY and
    keyed QUERY parameter extraction) — the clickstream-parsing
    verbs of web analytics. The oracle states every component
    DIRECTLY from the source columns, so parse_url must invert the
    construction exactly (scheme handling, path/query split, param
    lookup). Map-only: build + four parses fuse into one codegen
    projection; no data moves until the caller aggregates."""
    ev = read_table(spark, sf_dir, "events")
    # null event_type renders as an explicit 'unknown' param:
    # Spark concat is null-propagating (the whole URL would vanish)
    # while DuckDB concat skips nulls — a URL builder must pick its
    # null rendering deliberately (string-null differential, r10)
    url = F.concat(
        F.lit("https://events.example.com/u/"),
        F.col("user_id").cast("string"),
        F.lit("?t="),
        F.coalesce(F.col("event_type"), F.lit("unknown")),
    )
    return ev.select(
        "event_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("t")).alias("t_param"),
    )


@register(
    "window_share_of_total",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2)
    SELECT region, nation, cents,
           CAST(cents * 1000 // sum(cents) OVER (PARTITION BY region)
                AS BIGINT) AS share_millis,
           CAST(row_number() OVER (PARTITION BY region
                                   ORDER BY cents DESC, nation)
                AS BIGINT) AS rank_in_region
    FROM rev
    """,
)
def window_share_of_total(spark, sf_dir):
    """Share-of-total (ratio-to-report) window: each nation's
    revenue as an exact per-mille share of its REGION total, with
    its rank inside the region — the market-share breakdown every
    BI rollup leads with, and the window shape (aggregate over the
    partition, no ORDER BY) that turns a two-pass self-join into one
    pass. Integer cents end-to-end; the share is one BIGINT
    division. Scale shape: the fact aggregation is the only big
    shuffle (dims broadcast); both windows share the region
    partitioning over a |nations|-row table."""
    from pyspark.sql import Window as W

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    rev = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == cust.c_custkey,
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = W.partitionBy("region")
    return rev.select(
        "region",
        "nation",
        "cents",
        F.expr(
            "CAST(cents * 1000 DIV sum(cents) OVER (PARTITION BY region)"
            " AS BIGINT)"
        ).alias("share_millis"),
        F.row_number()
        .over(w.orderBy(F.desc("cents"), "nation"))
        .cast("bigint")
        .alias("rank_in_region"),
    )


@register(
    "recursive_cte_hierarchy",
    oracle="""
    WITH RECURSIVE chain AS (
      SELECT c_custkey AS leaf, c_custkey AS cur,
             CAST(0 AS BIGINT) AS depth,
             CAST(round(c_acctbal * 100) AS BIGINT) AS chain_cents
      FROM customer
      UNION ALL
      SELECT ch.leaf, p.c_custkey,
             ch.depth + 1,
             ch.chain_cents + CAST(round(p.c_acctbal * 100) AS BIGINT)
      FROM chain ch
      JOIN customer p ON p.c_custkey = ch.cur // 3
      WHERE ch.cur > 1),
    final AS (
      SELECT leaf, CAST(max(depth) AS BIGINT) AS depth,
             CAST(max(chain_cents) AS BIGINT) AS chain_cents
      FROM chain GROUP BY leaf)
    SELECT depth, CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(chain_cents) AS BIGINT) AS total_chain_cents
    FROM final GROUP BY depth
    """,
)
def recursive_cte_hierarchy(spark, sf_dir):
    """Closed-form ancestor walk: every customer walks a synthetic
    referral hierarchy (parent = custkey DIV 3, a ternary tree rooted
    at 1) towards the root in one plan, accumulating depth and the
    ancestor-chain balance in integer cents; the result is the
    per-depth census. The oracle states it as DuckDB's native WITH
    RECURSIVE; here the ancestors of key L are exactly L DIV 3^k:

    1. ``p``: one row per key (the NULL key is its own group) with its
       max non-null cents. Duplicate keys multiply the recursion's
       paths, and the best path takes the max of every level.
    2. Each key's chain [L, L DIV 3, ...], continued while the last
       key is > 1, built by ``aggregate`` (at most 40 steps for a
       BIGINT key) and ``posexplode``d into (leaf, k, cur).
    3. One null-safe equi-join of the steps back to ``p``: an
       ancestor that does not exist drops its step.
    4. One window per leaf over k keeps the contiguous prefix of
       existing ancestors (``row_number = k + 1``; the recursion stops
       at the first missing one) and nulls every prefix sum from the
       first level whose balances are all NULL.
    5. Depth and chain balance per leaf, then the census per depth.

    Every recursion level of the native form is a new query execution
    (analysis, planning and a few jobs each, growing with depth); this
    form is one plan with a constant job count. Both engines' DIV
    truncate identically on the positive keys that recurse."""
    from etl_jobs_spark.queries._shared import scoped_view

    cust = read_table(spark, sf_dir, "customer")
    v = scoped_view(cust, "rcte_customer", sf_dir)  # axis 9
    return spark.sql(
        f"""
        WITH p AS (
          SELECT c_custkey AS key,
                 max(CAST(round(c_acctbal * 100) AS BIGINT)) AS cents
          FROM {v} GROUP BY c_custkey),
        steps AS (
          SELECT key AS leaf,
                 posexplode(aggregate(
                   sequence(1, 40), array(key),
                   (acc, i) -> IF(element_at(acc, -1) > 1,
                                  concat(acc, array(element_at(acc, -1) DIV 3)),
                                  acc))) AS (k, cur)
          FROM p),
        walked AS (
          SELECT s.leaf, s.k,
                 row_number() OVER w AS rn,
                 count(a.cents) OVER w AS n_cents,
                 sum(a.cents) OVER w AS run_cents
          FROM steps s JOIN p a ON a.key <=> s.cur
          WINDOW w AS (PARTITION BY s.leaf ORDER BY s.k)),
        final AS (
          SELECT leaf, CAST(max(k) AS BIGINT) AS depth,
                 max(IF(n_cents = rn, run_cents, NULL)) AS chain_cents
          FROM walked WHERE rn = k + 1 GROUP BY leaf)
        SELECT depth, CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(chain_cents) AS BIGINT) AS total_chain_cents
        FROM final GROUP BY depth
        """
    )
