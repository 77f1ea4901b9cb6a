"""Product-analytics query declarations (SCD2 history, retention
cohorts, funnel conversion) — see ``operators/analytics.py`` for
the plan-shape rationale."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_jobs_spark.operators import analytics as AN
from etl_jobs_spark.registry import register
from etl_jobs_spark.sources.readers import read_table


@register(
    "scd2_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type)
    SELECT user_id, event_type,
           CAST(effective_from AS TIMESTAMP_NS) AS effective_from,
           CAST(effective_to AS TIMESTAMP_NS) AS effective_to,
           effective_to IS NULL AS is_current
    FROM (
      SELECT user_id, event_type, ts AS effective_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS effective_to
      FROM changes)
    """,
)
def scd2_history(spark, sf_dir):
    """Type-2 slowly-changing history of each user's event_type
    state: change detection + interval close-off, two keyed window
    passes, no joins."""
    return AN.scd2_history(read_table(spark, sf_dir, "events"))


@register(
    "agg_retention_cohorts",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    first_day AS (
      SELECT user_id, min(day) AS cohort_day FROM user_days GROUP BY 1)
    SELECT CAST(cohort_day AS TIMESTAMP_NS) AS cohort_day,
           CAST(date_diff('day', cohort_day, day) AS BIGINT)
             AS offset_days,
           CAST(count(*) AS BIGINT) AS n_users
    FROM user_days JOIN first_day USING (user_id)
    GROUP BY 1, 2
    """,
)
def agg_retention_cohorts(spark, sf_dir):
    """Cohort retention triangle: users bucketed by first-activity
    day, counted per day-offset of subsequent activity."""
    return AN.retention_cohorts(read_table(spark, sf_dir, "events"))


@register(
    "agg_funnel_steps",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t0,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t1,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
      FROM events GROUP BY 1),
    r AS (
      SELECT (t0 IS NOT NULL) AS r0,
             (t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0) AS r1,
             (t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0
              AND t2 IS NOT NULL AND t2 > t1) AS r2
      FROM per_user)
    SELECT CAST(0 AS BIGINT) AS step, 'view' AS event_type,
           CAST(sum(CAST(r0 AS INT)) AS BIGINT) AS n_users FROM r
    UNION ALL
    SELECT 1, 'click', CAST(sum(CAST(r1 AS INT)) AS BIGINT) FROM r
    UNION ALL
    SELECT 2, 'purchase', CAST(sum(CAST(r2 AS INT)) AS BIGINT) FROM r
    """,
)
def agg_funnel_steps(spark, sf_dir):
    """Ordered view→click→purchase funnel: one conditional agg per
    user (no per-step self-joins), strict time ordering between
    steps."""
    return AN.funnel_conversion(read_table(spark, sf_dir, "events"))


@register(
    "join_dim_snapshot_asof",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type),
    hist AS (
      SELECT user_id, event_type, ts AS effective_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS effective_to
      FROM changes),
    purchases AS (
      SELECT event_id, user_id, ts, value
      FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP_NS) AS ts,
           p.value, h.event_type AS state_at_purchase
    FROM purchases p JOIN hist h
      ON p.user_id = h.user_id
     AND h.effective_from <= p.ts
     AND (h.effective_to IS NULL OR p.ts < h.effective_to)
    """,
)
def join_dim_snapshot_asof(spark, sf_dir):
    """Point-in-time join against a type-2 dimension: each purchase
    picks up the user's state VALID AT the purchase timestamp. The
    100 TB-critical re-expression: instead of an interval-containment
    inequality join against the history table (O(n·k) nested-loop or
    a range-bucketed approximation), PIT-against-SCD2 is EXACTLY a
    backward as-of join to the change points — one shuffle, one keyed
    window (operators/temporal.asof_join). The oracle is the naive
    interval-containment join, so agreement proves the equivalence."""
    ev = read_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    from etl_jobs_spark.operators import temporal as TP

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select("user_id", "ts", "event_id", "event_type")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return TP.asof_join(
        purchases,
        changes,
        key="user_id",
        ts="ts",
        tiebreak="event_id",
        right_payload=["event_type"],
        prefix="",
    ).withColumnRenamed("event_type", "state_at_purchase")


@register(
    "agg_activity_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
      FROM events),
    grouped AS (
      SELECT user_id, day_num,
             day_num - row_number() OVER (PARTITION BY user_id
                                          ORDER BY day_num) AS grp
      FROM days),
    streaks AS (
      SELECT user_id, grp, CAST(count(*) AS BIGINT) AS streak_len
      FROM grouped GROUP BY user_id, grp)
    SELECT user_id,
           CAST(sum(streak_len) AS BIGINT) AS n_active_days,
           CAST(max(streak_len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM streaks GROUP BY user_id
    """,
)
def agg_activity_streaks(spark, sf_dir):
    """Gaps-and-islands: each user's consecutive-day activity
    streaks (longest streak, streak count, active days) — the
    engagement metric behind every retention dashboard, and the
    canonical SQL island detection: distinct activity days, then
    ``day_number − row_number`` is CONSTANT within a consecutive run
    (both step by one), so a groupBy on that difference recovers the
    islands with no self-join and no iteration. All-integer
    arithmetic (epoch-day numbers), bit-exact. Scale shape: one
    distinct + one keyed window + two keyed aggs, every stage
    partitioned by user — a single shuffle family, no fan-out."""
    ev = read_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')").alias(
            "day_num"
        ),
    ).distinct()
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("user_id").orderBy("day_num")
    )
    streaks = (
        days.withColumn("grp", F.col("day_num") - rn)
        .groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).alias("streak_len"))
    )
    return streaks.groupBy("user_id").agg(
        F.sum("streak_len").alias("n_active_days"),
        F.max("streak_len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@register(
    "basket_brand_affinity",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
            FROM lineitem),
    cnt AS (
      SELECT p_brand, CAST(count(*) AS BIGINT) AS n FROM ob GROUP BY 1),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             CAST(count(*) AS BIGINT) AS co_count
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2)
    SELECT p.brand_a, p.brand_b, p.co_count,
           ca.n AS n_a, cb.n AS n_b,
           CAST(CASE WHEN p.co_count * t.n_orders >= 1000000000000
                     THEN p.co_count * t.n_orders
                          // (greatest((ca.n * cb.n) // 1000000, 1))
                     ELSE p.co_count * t.n_orders * 1000000
                          // (ca.n * cb.n) END AS BIGINT) AS lift_micro
    FROM pairs p
    JOIN cnt ca ON p.brand_a = ca.p_brand
    JOIN cnt cb ON p.brand_b = cb.p_brand
    CROSS JOIN tot t
    WHERE p.co_count >= 3
    """,
)
def basket_brand_affinity(spark, sf_dir):
    """Market-basket affinity (the recommender/assortment primitive):
    brand pairs that co-occur in the same order, with support counts
    and LIFT = P(a,b) / (P(a)·P(b)) = co·N / (nₐ·n_b) — computed as
    integer micro-lift (``co*N*1e6 DIV nₐ*n_b``), exact on both
    engines. The scale-critical shape: pair generation is BLOCKED BY
    ORDER KEY (distinct brands per order, then a self-equi-join on
    the order key — never an all-pairs cross join), so candidate
    volume is Σ kᵢ² over per-order basket sizes, not n². Brand
    marginals and the order total are two tiny aggregates that
    broadcast back onto the pair table. At 100 TB: one broadcast dim
    join, one distinct, one self-equi-join on the partition key —
    all shuffle-aligned on l_orderkey."""
    from etl_jobs_spark import cache

    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    ob = cache.track(  # feeds both pair sides + the brand marginals
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li.l_partkey == part.p_partkey,
        )
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders = li.select(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    cnt = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n"))
    a = ob.alias("a")
    b = ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).alias("co_count"))
        .filter(F.col("co_count") >= 3)
    )
    ca = cnt.select(
        F.col("p_brand").alias("brand_a"), F.col("n").alias("n_a")
    )
    cb = cnt.select(
        F.col("p_brand").alias("brand_b"), F.col("n").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "co_count",
            "n_a",
            "n_b",
            # branch so the micro-scaling never forms co*N*1e6 once
            # co*N is already ~1e12 (the embed_pca_power_iter
            # renormalization lesson); below the branch point —
            # every driver SF — values are unchanged
            F.expr(
                "CAST(CASE WHEN co_count * n_orders >= 1000000000000"
                " THEN co_count * n_orders"
                "      DIV (greatest((n_a * n_b) DIV 1000000, 1))"
                " ELSE co_count * n_orders * 1000000"
                "      DIV (n_a * n_b) END AS BIGINT)"
            ).alias("lift_micro"),
        )
    )


@register(
    "path_top_sequences",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= 3 GROUP BY user_id)
    SELECT path, CAST(count(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path LIMIT 20
    """,
)
def path_top_sequences(spark, sf_dir):
    """User-path analysis: each user's FIRST THREE events as an
    ordered journey string ('view>click>purchase'), counted across
    the user base, top-20 most common entry paths (tiebreak on path
    text — the top-k boundary is deterministic). The Sankey/flow
    starting point of product analytics. Scale shape: one keyed
    window (partitioned by user) prunes to ≤3 rows per user BEFORE
    the fold; the path fold is an order-pinned collect within the
    same user partition (sort_array over (rn, type) structs — never
    dependent on shuffle arrival order); the final count is a
    groupBy on a low-cardinality path key with a TakeOrdered top-k,
    no global sort."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    rn = F.row_number().over(
        W.partitionBy("user_id").orderBy("ts", "event_id")
    )
    paths = (
        ev.withColumn("rn", rn)
        .filter(F.col("rn") <= 3)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(20)
    )


@register(
    "attr_linear_touch",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'),
    clicks AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click'),
    touches AS (
      SELECT p.event_id AS purchase_id, c.event_id AS click_id,
             p.user_id, p.value,
             count(*) OVER (PARTITION BY p.event_id) AS n_touches
      FROM purchases p JOIN clicks c
        ON p.user_id = c.user_id
       AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts)
    SELECT click_id,
           CAST(count(*) AS BIGINT) AS n_conversions,
           CAST(sum(CAST(round(value * 100) AS BIGINT) // n_touches)
                AS BIGINT) AS credit_cents
    FROM touches GROUP BY click_id
    """,
)
def attr_linear_touch(spark, sf_dir):
    """Multi-touch LINEAR attribution: every click in the hour
    before a purchase shares the conversion credit equally
    (credit = value / n_touches) — the marketing-analytics allocator
    one step past last-touch (join_asof_events covers that). Exact
    arithmetic: purchase value converts to integer cents and the
    split is integer division per touch (floor — the remainder stays
    unattributed, stated identically in SQL), so credit sums are
    bit-stable. Scale shape: the touch join is the user-keyed
    interval join (one shuffle family), the per-purchase touch count
    is a window over the SAME partitioning, and the final rollup
    shuffles only (click, cents) pairs."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        "value",
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    touches = p.join(
        c,
        (p.user_id == c.c_user)
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).withColumn(
        "n_touches", F.count(F.lit(1)).over(W.partitionBy("purchase_id"))
    )
    return touches.groupBy("click_id").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.sum(
            F.expr(
                "CAST(round(value * 100) AS BIGINT) DIV n_touches"
            )
        )
        .cast("bigint")
        .alias("credit_cents"),
    )


@register(
    "agg_pareto_share",
    oracle="""
    WITH spend AS (
      SELECT c.c_mktsegment AS segment, c.c_custkey,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT segment, cents,
             row_number() OVER (PARTITION BY segment
                                ORDER BY cents DESC, c_custkey) AS rk,
             count(*) OVER (PARTITION BY segment) AS n
      FROM spend)
    SELECT segment,
           CAST(max(n) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN rk * 5 <= n THEN cents ELSE 0 END)
                AS BIGINT) AS top20_cents,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           round(CAST(sum(CASE WHEN rk * 5 <= n THEN cents ELSE 0 END)
                      AS DOUBLE) / CAST(sum(cents) AS DOUBLE), 6)
             AS pareto_share
    FROM ranked GROUP BY segment
    """,
)
def agg_pareto_share(spark, sf_dir):
    """Pareto concentration (the 80/20 diagnostic): per segment, the
    revenue share captured by the top 20% of customers — Gini's
    (agg_gini_revenue) operational cousin, the number an account
    team actually quotes. Exact arithmetic throughout: integer-cents
    spend, integer rank cutoff (rk·5 ≤ n — no float percentile), one
    final division of exact integers rounded at 6. Ties at the
    cutoff are pinned by the custkey tiebreak — stated identically
    in both engines, so the boundary customer is the same one. Scale
    shape: one join + keyed agg builds the spend table; one window
    family (rank + count share a partition sort) and one aggregate
    finish it — all partitioned by segment."""
    from pyspark.sql import Window as W

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    spend = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"), F.col("c_custkey")
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = W.partitionBy("segment")
    ranked = spend.withColumn(
        "rk",
        F.row_number().over(w.orderBy(F.desc("cents"), "c_custkey")),
    ).withColumn("n", F.count(F.lit(1)).over(w))
    top = F.when(F.col("rk") * 5 <= F.col("n"), F.col("cents")).otherwise(
        F.lit(0)
    )
    return ranked.groupBy("segment").agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.sum(top).cast("bigint").alias("top20_cents"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.round(
            F.sum(top).cast("double") / F.sum("cents").cast("double"), 6
        ).alias("pareto_share"),
    )


@register(
    "agg_time_to_convert",
    oracle="""
    WITH firsts AS (
      SELECT e.user_id, c.c_mktsegment AS segment,
             min(CASE WHEN e.event_type = 'view'
                      THEN epoch_us(e.ts) END) AS first_view_us,
             min(CASE WHEN e.event_type = 'purchase'
                      THEN epoch_us(e.ts) END) AS first_purchase_us
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1, 2),
    converted AS (
      SELECT segment,
             (first_purchase_us - first_view_us) // 1000000 AS delta_s
      FROM firsts
      WHERE first_view_us IS NOT NULL
        AND first_purchase_us IS NOT NULL
        AND first_purchase_us > first_view_us)
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(CAST(delta_s AS DOUBLE), 0.5), 4)
             AS p50_sec,
           round(quantile_cont(CAST(delta_s AS DOUBLE), 0.9), 4)
             AS p90_sec,
           CAST(max(delta_s) AS BIGINT) AS max_sec
    FROM converted GROUP BY segment
    """,
)
def agg_time_to_convert(spark, sf_dir):
    """Time-to-convert distribution: per customer segment, the
    latency from a user's FIRST view to their FIRST later purchase —
    the conversion-velocity metric next to the funnel's counts
    (agg_funnel_steps says how many; this says how fast). Exact
    integer seconds (microsecond epochs, integer division), exact
    sort-based percentiles (Spark ``percentile()`` ≡ DuckDB
    ``quantile_cont`` — both linear-interpolation over the sorted
    set, and the inputs are integers so the only float op is the
    midpoint arithmetic). Scale shape: one conditional aggregation
    per user (no per-step self-joins — the funnel discipline), a
    broadcast dim join for the segment, then a tiny per-segment
    percentile over |converted users| rows."""
    ev = read_table(spark, sf_dir, "events")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    firsts = (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        .groupBy("user_id", F.col("c_mktsegment").alias("segment"))
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", us)
            ).alias("first_view_us"),
            F.min(
                F.when(F.col("event_type") == "purchase", us)
            ).alias("first_purchase_us"),
        )
    )
    converted = firsts.filter(
        F.col("first_view_us").isNotNull()
        & F.col("first_purchase_us").isNotNull()
        & (F.col("first_purchase_us") > F.col("first_view_us"))
    ).select(
        "segment",
        F.expr(
            "(first_purchase_us - first_view_us) DIV 1000000"
        ).alias("delta_s"),
    )
    return converted.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(
            F.expr("percentile(CAST(delta_s AS DOUBLE), 0.5)"), 4
        ).alias("p50_sec"),
        F.round(
            F.expr("percentile(CAST(delta_s AS DOUBLE), 0.9)"), 4
        ).alias("p90_sec"),
        F.max("delta_s").cast("bigint").alias("max_sec"),
    )


@register(
    "scd2_merge_apply",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type),
    hist AS (
      SELECT user_id, event_type AS state, ts AS effective_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS effective_to
      FROM changes),
    ts0 AS (
      SELECT max(ts) + INTERVAL 1 HOUR AS t FROM events),
    applied AS (
      -- untouched users keep their history verbatim
      SELECT user_id, state, effective_from, effective_to
      FROM hist WHERE user_id % 3 <> 0
      UNION ALL
      -- changed users: closed rows stay; the open row closes at t0
      SELECT h.user_id, h.state, h.effective_from,
             CASE WHEN h.effective_to IS NULL THEN t.t
                  ELSE h.effective_to END
      FROM hist h, ts0 t WHERE h.user_id % 3 = 0
      UNION ALL
      -- and a fresh open 'churned' row begins at t0
      SELECT DISTINCT h.user_id, 'churned', t.t, NULL
      FROM hist h, ts0 t WHERE h.user_id % 3 = 0)
    SELECT state, effective_to IS NULL AS is_current,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM applied GROUP BY 1, 2
    """,
)
def scd2_merge_apply(spark, sf_dir):
    """SCD2 MAINTENANCE — applying a change batch to a type-2
    dimension (scd2_history builds it; this keeps it current): a
    deterministic churn batch (every third user flips to state
    'churned' one hour after the corpus high-watermark) closes each
    affected user's OPEN row at the change timestamp and appends a
    fresh open row — the close-and-insert transaction every
    warehouse dim pipeline runs nightly, with already-closed history
    preserved byte-for-byte. Census output (state × currency flag)
    keeps the driver row size bounded while pinning the interval
    bookkeeping: a row double-closed, left dangling, or a lost
    insert shifts a census cell. Scale shape (round-13 rewrite): the
    apply is ONE pass — close-if-changed-and-open is a CASE
    projection over the single history build (the pre-r13 plan
    split untouched/closed into separate branches and the union
    recomputed the whole history WINDOW three times: 3 scans +
    3 user_id shuffles for one logical pass), and the fresh-row
    branch needs no window at all: every user with events has a
    history row, so 'changed users' is a distinct over the raw
    event scan. At 100 TB this runs as one windowed pass over the
    dim (tiny next to facts) + one cheap distinct, change timestamp
    broadcast."""
    from etl_jobs_spark.operators import analytics as AN

    ev = read_table(spark, sf_dir, "events")
    hist = AN.scd2_history(ev).select(
        "user_id",
        F.col("event_type").alias("state"),
        "effective_from",
        "effective_to",
    )
    ts0 = ev.agg(
        (F.max("ts") + F.expr("INTERVAL 1 HOUR")).alias("t")
    )
    changed = F.col("user_id") % 3 == 0
    # untouched ∪ closed in one projection: only a CHANGED user's
    # OPEN row closes at t0; everything else passes through.
    applied_hist = hist.crossJoin(F.broadcast(ts0)).select(
        "user_id",
        "state",
        "effective_from",
        F.when(
            changed & F.col("effective_to").isNull(), F.col("t")
        ).otherwise(F.col("effective_to")).alias("effective_to"),
    )
    fresh = (
        ev.select("user_id")
        .filter(changed)
        .distinct()
        .crossJoin(F.broadcast(ts0))
        .select(
            "user_id",
            F.lit("churned").alias("state"),
            F.col("t").alias("effective_from"),
            F.lit(None).cast("timestamp").alias("effective_to"),
        )
    )
    applied = applied_hist.unionByName(fresh)
    return applied.groupBy(
        "state", F.col("effective_to").isNull().alias("is_current")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "window_pct_change_mom",
    oracle="""
    WITH monthly AS (
      SELECT c.c_mktsegment AS segment,
             date_trunc('month', o.o_orderdate) AS month,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2)
    SELECT segment, CAST(month AS TIMESTAMP_NS) AS month, cents,
           lag(cents) OVER (PARTITION BY segment ORDER BY month)
             AS prev_cents,
           CAST((cents - lag(cents) OVER (PARTITION BY segment
                                          ORDER BY month)) * 10000
                // lag(cents) OVER (PARTITION BY segment ORDER BY month)
                AS BIGINT) AS growth_bp
    FROM monthly
    """,
)
def window_pct_change_mom(spark, sf_dir):
    """Month-over-month growth (period-over-period percent change):
    each segment's monthly revenue with the prior month and the
    growth rate in integer BASIS POINTS — the first chart of every
    revenue dashboard, as one lag window over the monthly rollup.
    Integer cents end-to-end; the growth rate is one BIGINT
    division (floor — stated identically in both dialects), so the
    driver hash pins sign, magnitude, and the NULL first month.
    Scale shape: the fact aggregation is the only big shuffle; the
    window runs over |segments|·|months| rows."""
    from pyspark.sql import Window as W

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    monthly = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.date_trunc("month", "o_orderdate").alias("month"),
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = W.partitionBy("segment").orderBy("month")
    prev = F.lag("cents").over(w)
    return monthly.select(
        "segment",
        "month",
        "cents",
        prev.alias("prev_cents"),
        F.expr(
            "CAST((cents - lag(cents) OVER (PARTITION BY segment"
            " ORDER BY month)) * 10000"
            " DIV lag(cents) OVER (PARTITION BY segment ORDER BY month)"
            " AS BIGINT)"
        ).alias("growth_bp"),
    )


@register(
    "agg_repeat_purchase_rate",
    oracle="""
    WITH p AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    firsts AS (
      SELECT user_id, min(ts) AS first_ts FROM p GROUP BY 1),
    flags AS (
      SELECT f.user_id,
             max(CASE WHEN p.ts > f.first_ts
                       AND p.ts <= f.first_ts + INTERVAL 30 DAY
                      THEN 1 ELSE 0 END) AS repeated
      FROM firsts f JOIN p ON f.user_id = p.user_id
      GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_buyers,
           CAST(sum(repeated) AS BIGINT) AS n_repeat_30d,
           CAST(sum(repeated) * 10000 // count(*) AS BIGINT)
             AS repeat_rate_bp
    FROM flags
    """,
)
def agg_repeat_purchase_rate(spark, sf_dir):
    """30-day repeat-purchase rate: of users who ever purchased, the
    share who purchased AGAIN within 30 days of their first — the
    retention KPI next to the cohort triangle
    (agg_retention_cohorts counts activity; this pins the monetary
    loop). One keyed min, one self-aligned membership check (the
    purchases table joins its own firsts on the user key — both
    sides pre-shuffled identically, no extra pass over events), and
    a single-row reduce with the rate in integer basis points.
    Everything is integer/timestamp comparison — bit-exact."""
    ev = read_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    firsts = p.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    flags = (
        p.join(firsts, "user_id")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("ts") > F.col("first_ts"))
                    & (
                        F.col("ts")
                        <= F.col("first_ts") + F.expr("INTERVAL 30 DAY")
                    ),
                    1,
                ).otherwise(0)
            ).alias("repeated")
        )
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_buyers"),
        F.sum("repeated").cast("bigint").alias("n_repeat_30d"),
        F.expr(
            "CAST(sum(repeated) * 10000 DIV count(*) AS BIGINT)"
        ).alias("repeat_rate_bp"),
    )


@register(
    "agg_funnel_time_bound",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup'
                      THEN epoch_us(ts) END) AS first_signup,
             min(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(ts) END) AS first_purchase_any
      FROM events GROUP BY user_id),
    conv AS (
      SELECT p.user_id, p.first_signup,
             min(epoch_us(e.ts)) AS first_purchase_after
      FROM per_user p
      JOIN events e
        ON e.user_id = p.user_id
       AND e.event_type = 'purchase'
       AND epoch_us(e.ts) >= p.first_signup
      WHERE p.first_signup IS NOT NULL
      GROUP BY p.user_id, p.first_signup),
    signups AS (
      SELECT user_id, first_signup,
             first_signup // 86400000000 AS signup_day
      FROM per_user WHERE first_signup IS NOT NULL)
    SELECT CAST(s.signup_day AS BIGINT) AS signup_day,
           CAST(count(*) AS BIGINT) AS n_signups,
           CAST(sum(CASE WHEN c.first_purchase_after IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_converted_ever,
           CAST(sum(CASE WHEN c.first_purchase_after
                              - s.first_signup <= 86400000000
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_converted_24h,
           CAST(coalesce(min(CASE WHEN c.first_purchase_after IS NOT NULL
                                  THEN (c.first_purchase_after
                                        - s.first_signup) // 1000000
                             END), -1) AS BIGINT)
             AS fastest_convert_sec
    FROM signups s
    LEFT JOIN conv c ON c.user_id = s.user_id
    GROUP BY s.signup_day
    """,
)
def agg_funnel_time_bound(spark, sf_dir):
    """TIME-BOUND conversion funnel: of each day's first-time
    signups, how many purchased within 24 HOURS of signing up (and
    ever, and how fast the fastest converted) — the
    conversion-window metric agg_funnel_steps' strict-ordering
    variant can't express (ordering says 'after'; activation
    metrics need 'after AND within Δt'). Shape: one user-keyed
    conditional rollup for the first-signup/first-purchase marks,
    one semi-filtered join for purchases-after-signup, integer
    microsecond arithmetic throughout (day buckets, 24 h bound,
    seconds-to-convert). LEFT JOIN keeps never-converting cohorts
    in the census. At 100 TB both stages key on user_id — one
    shuffle family, AQE handles the hot-user skew like every other
    user-keyed rollup here."""
    ev = read_table(spark, sf_dir, "events")
    us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", us)).alias(
            "first_signup"
        ),
    )
    signups = per_user.filter(F.col("first_signup").isNotNull())
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", us.alias("pts")
    )
    conv = (
        signups.join(purchases, "user_id")
        .filter(F.col("pts") >= F.col("first_signup"))
        .groupBy("user_id", "first_signup")
        .agg(F.min("pts").alias("first_purchase_after"))
    )
    out = (
        signups.withColumn(
            "signup_day", F.expr("first_signup DIV 86400000000")
        )
        .join(
            conv.select("user_id", "first_purchase_after"), "user_id", "left"
        )
        .groupBy("signup_day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_signups"),
            F.sum(
                F.when(F.col("first_purchase_after").isNotNull(), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_converted_ever"),
            F.sum(
                F.when(
                    F.col("first_purchase_after") - F.col("first_signup")
                    <= 86400000000,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_converted_24h"),
            F.coalesce(
                F.min(
                    F.when(
                        F.col("first_purchase_after").isNotNull(),
                        F.expr(
                            "(first_purchase_after - first_signup)"
                            " DIV 1000000"
                        ),
                    )
                ),
                F.lit(-1),
            )
            .cast("bigint")
            .alias("fastest_convert_sec"),
        )
    )
    return out.select(
        F.col("signup_day").cast("bigint").alias("signup_day"),
        "n_signups",
        "n_converted_ever",
        "n_converted_24h",
        "fastest_convert_sec",
    )


@register(
    "agg_cohort_ltv",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(epoch_us(ts)) // 86400000000 AS cohort
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    rev AS (
      SELECT f.cohort,
             epoch_us(e.ts) // 86400000000 - f.cohort AS age,
             CAST(round(e.value * 100) AS BIGINT) AS cents
      FROM events e JOIN firsts f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) // 86400000000 >= f.cohort),
    cells AS (
      SELECT cohort, age,
             CAST(sum(cents) AS BIGINT) AS rev_cents
      FROM rev GROUP BY cohort, age),
    sizes AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
      FROM firsts GROUP BY cohort)
    SELECT c.cohort, c.age, s.n_users, c.rev_cents,
           CAST(sum(c.rev_cents) OVER (PARTITION BY c.cohort
                                       ORDER BY c.age
                                       ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_rev_cents,
           CAST(CAST(sum(c.rev_cents) OVER (PARTITION BY c.cohort
                                            ORDER BY c.age
                                            ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) // s.n_users AS BIGINT)
             AS ltv_cents_per_user
    FROM cells c JOIN sizes s ON s.cohort = c.cohort
    """,
)
def agg_cohort_ltv(spark, sf_dir):
    """Cohort LIFETIME VALUE curves: signup cohorts (daily epochs — the fixture spans days)
    × account age → purchase revenue, cumulated into the LTV curve
    and normalized per cohort member — the payback-period table
    every growth team reads next to the retention triangle
    (agg_retention_cohorts gives the WHO; this gives the HOW MUCH).
    Integer cents, integer 30-day buckets, cumulative window per
    cohort, truncating per-user division. Scale: one user-keyed
    first-touch rollup + one fact join keyed on user + a cumulative
    window over the tiny cohort×age grid."""
    ev = read_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    firsts = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(
            F.expr(
                "CAST(min(unix_micros(CAST(ts AS TIMESTAMP)))"
                " DIV 86400000000 AS BIGINT)"
            ).alias("cohort")
        )
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            (us / 1).alias("pus"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .join(firsts, "user_id")
        .withColumn("month", F.expr("CAST(pus AS BIGINT) DIV 86400000000"))
        .filter(F.col("month") >= F.col("cohort"))
        .select(
            "cohort", (F.col("month") - F.col("cohort")).alias("age"), "cents"
        )
    )
    cells = rev.groupBy("cohort", "age").agg(
        F.sum("cents").cast("bigint").alias("rev_cents")
    )
    sizes = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    w = (
        W.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        cells.join(F.broadcast(sizes), "cohort")
        .withColumn(
            "cum_rev_cents", F.sum("rev_cents").over(w).cast("bigint")
        )
        .select(
            "cohort",
            "age",
            "n_users",
            "rev_cents",
            "cum_rev_cents",
            F.expr(
                "CAST(cum_rev_cents DIV n_users AS BIGINT)"
            ).alias("ltv_cents_per_user"),
        )
    )


#: Exponential time-decay: score halves every _DECAY_HALFLIFE_H
#: hours of age; shift capped so the power-of-two divisor stays an
#: exact double (2^40) and a BIGINT.
_DECAY_HALFLIFE_H = 72
_DECAY_MAX_K = 40
_DECAY_TOPK = 20


@register(
    "agg_time_decay_topk",
    oracle=f"""
    WITH ev AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             epoch_us(ts) // 3600000000 AS b
      FROM events),
    wm AS (SELECT max(b) AS wm_b FROM ev),
    decayed AS (
      SELECT user_id,
             cents // CAST(pow(2.0, least((wm_b - b) // {_DECAY_HALFLIFE_H},
                                          {_DECAY_MAX_K})) AS BIGINT)
               AS dscore
      FROM ev, wm),
    scores AS (
      SELECT user_id,
             CAST(sum(dscore) AS BIGINT) AS decay_score_cents,
             CAST(count(*) AS BIGINT) AS n_events
      FROM decayed GROUP BY 1)
    SELECT user_id, decay_score_cents, n_events,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT user_id, decay_score_cents, n_events,
             row_number() OVER (ORDER BY decay_score_cents DESC,
                                user_id ASC) AS rnk
      FROM scores)
    WHERE rnk <= {_DECAY_TOPK}
    """,
)
def agg_time_decay_topk(spark, sf_dir):
    """TIME-DECAYED ENGAGEMENT SCORE, top users: each event
    contributes its cents HALVED for every _DECAY_HALFLIFE_H hours
    of age relative to the corpus watermark — the recency-weighted
    ranking every feed/recommender scoring job runs nightly,
    expressed in EXACT INTEGERS: age bucket k = age_hours DIV
    halflife, divisor 2^k as an exact power-of-two (k capped at
    _DECAY_MAX_K so the double 2^k is exact and BIGINT-safe;
    contributions at the cap are already 0 for any cents < 2^40),
    truncating division in both engines. No float exp() anywhere —
    the decay curve is the geometric staircase, and the ranking cut
    (score desc, user_id) is hash-stable. Scale shape: watermark is
    ONE scalar aggregate broadcast back; scoring is map-only; the
    per-user sum is a combinable hash aggregation; top-k is
    TakeOrderedAndProject, never a global sort."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias(
            "b"
        ),
    )
    wm = ev.agg(F.max("b").alias("wm_b"))
    decayed = ev.crossJoin(F.broadcast(wm)).select(
        "user_id",
        F.expr(
            f"cents DIV CAST(pow(2.0, least((wm_b - b) DIV {_DECAY_HALFLIFE_H},"
            f" {_DECAY_MAX_K})) AS BIGINT)"
        ).alias("dscore"),
    )
    scores = decayed.groupBy("user_id").agg(
        F.sum("dscore").cast("bigint").alias("decay_score_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    from pyspark.sql import Window as W

    w = W.orderBy(F.col("decay_score_cents").desc(), F.col("user_id").asc())
    # bounded global window (r16 audit): rank + `rnk <= K` compiles
    # to TakeOrderedAndProject (per-partition top-K, driver merge of
    # K x partitions rows; not benched, so no plan census entry
    # checks it); no single-partition pass over the per-user table
    # ever runs
    return (
        scores.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= _DECAY_TOPK)
        .select("user_id", "decay_score_cents", "n_events", "rnk")
    )


def _bounce_oracle() -> str:
    from etl_jobs_spark.queries.streaming import SESSION_ORACLE

    return f"""
    WITH sessions AS ({SESSION_ORACLE})
    SELECT CAST(extract(hour FROM session_start) AS BIGINT) AS hour_of_day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST(1000 * sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS bounce_permille,
           CAST(sum(n_events) // count(*) AS BIGINT)
             AS events_per_session
    FROM sessions GROUP BY 1
    """


@register("agg_session_bounce_rate", oracle=_bounce_oracle())
def agg_session_bounce_rate(spark, sf_dir):
    """SESSION BOUNCE RATE by hour of day: the fraction of
    single-event sessions (permille, truncating division) over the
    SAME sessionization the batch/stream pair already verifies
    (sessionize_batch / stream_session_windows — the oracle NESTS
    that registered SESSION_ORACLE, so session identity is pinned
    end-to-end, not re-derived slightly differently). Bounce rate by
    arrival hour is the engagement-quality curve product teams
    read next to the rolling-DAU curve
    (window_sliding_distinct_users). Scale shape: sessionization is
    the one keyed window the family already pays; the bounce census
    is a 24-row aggregate on top."""
    from etl_jobs_spark.queries.streaming import sessionize_batch

    sessions = sessionize_batch(spark, sf_dir)
    return sessions.groupBy(
        F.hour("session_start").cast("bigint").alias("hour_of_day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bounces"),
        F.expr(
            "CAST(1000 * sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)"
            " DIV count(*) AS BIGINT)"
        ).alias("bounce_permille"),
        F.expr("CAST(sum(n_events) DIV count(*) AS BIGINT)").alias(
            "events_per_session"
        ),
    )


@register(
    "agg_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    trans AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           CAST(1000 * n // sum(n) OVER (PARTITION BY from_type)
                AS BIGINT) AS p_permille
    FROM trans
    """,
)
def agg_markov_transitions(spark, sf_dir):
    """FIRST-ORDER MARKOV TRANSITION MATRIX of user event types:
    for every consecutive event pair within a user's (ts, event_id)
    timeline, the (from → to) count and the row-normalized
    transition probability in permille (truncating division over
    exact BIGINT counts) — the behavioral model behind
    path_top_sequences' raw paths (the matrix is what a simulator
    or a next-event predictor actually consumes). Scale shape: ONE
    keyed window (lag per user — the sessionization shuffle the
    family already pays), one combinable count aggregation to a
    k² cell table, one window sum over those 25 cells."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        F.col("prev_type").alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return trans.select(
        "from_type",
        "to_type",
        "n",
        F.expr(
            "CAST(1000 * n DIV sum(n) OVER (PARTITION BY from_type)"
            " AS BIGINT)"
        ).alias("p_permille"),
    )


@register(
    "agg_rfm_segments",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             max(CAST(ts AS DATE)) AS last_d,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1),
    scored AS (
      SELECT user_id, cents,
             CAST(ntile(4) OVER (ORDER BY last_d DESC, user_id ASC)
                  AS BIGINT) AS r,
             CAST(ntile(4) OVER (ORDER BY freq DESC, user_id ASC)
                  AS BIGINT) AS f,
             CAST(ntile(4) OVER (ORDER BY cents DESC, user_id ASC)
                  AS BIGINT) AS m
      FROM per_user)
    SELECT r, f, m,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(sum(cents) // count(*) AS BIGINT) AS cents_per_user
    FROM scored GROUP BY 1, 2, 3
    """,
)
def agg_rfm_segments(spark, sf_dir):
    """RFM SEGMENTATION census — recency/frequency/monetary quartile
    scores per user (1 = best quartile on each axis, ntile over the
    fully tie-broken order (metric, user_id) so the cut is
    deterministic in both engines — the ts_sax_symbols ntile
    discipline), rolled up to the 4x4x4 segment grid with user count
    and monetary density. The classic lifecycle-marketing
    segmentation (champions = 111, at-risk = high r with low f/m)
    that sits one query above agg_retention_cohorts. Scale shape:
    one combinable per-user rollup from the facts; the three exact
    quartile cuts run as PARALLEL range-partitioned rankings
    (operators.relational.with_global_position — per-user rows are
    themselves fact-scale at 100 TB, so the former unpartitioned
    ntile windows were single-partition sorts of the user table,
    VERDICT r15 item 2); ntile_from_position reproduces the ANSI
    tile assignment bit-exactly from the positions. The census is
    at most 64 rows."""
    from etl_jobs_spark.operators.relational import (
        ntile_from_position,
        with_global_position,
    )

    per_user = read_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.max(F.col("ts").cast("date")).alias("last_d"),
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("cents"),
    )
    pos = with_global_position(
        per_user,
        [F.col("last_d").desc(), F.col("user_id").asc()],
        out="_pr",
        total="_n",
    )
    pos = with_global_position(
        pos, [F.col("freq").desc(), F.col("user_id").asc()], out="_pf"
    )
    pos = with_global_position(
        pos, [F.col("cents").desc(), F.col("user_id").asc()], out="_pm"
    )
    scored = pos.select(
        "user_id",
        "cents",
        ntile_from_position("_pr", "_n", 4).cast("bigint").alias("r"),
        ntile_from_position("_pf", "_n", 4).cast("bigint").alias("f"),
        ntile_from_position("_pm", "_n", 4).cast("bigint").alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.expr("CAST(sum(cents) DIV count(*) AS BIGINT)").alias(
            "cents_per_user"
        ),
    )


@register(
    "agg_new_vs_returning",
    oracle="""
    WITH weekly AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7
               AS wk
      FROM events),
    firsts AS (
      SELECT user_id, min(wk) AS first_wk FROM weekly GROUP BY 1)
    SELECT w.wk,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(sum(CASE WHEN w.wk = f.first_wk THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN w.wk > f.first_wk THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returning,
           CAST(1000 * sum(CASE WHEN w.wk > f.first_wk THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS returning_permille
    FROM weekly w JOIN firsts f ON f.user_id = w.user_id
    GROUP BY 1
    """,
)
def agg_new_vs_returning(spark, sf_dir):
    """NEW vs RETURNING users per week — the growth-accounting split
    every product dashboard leads with (acquisition vs retention in
    one curve; agg_retention_cohorts shows the decay surface, this
    shows the weekly mix). Weeks are integer Monday-epoch buckets
    (days since 1970-01-05, a Monday, DIV 7 — pure integer, no
    dialect week() semantics to reconcile); first-week per user is
    one min aggregation over the DEDUPED (user, week) table.
    Scale shape: dedup shuffle on (user, week), a user-keyed min,
    one broadcast-able re-join, one combinable rollup — the
    incremental version keeps firsts as the running dimension."""
    ev = read_table(spark, sf_dir, "events")
    weekly = ev.select(
        "user_id",
        F.expr(
            "datediff(CAST(ts AS DATE), DATE '1970-01-05') DIV 7"
        ).alias("wk"),
    ).distinct()
    firsts = weekly.groupBy("user_id").agg(F.min("wk").alias("first_wk"))
    return (
        weekly.join(firsts, "user_id")
        .groupBy("wk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_active"),
            F.sum(F.when(F.col("wk") == F.col("first_wk"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
            F.sum(F.when(F.col("wk") > F.col("first_wk"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_returning"),
            F.expr(
                "CAST(1000 * sum(CASE WHEN wk > first_wk THEN 1 ELSE 0 END)"
                " DIV count(*) AS BIGINT)"
            ).alias("returning_permille"),
        )
    )


@register(
    "agg_lorenz_deciles",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1),
    tiled AS (
      SELECT cents,
             CAST(ntile(10) OVER (ORDER BY cents ASC, user_id ASC)
                  AS BIGINT) AS decile
      FROM per_user),
    per_decile AS (
      SELECT decile,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(cents) AS BIGINT) AS decile_cents
      FROM tiled GROUP BY 1)
    SELECT decile, n_users, decile_cents,
           CAST(sum(decile_cents) OVER (ORDER BY decile
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
           CAST(1000 * sum(decile_cents) OVER (ORDER BY decile
                ROWS UNBOUNDED PRECEDING)
                // sum(decile_cents) OVER () AS BIGINT)
             AS cum_share_permille
    FROM per_decile
    """,
)
def agg_lorenz_deciles(spark, sf_dir):
    """LORENZ CURVE by user-revenue decile: cumulative revenue share
    (permille) of the poorest k/10 of users — the distribution
    curve agg_gini_revenue's single coefficient summarizes (the
    decile table is what actually goes on the dashboard, and the
    [decile 10 share] is the whale-concentration number). Deciles
    are deterministic ntile over the fully tie-broken (cents,
    user_id) order; shares are truncating integer division over
    exact cent sums. Scale: one combinable per-user rollup; the
    decile cut is a PARALLEL range-partitioned ranking
    (with_global_position — per-user rows are fact-scale, so the
    former unpartitioned ntile was a single-partition sort of the
    user table, VERDICT r15 item 2); the curve is 10 rows and its
    two cumulative windows run over those 10."""
    from pyspark.sql import Window as W

    from etl_jobs_spark.operators.relational import (
        ntile_from_position,
        with_global_position,
    )

    per_user = read_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("cents")
    )
    pos = with_global_position(
        per_user,
        [F.col("cents").asc(), F.col("user_id").asc()],
        out="_p",
        total="_n",
    )
    tiled = pos.select(
        "cents",
        ntile_from_position("_p", "_n", 10).cast("bigint").alias("decile"),
    )
    per_decile = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("cents").cast("bigint").alias("decile_cents"),
    )
    # row bound: per_decile is exactly 10 rows (the ntile fan-in)
    cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    tot = W.orderBy("decile").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return per_decile.select(
        "decile",
        "n_users",
        "decile_cents",
        F.sum("decile_cents").over(cum).cast("bigint").alias("cum_cents"),
        F.expr(
            "CAST(1000 * sum(decile_cents) OVER (ORDER BY decile"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " DIV sum(decile_cents) OVER (ROWS BETWEEN UNBOUNDED"
            " PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT)"
        ).alias("cum_share_permille"),
    )


@register(
    "attr_u_shaped_touch",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'),
    clicks AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click'),
    touches AS (
      SELECT p.event_id AS purchase_id, c.event_id AS click_id,
             CAST(round(p.value * 100) AS BIGINT) AS cents,
             count(*) OVER (PARTITION BY p.event_id) AS n_touches,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts ASC, c.event_id ASC)
               AS pos_first,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC, c.event_id DESC)
               AS pos_last
      FROM purchases p JOIN clicks c
        ON p.user_id = c.user_id
       AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts),
    credited AS (
      SELECT click_id,
             cents * (CASE WHEN n_touches = 1 THEN 1000
                           WHEN n_touches = 2 THEN 500
                           WHEN pos_first = 1 THEN 400
                           WHEN pos_last = 1 THEN 400
                           ELSE 200 // (n_touches - 2) END) // 1000
               AS credit
      FROM touches)
    SELECT click_id,
           CAST(count(*) AS BIGINT) AS n_conversions,
           CAST(sum(credit) AS BIGINT) AS credit_cents
    FROM credited GROUP BY click_id
    """,
)
def attr_u_shaped_touch(spark, sf_dir):
    """U-SHAPED (position-based) ATTRIBUTION: 40% of conversion
    value to the FIRST touch, 40% to the LAST, the middle 20%
    split evenly — the position-based model marketers run next to
    attr_linear_touch's equal split (first/last touches carry the
    discovery/closing signal a linear model dilutes). Same
    touch-window join as the linear sibling (preceding-hour clicks);
    positions are row_numbers under the fully tie-broken
    (ts, click_id) order from both ends; every credit is truncating
    integer permille of exact cents (n=1 → 1000, n=2 → 500/500,
    middles share 200 DIV (n−2)). Scale: one interval join keyed on
    user (the attribution family's shuffle), two windows per
    purchase group, one combinable rollup per click."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    touches = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    wp = W.partitionBy("purchase_id")
    touches = touches.select(
        "purchase_id",
        "click_id",
        "cents",
        F.count(F.lit(1)).over(wp).alias("n_touches"),
        F.row_number()
        .over(wp.orderBy(F.col("c_ts").asc(), F.col("click_id").asc()))
        .alias("pos_first"),
        F.row_number()
        .over(wp.orderBy(F.col("c_ts").desc(), F.col("click_id").desc()))
        .alias("pos_last"),
    )
    credited = touches.select(
        "click_id",
        F.expr(
            "cents * (CASE WHEN n_touches = 1 THEN 1000"
            " WHEN n_touches = 2 THEN 500"
            " WHEN pos_first = 1 THEN 400"
            " WHEN pos_last = 1 THEN 400"
            " ELSE 200 DIV (n_touches - 2) END) DIV 1000"
        ).alias("credit"),
    )
    return credited.groupBy("click_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_conversions"),
        F.sum("credit").cast("bigint").alias("credit_cents"),
    )


@register(
    "agg_stickiness_dau_mau",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d,
             CAST(extract(year FROM ts) * 100
                  + extract(month FROM ts) AS BIGINT) AS ym
      FROM events),
    dau AS (
      SELECT ym, d, CAST(count(*) AS BIGINT) AS dau
      FROM days GROUP BY 1, 2),
    mau AS (
      SELECT ym, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
      FROM days GROUP BY 1),
    davg AS (
      SELECT ym, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(dau) AS BIGINT) AS dau_total,
             CAST(sum(dau) // count(*) AS BIGINT) AS avg_dau
      FROM dau GROUP BY 1)
    SELECT d.ym, d.n_days, d.avg_dau, m.mau,
           CAST(1000 * d.dau_total // (d.n_days * m.mau) AS BIGINT)
             AS stickiness_permille
    FROM davg d JOIN mau m ON m.ym = d.ym
    """,
)
def agg_stickiness_dau_mau(spark, sf_dir):
    """STICKINESS (DAU/MAU) per calendar month — the engagement
    ratio product teams quote daily (1000 permille = every monthly
    user active every day; ~200 is a typical good consumer app),
    composing the rolling-DAU curve (window_sliding_distinct_users)
    and the weekly growth split (agg_new_vs_returning) into the
    monthly headline. All-integer: the month key is year·100+month,
    average DAU is a truncating mean over the month's observed
    days, and the ratio is 1000·ΣDAU DIV (days·MAU) — one division,
    exact operands. Scale shape: one dedup shuffle to (user, day),
    then strictly shrinking keyed rollups."""
    ev = read_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        F.expr(
            "CAST(year(ts) * 100 + month(ts) AS BIGINT)"
        ).alias("ym"),
    ).distinct()
    dau = days.groupBy("ym", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    mau = days.groupBy("ym").agg(
        F.countDistinct("user_id").cast("bigint").alias("mau")
    )
    davg = dau.groupBy("ym").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("dau").cast("bigint").alias("dau_total"),
        F.expr("CAST(sum(dau) DIV count(*) AS BIGINT)").alias("avg_dau"),
    )
    return davg.join(mau, "ym").select(
        "ym",
        "n_days",
        "avg_dau",
        "mau",
        F.expr(
            "CAST(1000 * dau_total DIV (n_days * mau) AS BIGINT)"
        ).alias("stickiness_permille"),
    )


@register(
    "agg_user_overlap_stability",
    oracle="""
    WITH bounds AS (
      SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
      FROM events),
    labeled AS (
      SELECT DISTINCT user_id,
             CAST(ts AS DATE) <= b.d0
               + CAST(date_diff('day', b.d0, b.d1) // 2 AS INTEGER)
               AS first_half
      FROM events, bounds b),
    sets AS (
      SELECT CAST(count(DISTINCT CASE WHEN first_half
                                      THEN user_id END) AS BIGINT) AS n_a,
             CAST(count(DISTINCT CASE WHEN NOT first_half
                                      THEN user_id END) AS BIGINT) AS n_b,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_union
      FROM labeled)
    SELECT n_a, n_b, n_union,
           CAST(n_a + n_b - n_union AS BIGINT) AS n_both,
           CAST(1000 * (n_a + n_b - n_union) // nullif(n_union, 0) AS BIGINT)
             AS jaccard_permille,
           CAST(1000 * (n_a + n_b - n_union)
                // nullif(least(n_a, n_b), 0) AS BIGINT) AS containment_permille
    FROM sets
    """,
)
def agg_user_overlap_stability(spark, sf_dir):
    """AUDIENCE STABILITY across the observation window's two
    halves: Jaccard and smaller-side containment of the active-user
    sets (split at the midpoint day, derived from the data's own
    bounds so the row is reproducible) — the one-number answer to
    'is this the same audience month over month, or churn-through?'
    that sits upstream of agg_retention_cohorts' full matrix.
    Set sizes via conditional count-distinct in ONE pass;
    intersection by inclusion-exclusion (n_a + n_b − n_union), so
    nothing ever materializes the pair of sets. All-integer
    permille. Scale: one dedup-style distinct aggregation."""
    ev = read_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    labeled = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            (
                F.col("ts").cast("date")
                <= F.expr(
                    "date_add(d0, CAST(datediff(d1, d0) DIV 2 AS INT))"
                )
            ).alias("first_half"),
        )
        .distinct()
    )
    sets = labeled.agg(
        F.countDistinct(F.when(F.col("first_half"), F.col("user_id")))
        .cast("bigint")
        .alias("n_a"),
        F.countDistinct(F.when(~F.col("first_half"), F.col("user_id")))
        .cast("bigint")
        .alias("n_b"),
        F.countDistinct("user_id").cast("bigint").alias("n_union"),
    )
    return sets.select(
        "n_a",
        "n_b",
        "n_union",
        F.expr("CAST(n_a + n_b - n_union AS BIGINT)").alias("n_both"),
        F.expr(
            "CAST(1000 * (n_a + n_b - n_union) DIV nullif(n_union, 0) AS BIGINT)"
        ).alias("jaccard_permille"),
        F.expr(
            "CAST(1000 * (n_a + n_b - n_union) DIV nullif(least(n_a, n_b), 0)"
            " AS BIGINT)"
        ).alias("containment_permille"),
    )
