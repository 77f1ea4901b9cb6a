"""Temporal/advanced-join query declarations.

The as-of oracle uses DuckDB's native ASOF JOIN — an independent
implementation of the same semantics, so agreement is strong
evidence the union+window composition is correct.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_jobs_spark.operators import money as M

from etl_jobs_spark.operators import temporal as TP
from etl_jobs_spark.queries import _shared as SH
from etl_jobs_spark.registry import register
from etl_jobs_spark.sources.readers import read_table

#: Irregular value bands (deliberately non-uniform so an arithmetic
#: band key canNOT express the join — a true range join).
BANDS = [(0.0, 5.0, "micro"), (5.0, 20.0, "small"), (20.0, 50.0, "mid"),
         (50.0, 150.0, "large"), (150.0, 1000.0, "jumbo")]


@register(
    "join_asof_events",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, max(event_id) AS event_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
    purchases AS (
      SELECT event_id, user_id, ts, value
      FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP_NS) AS ts, p.value,
           c.event_id AS asof_event_id, CAST(c.ts AS TIMESTAMP_NS) AS asof_ts
    FROM purchases p
    ASOF JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof_events(spark, sf_dir):
    """As-of join: each purchase gets the user's latest click at or
    before it (clicks deduped to one per instant). Spark side is the
    union+window composition; oracle is DuckDB's native ASOF JOIN."""
    ev = read_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("event_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return TP.asof_join(
        purchases,
        clicks,
        key="user_id",
        ts="ts",
        tiebreak="event_id",
        right_payload=["event_id", "ts"],
    )


@register(
    "join_asof_forward",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, min(event_id) AS event_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
    purchases AS (
      SELECT event_id, user_id, ts, value
      FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP_NS) AS ts, p.value,
           c.event_id AS next_event_id, CAST(c.ts AS TIMESTAMP_NS) AS next_ts
    FROM purchases p
    ASOF JOIN clicks c
      ON p.user_id = c.user_id AND p.ts <= c.ts
    """,
)
def join_asof_forward(spark, sf_dir):
    """Forward as-of join: each purchase gets the user's NEXT click
    at or after it — the did-the-user-come-back lookahead
    (post-purchase engagement attribution). Same one-shuffle
    union+window composition as the backward join with the scan
    reversed; oracle is DuckDB's native ASOF JOIN with the
    inequality flipped — an independent implementation of the
    lookahead semantics."""
    ev = read_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("event_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return TP.asof_join_forward(
        purchases,
        clicks,
        key="user_id",
        ts="ts",
        tiebreak="event_id",
        right_payload=["event_id", "ts"],
    )


def _bands_values() -> str:
    return ", ".join(f"({lo}, {hi}, '{name}')" for lo, hi, name in BANDS)


@register(
    "join_range_band",
    oracle=f"""
    WITH bands(lo, hi, band) AS (VALUES {_bands_values()})
    SELECT band, CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events JOIN bands ON value >= lo AND value < hi
    GROUP BY band
    """,
)
def join_range_band(spark, sf_dir):
    """Range join against an irregular bands dimension (broadcast
    inequality join), aggregated per band."""
    ev = read_table(spark, sf_dir, "events")
    bands = ev.sparkSession.createDataFrame(
        BANDS, "lo DOUBLE, hi DOUBLE, band STRING"
    )
    return (
        TP.range_band_join(ev, bands, "value")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            M.dsum("value").alias("total_value"),
        )
    )


@register(
    "agg_rollup_time",
    oracle="""
    SELECT CAST(coalesce(date_trunc('hour', ts), TIMESTAMP '1970-01-01')
                AS TIMESTAMP_NS) AS bucket_hour,
           coalesce(event_type, 'ALL') AS event_type,
           count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY ROLLUP (date_trunc('hour', ts), event_type)
    -- HAVING is value-neutral on non-empty input (every emitted
    -- group has >=1 row); it pins the engine's documented choice of
    -- Spark semantics for the empty relation — rollup of nothing is
    -- nothing, not an ANSI 0-count grand-total row (round-11
    -- empty-input axis)
    HAVING count(*) > 0
    """,
)
def agg_rollup_time(spark, sf_dir):
    """Hierarchical time rollup (hour → type → grand total) — the
    hypertable continuous-aggregate shape, one shuffle."""
    return TP.rollup_time(read_table(spark, sf_dir, "events"))


@register(
    "agg_cube_events",
    oracle=f"""
    SELECT coalesce(dayofweek(ts) + 1, -1) AS dow,
           coalesce(event_type, 'ALL') AS event_type,
           count(*) AS n, {M.davg_sql("value")} AS avg_value
    FROM events
    GROUP BY CUBE (dayofweek(ts) + 1, event_type)
    -- Spark empty-relation semantics pinned (see agg_rollup_time)
    HAVING count(*) > 0
    """,
)
def agg_cube_events(spark, sf_dir):
    """CUBE over (day-of-week, event_type): the full grouping-set
    lattice in one pass (Spark dayofweek is 1=Sunday; DuckDB's is
    0-based, offset in the oracle)."""
    return TP.cube_events(read_table(spark, sf_dir, "events"))


#: Bucket width for the arithmetic range-join key: the coarsest
#: width <= every band's span, so each fact row lands in exactly one
#: bucket and each band explodes to a handful of buckets.
AUTOBUCKET_W = 5.0


@register(
    "join_range_autobucket",
    oracle=f"""
    WITH bands(lo, hi, band) AS (VALUES {_bands_values()})
    SELECT band, CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events JOIN bands ON value >= lo AND value < hi
    GROUP BY band
    """,
)
def join_range_autobucket(spark, sf_dir):
    """Range join via an arithmetic bucket key — the scale path
    :func:`operators.temporal.range_band_join`'s docstring promises
    for when the band table is too large to broadcast-NLJ. Both
    sides compute bucket = floor(value / W); each band explodes to
    the buckets it overlaps (map-only, proportional to span/W, on
    the BAND side — never the fact side); the join is then a plain
    equi-join on the bucket, post-filtered by the exact bounds.
    Identical answer to join_range_band (same oracle), shuffle-
    hash-joinable at any band-table size instead of O(n·k)
    nested-loop. The inequality never leaves the small side."""
    ev = read_table(spark, sf_dir, "events")
    bands = ev.sparkSession.createDataFrame(
        BANDS, "lo DOUBLE, hi DOUBLE, band STRING"
    )
    w = AUTOBUCKET_W
    band_buckets = bands.select(
        "lo",
        "hi",
        "band",
        F.explode(
            F.expr(
                f"sequence(CAST(floor(lo / {w}) AS BIGINT),"
                f" CAST(floor((hi - 1e-9) / {w}) AS BIGINT))"
            )
        ).alias("bucket"),
    )
    facts = ev.select(
        "value", F.expr(f"CAST(floor(value / {w}) AS BIGINT)").alias("bucket")
    )
    return (
        facts.join(band_buckets, "bucket")
        .filter((F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            M.dsum("value").alias("total_value"),
        )
    )


#: Canonicalized purchase rows for the as-of family: the as-of
#: kernel re-joins its backward/forward passes on ``left_id``
#: (asof_join_nearest's documented uniqueness precondition) and the
#: tolerance variant restores unmatched rows by an id anti-join —
#: both fan out under duplicate event_ids (round-12 dup-key axis).
#: One deterministic row per event_id, pinned in both engines.
_CANON_PURCHASE_ORDER = ["user_id", "ts", "value"]
_CANON_PURCHASES = SH.canonical_per_key_sql(
    "(SELECT event_id, user_id, ts, value FROM events"
    " WHERE event_type = 'purchase')",
    ["event_id", "user_id", "ts", "value"],
    "event_id",
    _CANON_PURCHASE_ORDER,
)


def _purchases_canon(ev):
    return SH.canonical_per_key(
        ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        ),
        "event_id",
        _CANON_PURCHASE_ORDER,
    )


@register(
    "join_asof_nearest",
    oracle=f"""
    WITH clicks AS (
      SELECT user_id, ts, max(event_id) AS event_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
    purchases AS (
      SELECT * FROM {_CANON_PURCHASES}),
    prev AS (
      SELECT p.event_id AS pid, c.event_id AS cid, c.ts AS cts
      FROM purchases p
      ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts),
    nxt AS (
      SELECT p.event_id AS pid, c.event_id AS cid, c.ts AS cts
      FROM purchases p
      ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts <= c.ts)
    SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP_NS) AS ts, p.value,
           CASE WHEN pv.cts IS NOT NULL AND (nx.cts IS NULL
                      OR epoch_us(p.ts) - epoch_us(pv.cts)
                         <= epoch_us(nx.cts) - epoch_us(p.ts))
                THEN pv.cid ELSE nx.cid END AS nearest_event_id,
           CAST(CASE WHEN pv.cts IS NOT NULL AND (nx.cts IS NULL
                      OR epoch_us(p.ts) - epoch_us(pv.cts)
                         <= epoch_us(nx.cts) - epoch_us(p.ts))
                THEN pv.cts ELSE nx.cts END AS TIMESTAMP_NS) AS nearest_ts
    FROM purchases p
    JOIN prev pv ON pv.pid = p.event_id
    JOIN nxt nx ON nx.pid = p.event_id
    """,
)
def join_asof_nearest(spark, sf_dir):
    """Nearest as-of join: each purchase gets the user's CLOSEST
    click in time, before or after (ties prefer the earlier click) —
    the attribution variant when sessions can start on either side of
    the conversion. Composed from the backward + forward union+window
    passes re-joined on the purchase id; the oracle composes DuckDB's
    native ASOF LEFT JOIN both ways and picks by microsecond
    distance — an independent implementation of the same semantics."""
    ev = read_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("event_id"))
    )
    purchases = _purchases_canon(ev)
    return TP.asof_join_nearest(
        purchases,
        clicks,
        key="user_id",
        ts="ts",
        tiebreak="event_id",
        right_payload=["event_id", "ts"],
        left_id="event_id",
    )


#: Maintenance/campaign windows for the interval-overlap join —
#: deliberately mixed spans (1 hour .. 7 days) over the fixture's
#: January range, half-open [start, end).
OVERLAP_WINDOWS = [
    ("w1", "2024-01-03 06:00:00", "2024-01-03 18:00:00"),
    ("w2", "2024-01-07 00:00:00", "2024-01-09 00:00:00"),
    ("w3", "2024-01-12 20:00:00", "2024-01-13 04:00:00"),
    ("w4", "2024-01-15 00:00:00", "2024-01-22 00:00:00"),
    ("w5", "2024-01-25 09:30:00", "2024-01-25 10:30:00"),
    ("w6", "2024-01-28 00:00:00", "2024-01-31 00:00:00"),
]

#: Interval-join bucket width: 1 hour in microseconds.
_OVL_BUCKET_US = 3_600_000_000


def _overlap_windows_values() -> str:
    return ", ".join(
        f"('{n}', TIMESTAMP '{s}', TIMESTAMP '{e}')"
        for n, s, e in OVERLAP_WINDOWS
    )


@register(
    "join_interval_overlap",
    oracle=f"""
    WITH w(wname, ws, we) AS (VALUES {_overlap_windows_values()}),
    act AS (
        SELECT user_id, CAST(ts AS DATE) AS adate,
               min(ts) AS a_min, max(ts) AS a_max
        FROM events GROUP BY 1, 2
    )
    SELECT wname,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM act JOIN w ON a_min < we AND a_max >= ws
    GROUP BY wname
    """,
)
def join_interval_overlap(spark, sf_dir):
    """Interval-OVERLAP join: per-user daily activity intervals
    [first event, last event] against a table of maintenance/campaign
    windows — which users were active during which window. A naive
    inequality join is a cartesian nested loop; the scale plan
    explodes BOTH interval sets to the hour buckets they cover,
    equi-joins on the bucket (candidate pairs only where intervals
    share an hour), de-duplicates pairs that met in several buckets,
    and post-filters the exact overlap predicate — the DuckDB oracle
    states the same join as the naive inequality, an independent
    implementation. Bucket fan-out is span/1h per interval and lands
    on the SMALL side's buckets for long windows; the fact side's
    daily intervals explode to at most 24 buckets."""
    ev = read_table(spark, sf_dir, "events")
    us = "unix_micros(CAST({} AS TIMESTAMP))"
    act = (
        ev.groupBy(
            "user_id", F.expr("CAST(ts AS DATE)").alias("adate")
        )
        .agg(F.min("ts").alias("a_min"), F.max("ts").alias("a_max"))
        .select(
            "user_id",
            "adate",
            "a_min",
            "a_max",
            F.explode(
                F.expr(
                    f"sequence({us.format('a_min')} DIV {_OVL_BUCKET_US},"
                    f" {us.format('a_max')} DIV {_OVL_BUCKET_US})"
                )
            ).alias("bucket"),
        )
    )
    w = spark.createDataFrame(
        [(n, s, e) for n, s, e in OVERLAP_WINDOWS],
        "wname STRING, ws_s STRING, we_s STRING",
    ).select(
        "wname",
        F.expr("CAST(ws_s AS TIMESTAMP)").alias("ws"),
        F.expr("CAST(we_s AS TIMESTAMP)").alias("we"),
    )
    wb = w.select(
        "wname",
        "ws",
        "we",
        F.explode(
            F.expr(
                f"sequence(unix_micros(ws) DIV {_OVL_BUCKET_US},"
                f" (unix_micros(we) - 1) DIV {_OVL_BUCKET_US})"
            )
        ).alias("bucket"),
    )
    pairs = (
        act.join(wb, "bucket")
        .filter((F.col("a_min") < F.col("we")) & (F.col("a_max") >= F.col("ws")))
        .select("user_id", "adate", "wname")
        .distinct()
    )
    return pairs.groupBy("wname").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "ts_anomaly_mad",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP_NS) AS window_start,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    med AS (
      SELECT event_type, quantile_cont(n, 0.5) AS med
      FROM hourly GROUP BY event_type),
    dev AS (
      SELECT h.event_type, h.window_start, h.n, m.med,
             abs(h.n - m.med) AS dev
      FROM hourly h JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(dev, 0.5) AS mad
      FROM dev GROUP BY event_type)
    SELECT d.event_type, d.window_start, d.n, d.med, ma.mad, d.dev,
           (d.dev > 1.5 * ma.mad AND ma.mad > 0) AS is_anomaly
    FROM dev d JOIN mad ma USING (event_type)
    """,
)
def ts_anomaly_mad(spark, sf_dir):
    """Robust time-series anomaly detection: per-type hourly event
    counts scored by median absolute deviation — the
    outlier-resistant alternative to z-scores (one hot hour can't
    drag its own threshold the way it drags a mean/stddev). Every
    hour is emitted with its deviation and an ``is_anomaly`` flag so
    the result doubles as the monitoring series. Float discipline:
    counts are integers and both medians are linear interpolations of
    integer (then half-integer) inputs, so every value is an exactly-
    representable binary fraction — the cross-engine comparison is
    bit-exact with NO rounding step. Scale shape: two keyed
    aggregations over (type, hour) partials (map-side combined) and
    two broadcast-sized joins back onto the hourly series — the
    per-type stats table is |event_types| rows no matter how many
    fact rows; nothing driver-side."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("window_start")
    ).agg(F.count(F.lit(1)).alias("n"))
    med = hourly.groupBy("event_type").agg(
        F.expr("percentile(n, 0.5)").alias("med")
    )
    dev = hourly.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("n") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(dev, 0.5)").alias("mad")
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "window_start",
        "n",
        "med",
        "mad",
        "dev",
        ((F.col("dev") > 1.5 * F.col("mad")) & (F.col("mad") > 0)).alias(
            "is_anomaly"
        ),
    )


#: EWMA window: trailing 16 hourly buckets, decay 1/2 per step,
#: fixed-point weights 2^(15-j) — integer-exact in both engines.
_EWMA_LAGS = 16


def _ewma_terms(engine: str) -> str:
    terms = [
        f"coalesce(lag(n, {j}) OVER w, 0) * {1 << (_EWMA_LAGS - 1 - j)}"
        for j in range(_EWMA_LAGS)
    ]
    return " + ".join(terms)


@register(
    "ts_ewma_hourly",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP_NS) AS window_start,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2)
    SELECT event_type, window_start, n,
           CAST({_ewma_terms('duckdb')} AS BIGINT) AS ewma_scaled
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY window_start)
    """,
)
def ts_ewma_hourly(spark, sf_dir):
    """Exponentially-weighted trailing smoother over the hourly
    event series — the standard recurrence ewma_t = x_t/2 +
    ewma_{t-1}/2, which is sequential and therefore unexpressible as
    a plain aggregate, UNROLLED into its closed form: a trailing-16
    window of lag() terms with fixed-point weights 2^(15-j) (beyond
    16 steps the 1/2-decay contribution is below one count). All
    arithmetic is integer (the _POW_SCALE float discipline taken to
    its limit: no floats at all), so the driver compare is bit-exact.
    Scale shape: ONE window pass per type partition — the unrolled
    lags share a single sort/frame, no self-joins, no recursion; at
    100 TB this is a keyed window over (type, hour) partials exactly
    like ts_anomaly_mad's input stage."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("window_start")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        "OVER (PARTITION BY event_type ORDER BY window_start)"
    )
    expr = _ewma_terms("spark").replace("OVER w", w)
    return hourly.select(
        "event_type",
        "window_start",
        "n",
        F.expr(f"CAST({expr} AS BIGINT)").alias("ewma_scaled"),
    )


#: As-of tolerance: matches older than this are nulled out (the
#: feature-store staleness cap).
_ASOF_TOL_US = 30 * 60 * 1_000_000


@register(
    "join_asof_tolerance",
    oracle=f"""
    WITH clicks AS (
      SELECT user_id, ts, max(event_id) AS event_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
    purchases AS (
      SELECT * FROM {_CANON_PURCHASES})
    SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP_NS) AS ts, p.value,
           CASE WHEN c.ts IS NOT NULL
                 AND epoch_us(CAST(p.ts AS TIMESTAMP))
                     - epoch_us(CAST(c.ts AS TIMESTAMP)) <= {_ASOF_TOL_US}
                THEN c.event_id END AS asof_event_id,
           CASE WHEN c.ts IS NOT NULL
                 AND epoch_us(CAST(p.ts AS TIMESTAMP))
                     - epoch_us(CAST(c.ts AS TIMESTAMP)) <= {_ASOF_TOL_US}
                THEN CAST(c.ts AS TIMESTAMP_NS) END AS asof_ts
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof_tolerance(spark, sf_dir):
    """As-of join with a STALENESS TOLERANCE — the feature-store
    contract (pandas merge_asof's ``tolerance``): each purchase gets
    the user's latest prior click ONLY if it is at most 30 minutes
    old; staler matches are nulled, and purchases with no prior
    click at all survive with nulls (LEFT semantics). A feature
    older than the cap is a training-serving skew bug — this
    operator is where that rule lives. Composition: the shared
    union+window as-of kernel (one keyed window pass, no range
    join), tolerance applied as an integer-microsecond projection,
    unmatched left rows restored by an anti-join union (both extra
    steps map-only or broadcast-sized; the window shuffle is still
    the only fact shuffle). Purchase ids canonicalize in one keyed
    window (the duplicate-id axis)."""
    ev = read_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("event_id"))
    )
    purchases = _purchases_canon(ev)
    inner = TP.asof_join(
        purchases,
        clicks,
        key="user_id",
        ts="ts",
        tiebreak="event_id",
        right_payload=["event_id", "ts"],
    )
    within = F.expr(
        f"unix_micros(cast(ts as timestamp))"
        f" - unix_micros(cast(asof_ts as timestamp)) <= {_ASOF_TOL_US}"
    )
    matched = inner.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(within, F.col("asof_event_id")).alias("asof_event_id"),
        F.when(within, F.col("asof_ts")).alias("asof_ts"),
    )
    unmatched = purchases.join(
        inner.select("event_id"), "event_id", "left_anti"
    ).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lit(None).cast(inner.schema["asof_event_id"].dataType).alias(
            "asof_event_id"
        ),
        F.lit(None).cast(inner.schema["asof_ts"].dataType).alias("asof_ts"),
    )
    return matched.unionByName(unmatched)


@register(
    "ts_interval_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + 1800000000 AS e
      FROM events),
    flagged AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN s > coalesce(
                    max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING),
                    -9223372036854775808)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv),
    islands AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (PARTITION BY user_id
                                   ORDER BY s, event_id
                                   ROWS UNBOUNDED PRECEDING) AS island_id
      FROM flagged),
    merged AS (
      SELECT user_id, island_id,
             min(s) AS island_start, max(e) AS island_end
      FROM islands GROUP BY 1, 2)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(island_end - island_start) // 1000000 AS BIGINT)
             AS coverage_sec
    FROM merged GROUP BY user_id
    """,
)
def ts_interval_coverage(spark, sf_dir):
    """Union-of-intervals coverage per user: every event opens a
    30-minute activity window; overlapping windows merge, and the
    metric is total covered wall-clock (plus island count) — the
    'how long was the user actually active' number that naive
    sum-of-durations overstates wherever sessions overlap. The
    classic sweep-line realized as pure windows: a running
    max-of-interval-ends over PRECEDING rows marks island starts
    (integer microsecond arithmetic — bit-exact), a running sum
    numbers the islands, and two keyed aggregations finish. Scale
    shape: everything is partitioned by user_id — one shuffle, no
    self-joins, no driver iteration; at 100 TB this is a single
    window family over the user partitioning the events table
    already wants."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    # ts surfaces as TIMESTAMP_NTZ; session TZ is pinned UTC, so the
    # cast to (LTZ) TIMESTAMP is value-preserving and unix_micros is
    # exact integer microseconds.
    us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    iv = ev.select(
        "user_id",
        "event_id",
        us.alias("s"),
        (us + F.lit(1800000000)).alias("e"),
    )
    prior = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(
            F.col("s")
            > F.coalesce(
                F.max("e").over(prior), F.lit(-9223372036854775808)
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    # Same total order (s, event_id) as the new_island window: e is
    # s + a constant, so ordering by (s, e) leaves ties among
    # duplicate timestamps free to land before/after the
    # island-opening row nondeterministically.
    run = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    islands = flagged.withColumn(
        "island_id", F.sum("new_island").over(run)
    )
    merged = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("island_start"), F.max("e").alias("island_end")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.expr("CAST(sum(island_end - island_start) DIV 1000000 AS BIGINT)")
        .alias("coverage_sec"),
    )


@register(
    "ts_autocorr_lag1",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    pairs AS (
      SELECT event_type, cnt AS x,
             lag(cnt) OVER (PARTITION BY event_type ORDER BY hr) AS y
      FROM hourly),
    stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM pairs WHERE y IS NOT NULL GROUP BY 1)
    SELECT event_type, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
             AS autocorr_lag1
    FROM stats
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
)
def ts_autocorr_lag1(spark, sf_dir):
    """Lag-1 autocorrelation of each type's hourly event-count
    series — the burstiness/seasonality diagnostic (near 0 =
    memoryless arrivals, near 1 = trending load). Float discipline:
    all six moment sums are exact BIGINTs (counts and their
    products), and the Pearson formula touches floating point only
    in the final sqrt/divide over exact integers — IEEE
    correctly-rounded operations on identical inputs, so round(…, 6)
    is bit-stable across engines. Scale shape: one hourly
    aggregation (map-side combinable), one keyed window for the lag
    pairing, one tiny per-type aggregate — series length is
    hours-of-history, never row count."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    pairs = hourly.select(
        "event_type",
        F.col("cnt").alias("x"),
        F.lag("cnt")
        .over(W.partitionBy("event_type").orderBy("hr"))
        .alias("y"),
    ).filter(F.col("y").isNotNull())
    stats = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return stats.filter((vx > 0) & (vy > 0)).select(
        "event_type",
        "n",
        F.round(
            (n * sxy - sx * sy).cast("double")
            / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
            6,
        ).alias("autocorr_lag1"),
    )


@register(
    "ts_ols_daily_trend",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS day_num,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  // 100 AS BIGINT) AS y
      FROM orders GROUP BY 1),
    centered AS (
      SELECT CAST(day_num - min(day_num) OVER () AS BIGINT) AS x, y
      FROM daily),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM centered)
    SELECT n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
           round((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
                 / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS intercept,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS r2
    FROM s
    """,
)
def ts_ols_daily_trend(spark, sf_dir):
    """Closed-form OLS trend of daily revenue (slope $/day,
    intercept, R²) — the forecasting baseline fitted in ONE
    aggregation pass via the normal equations, no iteration and no
    driver math. Exact-arithmetic discipline: daily revenue is
    integer DOLLARS (cents summed exactly, then integer-divided),
    day index is recentered to keep every moment product inside
    BIGINT, and the five sums are exact integers; the only float ops
    are final divisions (and two products of exactly-representable
    integers, < 2⁵³) — identical IEEE results on both engines, so
    round() is bit-stable. Scale shape: a dated-key aggregation then
    a single-row reduce — the same plan at any data size; this is
    what replaces collect()-and-numpy for trend fitting at 100 TB."""
    orders = read_table(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    daily = orders.groupBy(
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
        ).alias("day_num")
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) DIV 100 AS BIGINT)"
        ).alias("y")
    )
    centered = daily.select(
        (F.col("day_num") - F.min("day_num").over(W.partitionBy()))
        .cast("bigint")
        .alias("x"),
        "y",
    )
    s = centered.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    cov = (n * sxy - sx * sy).cast("double")
    vx = (n * sxx - sx * sx).cast("double")
    # n·syy and sy² overflow BIGINT (≈1.7e19 at sf0.01); compute this
    # variance in DOUBLE from exact integer operands — both engines
    # perform the identical correctly-rounded multiply/subtract.
    vy = n.cast("double") * syy.cast("double") - sy.cast("double") * sy.cast(
        "double"
    )
    return s.select(
        "n",
        F.round(cov / vx, 6).alias("slope"),
        F.round(
            (
                sy.cast("double") * sxx.cast("double")
                - sx.cast("double") * sxy.cast("double")
            )
            / vx,
            4,
        ).alias("intercept"),
        F.round(cov * cov / (vx * vy), 6).alias("r2"),
    )


@register(
    "ts_rolling_median_hourly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2)
    SELECT event_type, CAST(hr AS TIMESTAMP_NS) AS hr, cnt,
           quantile_cont(CAST(cnt AS DOUBLE), 0.5)
             OVER (PARTITION BY event_type ORDER BY hr
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
             AS rolling_median
    FROM hourly
    """,
)
def ts_rolling_median_hourly(spark, sf_dir):
    """Trailing 5-bucket rolling MEDIAN of each type's hourly event
    counts — the robust smoother (a single spiky hour doesn't move
    it, unlike the EWMA/mean family; complements ts_anomaly_mad).
    Spark has no median-over-window, so the operator composes it
    exactly: collect the ≤5-element frame, sort it, and take the
    middle element (odd) or the mean of the two middle elements
    (even) — bit-identical to the oracle's linear-interpolation
    quantile at q=0.5 because the inputs are integers and the only
    float op is one add-and-halve. The frame is bounded (5 rows), so
    the collected array is O(1) per row — this stays a pure window
    over the per-type series, never a self-join, and series length
    is hours-of-history regardless of event volume."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    frame = (
        W.partitionBy("event_type").orderBy("hr").rowsBetween(-4, 0)
    )
    arr = F.array_sort(F.collect_list("cnt").over(frame))
    nsz = F.size(arr)
    med = F.when(
        nsz % 2 == 1,
        F.element_at(arr, ((nsz + 1) / 2).cast("int")).cast("double"),
    ).otherwise(
        (
            F.element_at(arr, (nsz / 2).cast("int"))
            + F.element_at(arr, (nsz / 2).cast("int") + 1)
        )
        / 2.0
    )
    return hourly.select(
        "event_type", "hr", "cnt", med.alias("rolling_median")
    )


@register(
    "ts_seasonal_profile",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    keyed AS (
      SELECT event_type, CAST(extract(hour FROM hr) AS INT) AS hod, cnt
      FROM hourly),
    withmean AS (
      SELECT event_type, hod, cnt,
             CAST(sum(cnt) OVER (PARTITION BY event_type, hod)
                  * 1000000
                  // count(*) OVER (PARTITION BY event_type, hod)
                  AS BIGINT) AS seasonal_micro
      FROM keyed)
    SELECT event_type, hod,
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(cnt) AS BIGINT) AS total_events,
           CAST(max(seasonal_micro) AS BIGINT) AS seasonal_micro,
           CAST(sum(abs(cnt * 1000000 - seasonal_micro)) // 1000000
                AS BIGINT) AS resid_abs_sum
    FROM withmean GROUP BY event_type, hod
    """,
)
def ts_seasonal_profile(spark, sf_dir):
    """Seasonal (hour-of-day) load profile with residuals — the
    seasonal-naive decomposition that baselines every traffic
    anomaly detector: per (type, hour-of-day), the mean hourly count
    (the seasonal component, as an exact integer micro-mean) and the
    summed absolute deviation of the observed hours from it (the
    de-seasonalized residual mass — big residuals = the hour is
    volatile beyond its daily pattern). All integer arithmetic: the
    micro-mean is a BIGINT division, residuals are exact integer
    |differences|. Scale shape: one hourly aggregation (map-side
    combinable) then a window + aggregate over the (type, hod)
    partitioning — the profile table is |types|·24 rows at any
    volume."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    keyed = hourly.select(
        "event_type",
        F.hour("hr").cast("int").alias("hod"),
        "cnt",
    )
    w = W.partitionBy("event_type", "hod")
    withmean = keyed.withColumn(
        "seasonal_micro",
        F.expr(
            "CAST(sum(cnt) OVER (PARTITION BY event_type, hod)"
            " * 1000000 DIV count(*) OVER (PARTITION BY event_type, hod)"
            " AS BIGINT)"
        ),
    )
    return withmean.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("cnt").cast("bigint").alias("total_events"),
        F.max("seasonal_micro").cast("bigint").alias("seasonal_micro"),
        F.expr(
            "CAST(sum(abs(cnt * 1000000 - seasonal_micro)) DIV 1000000"
            " AS BIGINT)"
        ).alias("resid_abs_sum"),
    )


@register(
    "ts_cusum_changepoint",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type,
             CAST(sum(cnt) * 1000000 // count(*) AS BIGINT) AS mean_micro,
             CAST(count(*) AS BIGINT) AS n_hours
      FROM hourly GROUP BY 1),
    cusum AS (
      SELECT h.event_type, h.hr, s.n_hours,
             CAST(sum(h.cnt * 1000000 - s.mean_micro)
                    OVER (PARTITION BY h.event_type ORDER BY h.hr
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
      FROM hourly h JOIN stats s USING (event_type)),
    ranked AS (
      SELECT event_type, hr, n_hours, c,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(c) DESC, hr) AS rk
      FROM cusum)
    SELECT event_type,
           CAST(hr AS TIMESTAMP_NS) AS changepoint_hour,
           CAST(abs(c) // 1000000 AS BIGINT) AS max_cusum,
           n_hours
    FROM ranked WHERE rk = 1
    """,
)
def ts_cusum_changepoint(spark, sf_dir):
    """CUSUM changepoint detection per event-type series: the
    cumulative sum of deviations from the series mean peaks (in
    absolute value) at the most likely regime-change hour — the
    classic offline changepoint estimator (the argmax of |CUSUM| is
    the single-changepoint MLE under a mean-shift model). All
    integer arithmetic: micro-quantized mean, exact prefix sums, an
    argmax window with an earliest-hour tiebreak — bit-stable on
    both engines. Scale shape: series length is hours-of-history;
    one hourly aggregation over the facts, then windows over the
    tiny series."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    stats = hourly.groupBy("event_type").agg(
        F.expr("CAST(sum(cnt) * 1000000 DIV count(*) AS BIGINT)").alias(
            "mean_micro"
        ),
        F.count(F.lit(1)).alias("n_hours"),
    )
    run = (
        W.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cusum = hourly.join(F.broadcast(stats), "event_type").withColumn(
        "c",
        F.sum(F.col("cnt") * 1000000 - F.col("mean_micro"))
        .over(run)
        .cast("bigint"),
    )
    rk = F.row_number().over(
        W.partitionBy("event_type").orderBy(F.abs(F.col("c")).desc(), "hr")
    )
    return (
        cusum.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("hr").alias("changepoint_hour"),
            F.expr("CAST(abs(c) DIV 1000000 AS BIGINT)").alias(
                "max_cusum"
            ),
            "n_hours",
        )
    )


@register(
    "ts_downsample_m4",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             epoch_us(ts) // 3600000000 AS bucket,
             epoch_us(ts) AS t,
             CAST(round(value * 100) AS BIGINT) AS cents,
             event_id
      FROM events WHERE value IS NOT NULL),
    ranked AS (
      SELECT event_type, bucket, t, cents, event_id,
             row_number() OVER (PARTITION BY event_type, bucket
                                ORDER BY t ASC, event_id ASC) AS rf,
             row_number() OVER (PARTITION BY event_type, bucket
                                ORDER BY t DESC, event_id DESC) AS rl,
             row_number() OVER (PARTITION BY event_type, bucket
                                ORDER BY cents ASC, event_id ASC) AS rmin,
             row_number() OVER (PARTITION BY event_type, bucket
                                ORDER BY cents DESC, event_id DESC) AS rmax
      FROM pts)
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           CAST(max(CASE WHEN rf = 1 THEN cents END) AS BIGINT)
             AS first_cents,
           CAST(max(CASE WHEN rl = 1 THEN cents END) AS BIGINT)
             AS last_cents,
           CAST(max(CASE WHEN rmin = 1 THEN cents END) AS BIGINT)
             AS min_cents,
           CAST(max(CASE WHEN rmax = 1 THEN cents END) AS BIGINT)
             AS max_cents,
           CAST(count(*) AS BIGINT) AS n_points
    FROM ranked GROUP BY event_type, bucket
    """,
)
def ts_downsample_m4(spark, sf_dir):
    """M4 time-series downsampling (Jugel et al., VLDB'14 — the
    standard visualization-grade reducer): per (series, hour
    bucket), keep first/last/min/max, which provably preserves the
    pixel-exact line rendering at the target width. Four rank
    windows over ONE (series, bucket) partitioning — a single sort
    per group serves rf/rl and a second serves rmin/rmax — then one
    grouped reduce; every selected value is integer cents with
    event_id tie-breaks, so the chosen representatives are identical
    cross-engine (min/max BY KEY, not just the extreme values). At
    100 TB this is the render-path aggregation a dashboard backend
    runs instead of shipping raw points; it partitions by series and
    never shuffles raw rows twice."""
    # points without a value don't render — excluded explicitly,
    # which also keeps the min/max rank windows engine-portable
    # (null sort order diverges across engines)
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    from pyspark.sql import Window as W

    us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    pts = ev.select(
        "event_type",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"
        ).alias("bucket"),
        us.alias("t"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        "event_id",
    )
    g = W.partitionBy("event_type", "bucket")
    ranked = pts.select(
        "event_type",
        "bucket",
        "cents",
        F.row_number()
        .over(g.orderBy(F.col("t").asc(), F.col("event_id").asc()))
        .alias("rf"),
        F.row_number()
        .over(g.orderBy(F.col("t").desc(), F.col("event_id").desc()))
        .alias("rl"),
        F.row_number()
        .over(g.orderBy(F.col("cents").asc(), F.col("event_id").asc()))
        .alias("rmin"),
        F.row_number()
        .over(g.orderBy(F.col("cents").desc(), F.col("event_id").desc()))
        .alias("rmax"),
    )
    return ranked.groupBy("event_type", "bucket").agg(
        F.max(F.when(F.col("rf") == 1, F.col("cents")))
        .cast("bigint")
        .alias("first_cents"),
        F.max(F.when(F.col("rl") == 1, F.col("cents")))
        .cast("bigint")
        .alias("last_cents"),
        F.max(F.when(F.col("rmin") == 1, F.col("cents")))
        .cast("bigint")
        .alias("min_cents"),
        F.max(F.when(F.col("rmax") == 1, F.col("cents")))
        .cast("bigint")
        .alias("max_cents"),
        F.count(F.lit(1)).cast("long").alias("n_points"),
    )


@register(
    "ts_missing_buckets",
    oracle="""
    WITH hrs AS (
      SELECT DISTINCT event_type,
             epoch_us(ts) // 3600000000 AS h
      FROM events),
    gaps AS (
      SELECT event_type, h,
             h - lag(h) OVER (PARTITION BY event_type ORDER BY h)
               AS step
      FROM hrs)
    SELECT event_type,
           CAST(min(h) AS BIGINT) AS first_hour,
           CAST(max(h) AS BIGINT) AS last_hour,
           CAST(max(h) - min(h) + 1 AS BIGINT) AS expected_n,
           CAST(count(*) AS BIGINT) AS observed_n,
           CAST(max(h) - min(h) + 1 - count(*) AS BIGINT) AS missing_n,
           CAST(coalesce(max(step), 1) - 1 AS BIGINT) AS max_gap_hours
    FROM gaps GROUP BY event_type
    """,
)
def ts_missing_buckets(spark, sf_dir):
    """Calendar-gap census per series: which hourly buckets SHOULD
    exist (min..max of the series) but don't — the
    missing-data/ingestion-hole detector every time-series quality
    gate runs. No bucket explosion: expected count is pure endpoint
    arithmetic, observed is a distinct count, and the largest
    contiguous hole falls out of one lag window over the (tiny)
    distinct-hour table. Integer hour indexes (epoch_us DIV 3600e6)
    end-to-end. Scale: one distinct-aggregate shuffle on (series,
    hour) — the gap analysis itself runs over |series|·|hours|
    rows, thousands of times smaller than the raw events."""
    ev = read_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    hrs = ev.select(
        "event_type",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"
        ).alias("h"),
    ).distinct()
    gaps = hrs.withColumn(
        "step",
        F.col("h")
        - F.lag("h").over(W.partitionBy("event_type").orderBy("h")),
    )
    return gaps.groupBy("event_type").agg(
        F.min("h").cast("bigint").alias("first_hour"),
        F.max("h").cast("bigint").alias("last_hour"),
        (F.max("h") - F.min("h") + 1).cast("bigint").alias("expected_n"),
        F.count(F.lit(1)).cast("long").alias("observed_n"),
        (F.max("h") - F.min("h") + 1 - F.count(F.lit(1)))
        .cast("bigint")
        .alias("missing_n"),
        (F.coalesce(F.max("step"), F.lit(1)) - 1)
        .cast("bigint")
        .alias("max_gap_hours"),
    )


@register(
    "ts_stl_decompose_hourly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    tr AS (
      SELECT event_type, h, cnt,
             CAST(CAST(sum(cnt) OVER w AS BIGINT)
                  // count(*) OVER w AS BIGINT) AS trend
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
    se AS (
      SELECT event_type, h, cnt, trend,
             CAST(CAST(sum(cnt - trend) OVER s AS BIGINT)
                  // count(*) OVER s AS BIGINT) AS seasonal
      FROM tr
      WINDOW s AS (PARTITION BY event_type, h % 24))
    SELECT event_type, CAST(h AS BIGINT) AS h, cnt, trend, seasonal,
           CAST(cnt - trend - seasonal AS BIGINT) AS remainder
    FROM se
    """,
)
def ts_stl_decompose_hourly(spark, sf_dir):
    """STL-style decomposition of each type's hourly count series
    into trend + daily seasonal + remainder — the
    anomaly-vs-seasonality separation step (a spike is only an
    anomaly if it survives detrending and deseasonalizing). Classic
    construction, integerized: trend is a centered 25-row moving
    mean (integer sum DIV window count, edge windows use their
    actual size), seasonal is the per-hour-of-day mean of the
    detrended series (one unordered partition window), remainder is
    what's left. Truncating integer division is identical in both
    engines including negatives (verified: both truncate toward
    zero), so every component is bit-stable. Frames are ROWS over
    observed hours — a gap-dense series decomposes over its
    observations (pair with ts_missing_buckets for the gap audit).
    Scale: two window families over the hourly rollup (thousands of
    times smaller than raw events); the rollup is the only big
    shuffle."""
    ev = read_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"
            ).alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    tr = hourly.withColumn(
        "trend",
        F.expr(
            "CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY h "
            "ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) DIV "
            "count(*) OVER (PARTITION BY event_type ORDER BY h "
            "ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS BIGINT)"
        ),
    )
    se = tr.withColumn(
        "seasonal",
        F.expr(
            "CAST(CAST(sum(cnt - trend) OVER "
            "(PARTITION BY event_type, h % 24) AS BIGINT) DIV "
            "count(*) OVER (PARTITION BY event_type, h % 24) AS BIGINT)"
        ),
    )
    return se.select(
        "event_type",
        F.col("h").cast("bigint").alias("h"),
        "cnt",
        "trend",
        "seasonal",
        (F.col("cnt") - F.col("trend") - F.col("seasonal"))
        .cast("bigint")
        .alias("remainder"),
    )


@register(
    "ts_bollinger_breakouts",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    win AS (
      SELECT event_type, h, x,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(x) OVER w AS BIGINT) AS s,
             CAST(sum(x * x) OVER w AS BIGINT) AS ss
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
    flags AS (
      -- breakout iff |x - mean| > 2*sigma, cleared of ALL floats:
      -- (n*x - s)^2 > 4 * (n*ss - s*s)  [both sides * n^2]
      SELECT event_type, h, x, n,
             CASE WHEN n >= 12
                   AND (n*x - s) * (n*x - s) > 4 * (n*ss - s*s)
                  THEN CASE WHEN n*x > s THEN 1 ELSE -1 END
                  ELSE 0 END AS breakout
      FROM win)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(CASE WHEN breakout = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_up_breakouts,
           CAST(sum(CASE WHEN breakout = -1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_down_breakouts,
           CAST(min(CASE WHEN breakout <> 0 THEN h END) AS BIGINT)
             AS first_breakout_hour
    FROM flags GROUP BY event_type
    """,
)
def ts_bollinger_breakouts(spark, sf_dir):
    """Bollinger-band BREAKOUT detection over each type's hourly
    series — the rolling mean ± 2σ envelope every monitoring
    dashboard draws, with the band test cleared of floats entirely:
    |x − s/n| > 2·sqrt((n·ss − s²)/n²)  ⇔  (n·x − s)² > 4·(n·ss − s²)
    — exact BIGINTs both sides (moment products stay ≤ ~1e13 at any
    realistic hourly count), so the breakout flags are bit-stable
    with NO sqrt, NO division anywhere. 24-hour trailing frame, a
    12-observation warm-up guard, direction from the sign of
    n·x − s. One window family per series over the hourly rollup;
    the rollup is the only corpus-sized shuffle."""
    ev = read_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    hourly = (
        ev.select(
            "event_type",
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"
            ).alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-23, 0)
    )
    win = hourly.select(
        "event_type",
        "h",
        "x",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("x").over(w).cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("ss"),
    )
    flags = win.withColumn(
        "breakout",
        F.expr(
            "CASE WHEN n >= 12"
            " AND (n*x - s) * (n*x - s) > 4 * (n*ss - s*s)"
            " THEN CASE WHEN n*x > s THEN 1 ELSE -1 END ELSE 0 END"
        ),
    )
    return flags.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum(F.when(F.col("breakout") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_up_breakouts"),
        F.sum(F.when(F.col("breakout") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_down_breakouts"),
        F.min(F.when(F.col("breakout") != 0, F.col("h")))
        .cast("bigint")
        .alias("first_breakout_hour"),
    )


#: Fixed-point scale for the Holt level/trend state (2^10).
_HOLT_S = 1024


@register(
    "ts_holt_level_trend",
    oracle=f"""
    WITH RECURSIVE hourly AS (
      -- a NULL series key is not a series: the recursive fold JOINs
      -- on event_type equality, where NULL never matches itself, so
      -- the null group would silently vanish oracle-side while
      -- Spark's groupBy keeps it (string-null differential, r10) —
      -- both sides exclude it explicitly
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS x
      FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
    idx AS (
      SELECT event_type, x,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY h)
                  AS BIGINT) AS i
      FROM hourly),
    fold AS (
      SELECT event_type, i, x * {_HOLT_S} AS l,
             CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS sae
      FROM idx WHERE i = 1
      UNION ALL
      SELECT n.event_type, n.i,
             (n.x * {_HOLT_S} + f.l + f.b) // 2,
             ((n.x * {_HOLT_S} + f.l + f.b) // 2 - f.l + f.b) // 2,
             f.sae + abs(n.x * {_HOLT_S} - f.l - f.b)
      FROM fold f JOIN idx n
        ON n.event_type = f.event_type AND n.i = f.i + 1),
    lastrow AS (
      SELECT event_type, CAST(max(i) AS BIGINT) AS n_hours
      FROM idx GROUP BY 1)
    SELECT f.event_type, lr.n_hours,
           CAST(f.l AS BIGINT) AS level_scaled,
           CAST(f.b AS BIGINT) AS trend_scaled,
           CAST(f.l + f.b AS BIGINT) AS forecast_scaled,
           CAST(f.sae AS BIGINT) AS sae_scaled
    FROM fold f JOIN lastrow lr
      ON lr.event_type = f.event_type AND f.i = lr.n_hours
    """,
)
def ts_holt_level_trend(spark, sf_dir):
    """HOLT double-exponential smoothing (level + linear trend) over
    each type's hourly series, alpha = beta = 1/2, in 2^10 fixed
    point with truncating halving each step — the recurrence
    l_t = (x_t + l + b)/2, b_t = (l_t - l + b)/2 is inherently
    SEQUENTIAL, so the exactness discipline is per-step integer
    truncation stated identically in both engines (both truncate
    integer division toward zero). Emits the final state, the
    one-step forecast l + b, and the accumulated absolute one-step
    error (the in-sample backtest a forecast monitor tracks). Spark
    folds the sorted per-series array partition-locally with
    aggregate(); the oracle advances the identical recurrence as a
    recursive CTE. Scale: the corpus-sized stage is the hourly
    rollup; the fold touches |types| x |hours| state rows — for
    unbounded series the production shape is the streaming per-key
    state (stream_stateful_pandas), not a longer array."""
    # null series keys excluded on both sides — see oracle comment
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    hourly = (
        ev.select(
            "event_type",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias(
                "h"
            ),
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    series = hourly.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(h, x))), s -> s.x)"
        ).alias("xs")
    )
    folded = series.select(
        "event_type",
        F.size("xs").cast("long").alias("n_hours"),
        F.expr(
            f"""aggregate(
              slice(xs, 2, size(xs) - 1),
              named_struct(
                'l', xs[0] * CAST({_HOLT_S} AS BIGINT),
                'b', CAST(0 AS BIGINT), 'sae', CAST(0 AS BIGINT)),
              (acc, x) -> named_struct(
                'l', (x * {_HOLT_S} + acc.l + acc.b) DIV 2,
                'b', ((x * {_HOLT_S} + acc.l + acc.b) DIV 2
                      - acc.l + acc.b) DIV 2,
                'sae', acc.sae + abs(x * {_HOLT_S} - acc.l - acc.b)))"""
        ).alias("st"),
    )
    return folded.select(
        "event_type",
        "n_hours",
        F.col("st.l").cast("bigint").alias("level_scaled"),
        F.col("st.b").cast("bigint").alias("trend_scaled"),
        (F.col("st.l") + F.col("st.b")).cast("bigint").alias("forecast_scaled"),
        F.col("st.sae").cast("bigint").alias("sae_scaled"),
    )


#: SAX geometry: four 6-hour PAA segments per day, alphabet size 4
#: (quartile breakpoints over the GLOBAL segment-mean distribution,
#: assigned by ntile with a full deterministic tie-break).
SAX_SEGS_PER_DAY = 4
SAX_HOURS_PER_SEG = 6
SAX_ALPHABET = 4


@register(
    "ts_sax_symbols",
    oracle=f"""
    WITH seg AS (
      SELECT CAST(ts AS DATE) AS d,
             (epoch_us(ts) // 3600000000) % 24 // {SAX_HOURS_PER_SEG}
               AS seg,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    paa AS (
      SELECT d, seg,
             CAST(sum(cents) // count(*) AS BIGINT) AS paa,
             CAST(count(*) AS BIGINT) AS n_pts
      FROM seg GROUP BY d, seg),
    sym AS (
      SELECT d, seg, n_pts,
             ntile({SAX_ALPHABET}) OVER (ORDER BY paa, d, seg) AS q
      FROM paa),
    lettered AS (
      SELECT d, seg, n_pts,
             CASE q WHEN 1 THEN 'a' WHEN 2 THEN 'b'
                    WHEN 3 THEN 'c' ELSE 'd' END AS sym
      FROM sym)
    SELECT d,
           coalesce(max(CASE WHEN seg = 0 THEN sym END), '_')
           || coalesce(max(CASE WHEN seg = 1 THEN sym END), '_')
           || coalesce(max(CASE WHEN seg = 2 THEN sym END), '_')
           || coalesce(max(CASE WHEN seg = 3 THEN sym END), '_')
             AS sax_word,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(n_pts) AS BIGINT) AS n_points
    FROM lettered GROUP BY d
    """,
)
def ts_sax_symbols(spark, sf_dir):
    """SAX SYMBOLIZATION (Lin et al.'s Symbolic Aggregate
    approXimation) of the daily revenue shape: each day is reduced
    to a {s}-segment PAA (integer mean cents per 6-hour segment —
    sum DIV count, truncating identically in both engines) and each
    segment mean is mapped to a quartile letter a-d via ntile over
    the GLOBAL segment distribution with a full (paa, d, seg)
    tie-break, yielding one 4-letter word per day ('_' marks an
    empty segment — stated, not silently skipped). The symbolic
    index that motif/discord mining and SAX-based similarity search
    run on. Scale: one combinable (day, segment) rollup over the
    corpus, then window + pivot on the CALENDAR-bounded aggregate;
    the breakpoint fit is the ntile over that same bounded table —
    at a petabyte of events the symbol table is still
    4·(distinct days) rows.""".format(s=SAX_SEGS_PER_DAY)
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    seg = ev.select(
        F.col("ts").cast("date").alias("d"),
        F.expr(
            "(unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000) % 24"
            f" DIV {SAX_HOURS_PER_SEG}"
        ).alias("seg"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    paa = seg.groupBy("d", "seg").agg(
        F.expr("CAST(sum(cents) DIV count(*) AS BIGINT)").alias("paa"),
        F.count(F.lit(1)).cast("bigint").alias("n_pts"),
    )
    # row bound (r16 audit): paa is one row per (day, segment) —
    # calendar-bounded (days x segments-per-day)
    sym = paa.select(
        "d",
        "seg",
        "n_pts",
        F.ntile(SAX_ALPHABET)
        .over(W.orderBy("paa", "d", "seg"))
        .alias("q"),
    ).select(
        "d",
        "seg",
        "n_pts",
        F.expr(
            "CASE q WHEN 1 THEN 'a' WHEN 2 THEN 'b' "
            "WHEN 3 THEN 'c' ELSE 'd' END"
        ).alias("sym"),
    )
    segcol = [
        F.coalesce(
            F.max(F.when(F.col("seg") == s, F.col("sym"))), F.lit("_")
        )
        for s in range(SAX_SEGS_PER_DAY)
    ]
    return sym.groupBy("d").agg(
        F.concat(*segcol).alias("sax_word"),
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum("n_pts").cast("bigint").alias("n_points"),
    )


@register(
    "ts_theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM events GROUP BY 1, 2),
    slopes AS (
      SELECT a.d AS da, b.d AS db,
             CASE WHEN b.rev >= a.rev
                  THEN (b.rev - a.rev) * 1000 // (b.x - a.x)
                  ELSE -((a.rev - b.rev) * 1000 // (b.x - a.x))
             END AS slope
      FROM daily a JOIN daily b ON a.d < b.d),
    ranked AS (
      SELECT slope,
             row_number() OVER (ORDER BY slope, da, db) AS rn,
             count(*) OVER () AS n_pairs
      FROM slopes)
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           CAST(max(n_pairs) AS BIGINT) AS n_pairs,
           CAST(max(CASE WHEN rn = (n_pairs + 1) // 2 THEN slope END)
             AS BIGINT) AS median_slope_permille,
           CAST(max(CASE WHEN rn = (n_pairs + 3) // 4 THEN slope END)
             AS BIGINT) AS q1_slope_permille,
           CAST(max(CASE WHEN rn = (3 * n_pairs + 1) // 4 THEN slope END)
             AS BIGINT) AS q3_slope_permille
    FROM ranked
    """,
)
def ts_theil_sen_trend(spark, sf_dir):
    """THEIL–SEN ROBUST TREND of daily revenue: the median of all
    pairwise slopes — the breakdown-resistant alternative to
    ts_ols_daily_trend's least squares (one wild day moves OLS, not
    the pairwise-slope median). Exact-integer formulation: slopes in
    permille-cents-per-day via magnitude-then-sign division
    (|Δrev|·1000 DIV Δdays, negated when falling) because Spark's
    DIV truncates toward zero while DuckDB's // floors — identical
    only on non-negative operands, so the sign is applied OUTSIDE
    the division (stated; the same discipline as the bounded-series
    pair ops). Median and quartiles are order statistics with a
    full (slope, day-pair) tie-break — lower-median convention,
    deterministic. Scale: the pair expansion runs on the
    CALENDAR-bounded daily aggregate (k² pairs at k distinct days —
    ~6.7M at a decade), never raw rows; the corpus-sized stage is
    the one combinable day rollup."""
    from pyspark.sql import Window as W

    daily = (
        read_table(spark, sf_dir, "events")
        .groupBy(
            F.col("ts").cast("date").alias("d"),
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
            .cast("bigint")
            .alias("x"),
        )
        .agg(
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("rev")
        )
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(b, F.col("a.d") < F.col("b.d")).select(
        F.col("a.d").alias("da"),
        F.col("b.d").alias("db"),
        F.expr(
            "CASE WHEN b.rev >= a.rev "
            "THEN (b.rev - a.rev) * 1000 DIV (b.x - a.x) "
            "ELSE -((a.rev - b.rev) * 1000 DIV (b.x - a.x)) END"
        ).alias("slope"),
    )
    # row bound (r16 audit): slopes is one row per DAY PAIR —
    # calendar-bounded (about 6.7e6 rows at ten years of days)
    ranked = slopes.select(
        "slope",
        F.row_number().over(W.orderBy("slope", "da", "db")).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n_pairs"),
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    stats = ranked.agg(
        F.max("n_pairs").cast("bigint").alias("n_pairs"),
        F.max(
            F.expr("CASE WHEN rn = (n_pairs + 1) DIV 2 THEN slope END")
        )
        .cast("bigint")
        .alias("median_slope_permille"),
        F.max(F.expr("CASE WHEN rn = (n_pairs + 3) DIV 4 THEN slope END"))
        .cast("bigint")
        .alias("q1_slope_permille"),
        F.max(
            F.expr("CASE WHEN rn = (3 * n_pairs + 1) DIV 4 THEN slope END")
        )
        .cast("bigint")
        .alias("q3_slope_permille"),
    )
    return n_days.crossJoin(stats).select(
        "n_days",
        "n_pairs",
        "median_slope_permille",
        "q1_slope_permille",
        "q3_slope_permille",
    )


_ACF_LAGS = (2, 3, 24)


@register(
    "ts_acf_lags",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS b,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    lags AS (SELECT * FROM (VALUES {', '.join(f'({L})' for L in _ACF_LAGS)}) t(lag)),
    pairs AS (
      SELECT h1.event_type, l.lag, h1.cnt AS x, h2.cnt AS y
      FROM hourly h1
      CROSS JOIN lags l
      JOIN hourly h2
        ON h2.event_type = h1.event_type AND h2.b = h1.b + l.lag),
    stats AS (
      SELECT event_type, lag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM pairs GROUP BY 1, 2)
    SELECT event_type, CAST(lag AS BIGINT) AS lag, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
             AS acf
    FROM stats
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
)
def ts_acf_lags(spark, sf_dir):
    """MULTI-LAG AUTOCORRELATION (lags {_ACF_LAGS}) of each type's
    hourly count series — the correlogram slice that separates
    short-memory burstiness (lag 2-3) from daily seasonality
    (lag 24). Unlike ts_autocorr_lag1's observed-sequence row lag,
    pairing here is BUCKET-ALIGNED (b and b+L joined on the integer
    hour number, epoch_us DIV 3.6e9 per the integer-bucket
    discipline): a missing bucket yields no pair rather than
    silently pairing non-adjacent hours — the correct ACF semantics
    on gappy series. Moment sums are exact BIGINTs (hourly counts
    and products — |cnt| ~ events/hour keeps n·sxx far inside
    BIGINT); floats touch only the final Pearson combine over exact
    integers, round 6. Scale shape: ONE map-combinable hourly
    aggregation; the lag join runs on the TINY bucket series (hours
    × types), never the facts; degenerate (constant) series are
    excluded by the shared positive-variance guard."""
    from pyspark.sql import Row

    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias(
            "b"
        ),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    lags = F.broadcast(
        spark.createDataFrame([Row(lag=L) for L in _ACF_LAGS])
    )
    h2 = hourly.select(
        F.col("event_type").alias("et2"),
        F.col("b").alias("b2"),
        F.col("cnt").alias("y"),
    )
    pairs = (
        hourly.crossJoin(lags)
        .join(
            h2,
            (F.col("et2") == F.col("event_type"))
            & (F.col("b2") == F.col("b") + F.col("lag")),
        )
        .select("event_type", "lag", F.col("cnt").alias("x"), "y")
    )
    stats = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return stats.filter((vx > 0) & (vy > 0)).select(
        "event_type",
        F.col("lag").cast("bigint").alias("lag"),
        "n",
        F.round(
            (n * sxy - sx * sy).cast("double")
            / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
            6,
        ).alias("acf"),
    )


#: Seasonal-naive backtest: forecast(t) = observed(t - _SNAIVE_LAG_H).
_SNAIVE_LAG_H = 24


@register(
    "ts_seasonal_naive_error",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS b,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    pairs AS (
      SELECT h1.event_type, h1.cnt AS actual, h0.cnt AS forecast
      FROM hourly h1
      JOIN hourly h0
        ON h0.event_type = h1.event_type
           AND h0.b = h1.b - {_SNAIVE_LAG_H}),
    err AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_forecasts,
             CAST(sum(abs(actual - forecast)) AS BIGINT) AS sum_abs_err,
             CAST(sum(actual + forecast) AS BIGINT) AS sum_scale
      FROM pairs GROUP BY 1)
    SELECT event_type, n_forecasts, sum_abs_err,
           CAST(100 * sum_abs_err // n_forecasts AS BIGINT)
             AS mae_centi,
           CAST(1000 * sum_abs_err // sum_scale AS BIGINT)
             AS smape_permille
    FROM err
    """,
)
def ts_seasonal_naive_error(spark, sf_dir):
    """SEASONAL-NAIVE FORECAST BACKTEST per event type: forecast
    each hour's count with the count _SNAIVE_LAG_H hours earlier
    (yesterday-same-hour — the baseline every forecasting system
    must beat; MASE literature normalizes BY this model's error)
    and report MAE (centi-events) and the symmetric MAPE
    (permille) — ALL INTEGER: absolute errors of BIGINT counts,
    scaled truncating division, no float anywhere. Pairing is
    bucket-aligned on the integer hour number (a missing yesterday
    bucket yields no forecast rather than a misaligned one — the
    ts_acf_lags discipline). Scale shape: one map-combinable hourly
    rollup; the lag join and the per-type error rollup run on the
    tiny bucket series. Together with ts_holt_level_trend this
    gives the backtest pair: candidate model vs the baseline it
    must beat."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias(
            "b"
        ),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    h0 = hourly.select(
        F.col("event_type").alias("et0"),
        F.col("b").alias("b0"),
        F.col("cnt").alias("forecast"),
    )
    pairs = hourly.join(
        h0,
        (F.col("et0") == F.col("event_type"))
        & (F.col("b0") == F.col("b") - _SNAIVE_LAG_H),
    ).select("event_type", F.col("cnt").alias("actual"), "forecast")
    err = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_forecasts"),
        F.sum(F.abs(F.col("actual") - F.col("forecast")))
        .cast("bigint")
        .alias("sum_abs_err"),
        F.sum(F.col("actual") + F.col("forecast"))
        .cast("bigint")
        .alias("sum_scale"),
    )
    return err.select(
        "event_type",
        "n_forecasts",
        "sum_abs_err",
        F.expr("CAST(100 * sum_abs_err DIV n_forecasts AS BIGINT)").alias(
            "mae_centi"
        ),
        F.expr("CAST(1000 * sum_abs_err DIV sum_scale AS BIGINT)").alias(
            "smape_permille"
        ),
    )


@register(
    "ts_anomaly_seasonal_mad",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS b,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    keyed AS (
      SELECT event_type, b, cnt,
             CAST((b // 24 + 4) % 7 AS BIGINT) AS dow,
             CAST(b % 24 AS BIGINT) AS hod
      FROM hourly),
    profile AS (
      SELECT event_type, dow, hod,
             CAST(sum(cnt) // count(*) AS BIGINT) AS expected
      FROM keyed GROUP BY 1, 2, 3),
    resid AS (
      SELECT k.event_type, k.b, k.cnt, p.expected,
             k.cnt - p.expected AS r
      FROM keyed k
      JOIN profile p ON p.event_type = k.event_type
                    AND p.dow = k.dow AND p.hod = k.hod),
    med AS (
      SELECT event_type, r,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY r ASC, b ASC) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM resid),
    m1 AS (
      SELECT event_type,
             max(CASE WHEN rn = (n + 1) // 2 THEN r END) AS med_r
      FROM med GROUP BY 1),
    adev AS (
      SELECT r.event_type, abs(r.r - m.med_r) AS a, r.b
      FROM resid r JOIN m1 m ON m.event_type = r.event_type),
    madr AS (
      SELECT event_type,
             max(CASE WHEN rn = (n + 1) // 2 THEN a END) AS mad
      FROM (
        SELECT event_type, a,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY a ASC, b ASC) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM adev) GROUP BY 1)
    SELECT r.event_type, r.b AS hour_bucket, r.cnt, r.expected,
           r.r AS residual,
           CAST(m.med_r AS BIGINT) AS med_residual,
           CAST(d.mad AS BIGINT) AS mad
    FROM resid r
    JOIN m1 m ON m.event_type = r.event_type
    JOIN madr d ON d.event_type = r.event_type
    WHERE abs(r.r - m.med_r) > 3 * greatest(d.mad, 1)
    """,
)
def ts_anomaly_seasonal_mad(spark, sf_dir):
    """SEASONALLY-ADJUSTED anomaly detection: hourly counts per type
    minus the (day-of-week, hour-of-day) profile mean, then the
    3×MAD rule on the RESIDUALS — the detector that doesn't page on
    every Monday morning (ts_anomaly_mad's raw-value MAD flags
    normal seasonality as anomalies; this flags departures FROM the
    seasonality). All-integer: profile means are truncating DIV,
    dow/hod from pure bucket arithmetic ((b DIV 24 + 4) mod 7 —
    epoch day 0 was a Thursday), medians are the type-1 order
    statistics with full (value, bucket) tiebreaks, MAD floored at 1
    so the threshold never divides by a degenerate scale. Scale
    shape: one combinable hourly rollup from the facts; profile,
    medians, and the flag predicate all run on the bucket-sized
    series."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias(
            "b"
        ),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    keyed = hourly.select(
        "event_type",
        "b",
        "cnt",
        F.expr("CAST((b DIV 24 + 4) % 7 AS BIGINT)").alias("dow"),
        F.expr("CAST(b % 24 AS BIGINT)").alias("hod"),
    )
    profile = keyed.groupBy("event_type", "dow", "hod").agg(
        F.expr("CAST(sum(cnt) DIV count(*) AS BIGINT)").alias("expected")
    )
    resid = keyed.join(profile, ["event_type", "dow", "hod"]).select(
        "event_type",
        "b",
        "cnt",
        "expected",
        (F.col("cnt") - F.col("expected")).alias("r"),
    )

    def median_of(df, col, out):
        w = W.partitionBy("event_type").orderBy(F.col(col).asc(), "b")
        ranked = df.select(
            "event_type",
            col,
            "b",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
        )
        return ranked.groupBy("event_type").agg(
            F.max(
                F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col(col))
            ).alias(out)
        )

    m1 = median_of(resid, "r", "med_r")
    adev = resid.join(F.broadcast(m1), "event_type").select(
        "event_type", F.abs(F.col("r") - F.col("med_r")).alias("a"), "b"
    )
    madr = median_of(adev, "a", "mad")
    return (
        resid.join(F.broadcast(m1), "event_type")
        .join(F.broadcast(madr), "event_type")
        .filter(
            F.abs(F.col("r") - F.col("med_r"))
            > 3 * F.greatest(F.col("mad"), F.lit(1))
        )
        .select(
            "event_type",
            F.col("b").alias("hour_bucket"),
            "cnt",
            "expected",
            F.col("r").alias("residual"),
            F.col("med_r").cast("bigint").alias("med_residual"),
            F.col("mad").cast("bigint").alias("mad"),
        )
    )


@register(
    "ts_seasonality_strength",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS b,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    keyed AS (
      SELECT event_type, b, cnt,
             CAST((b // 24 + 4) % 7 AS BIGINT) AS dow,
             CAST(b % 24 AS BIGINT) AS hod
      FROM hourly),
    profile AS (
      SELECT event_type, dow, hod,
             CAST(sum(cnt) // count(*) AS BIGINT) AS expected
      FROM keyed GROUP BY 1, 2, 3),
    resid AS (
      SELECT k.event_type, k.cnt, k.cnt - p.expected AS r
      FROM keyed k
      JOIN profile p ON p.event_type = k.event_type
                    AND p.dow = k.dow AND p.hod = k.hod),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cnt) AS BIGINT) AS s_x,
             CAST(sum(cnt * cnt) AS BIGINT) AS sq_x,
             CAST(sum(r) AS BIGINT) AS s_r,
             CAST(sum(r * r) AS BIGINT) AS sq_r
      FROM resid GROUP BY 1),
    v AS (
      SELECT event_type, n,
             CAST(sq_x // n - (s_x // n) * (s_x // n) AS BIGINT)
               AS var_x,
             CAST(sq_r // n - (s_r // n) * (s_r // n) AS BIGINT)
               AS var_r
      FROM m)
    SELECT event_type, n, var_x, var_r,
           CAST(greatest(0, 1000 - 1000 * var_r
                // greatest(var_x, 1)) AS BIGINT)
             AS strength_permille
    FROM v
    """,
)
def ts_seasonality_strength(spark, sf_dir):
    """SEASONALITY STRENGTH per event type: 1 − var(residual)/var
    (series) after removing the (dow, hour) profile — the [0,1000]
    permille score that tells a forecaster whether the seasonal-
    naive baseline (ts_seasonal_naive_error) is even worth running
    (≈0: profile explains nothing; →1000: pure seasonality), the
    STL-strength measure over the same integer profile machinery as
    ts_anomaly_seasonal_mad. Variances use the DIV-moment identity
    on exact BIGINTs (stated truncating estimator, engine-
    identical), clamped at 0 so the truncated means can't produce a
    negative strength. Scale shape: one combinable hourly rollup;
    profile and moments on the bucket-sized series."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias(
            "b"
        ),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    keyed = hourly.select(
        "event_type",
        "b",
        "cnt",
        F.expr("CAST((b DIV 24 + 4) % 7 AS BIGINT)").alias("dow"),
        F.expr("CAST(b % 24 AS BIGINT)").alias("hod"),
    )
    profile = keyed.groupBy("event_type", "dow", "hod").agg(
        F.expr("CAST(sum(cnt) DIV count(*) AS BIGINT)").alias("expected")
    )
    resid = keyed.join(profile, ["event_type", "dow", "hod"]).select(
        "event_type", "cnt", (F.col("cnt") - F.col("expected")).alias("r")
    )
    m = resid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("s_x"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("sq_x"),
        F.sum("r").cast("bigint").alias("s_r"),
        F.sum(F.col("r") * F.col("r")).cast("bigint").alias("sq_r"),
    )
    v = m.select(
        "event_type",
        "n",
        F.expr("CAST(sq_x DIV n - (s_x DIV n) * (s_x DIV n) AS BIGINT)")
        .alias("var_x"),
        F.expr("CAST(sq_r DIV n - (s_r DIV n) * (s_r DIV n) AS BIGINT)")
        .alias("var_r"),
    )
    return v.select(
        "event_type",
        "n",
        "var_x",
        "var_r",
        F.expr(
            "CAST(greatest(0, 1000 - 1000 * var_r"
            " DIV greatest(var_x, 1)) AS BIGINT)"
        ).alias("strength_permille"),
    )


@register(
    "ts_burstiness_fano",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS b,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cnt) AS BIGINT) AS s,
             CAST(sum(cnt * cnt) AS BIGINT) AS sq
      FROM hourly GROUP BY 1)
    SELECT event_type, n, s AS total_events,
           CAST(s // n AS BIGINT) AS mean_cnt,
           CAST(sq // n - (s // n) * (s // n) AS BIGINT) AS var_cnt,
           CAST(1000 * (sq // n - (s // n) * (s // n))
                // greatest(s // n, 1) AS BIGINT) AS fano_milli
    FROM m
    """,
)
def ts_burstiness_fano(spark, sf_dir):
    """FANO FACTOR (variance-to-mean ratio, milli-units) of each
    type's hourly arrival counts — the burstiness index that
    separates Poisson-like traffic (fano ≈ 1000) from bursty load
    (≫1000) and quota-throttled/clockwork feeds (≪1000); the
    capacity-planning companion to ts_autocorr_lag1's memory
    diagnostic. DIV-moment integer variance (stated truncating
    estimator, engine-identical; mean floored at 1 in the divisor
    so an empty-ish series can't divide by zero). Scale: one
    combinable hourly rollup, one 5-row aggregate."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias(
            "b"
        ),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    m = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("sq"),
    )
    return m.select(
        "event_type",
        "n",
        F.col("s").alias("total_events"),
        F.expr("CAST(s DIV n AS BIGINT)").alias("mean_cnt"),
        F.expr("CAST(sq DIV n - (s DIV n) * (s DIV n) AS BIGINT)").alias(
            "var_cnt"
        ),
        F.expr(
            "CAST(1000 * (sq DIV n - (s DIV n) * (s DIV n))"
            " DIV greatest(s DIV n, 1) AS BIGINT)"
        ).alias("fano_milli"),
    )
