"""Differential fuzz axes 4 + 5 (round 11): numeric extremes and
zero-row inputs.

Axis 5 — EMPTY INPUTS. An empty partition slice (new tenant, late
feed, over-pruned filter) is an everyday production input; at 100 TB
"today's slice is empty" must mean zero rows, never a crash. The
full-registry differential over a zero-row fixture dir found 36 real
failures in round 11: ANSI divide-by-zero crashes, driver-side numpy
fits on empty collects, NULL-vs-0 count divergences, Spark-vs-ANSI
lattice (cube/rollup) grand-total semantics, and partitioned
write-then-read-back paths that could not infer a schema from an
empty write. The sample below keeps one representative per fixed
CLASS under permanent differential.

Axis 4 — NUMERIC EXTREMES. The money tier (operators/money.py)
documents its domain as FINITE 2dp values with |x| < 1e16; the
fixture-contract test (test_order_invariance.py) asserts all three
clauses, and the full-registry extremes run confirmed both engines
fail LOUDLY (Spark ANSI CAST_OVERFLOW / DuckDB ConversionException)
— never silently — when the contract is violated. The tests here pin
(a) that loud-failure property for a money-tier representative and
(b) cross-engine VALUE agreement for the non-money kernels that must
tolerate extreme doubles.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_jobs_spark.registry import all_oracles, all_queries
from tests.conftest import FIXTURE_TABLES, SF_DIR

QUERIES = all_queries()
ORACLES = all_oracles()

#: One representative per empty-input failure class fixed in r11.
EMPTY_SAMPLE = [
    "dq_referential_orphans",       # ANSI x/0 -> try_divide NULL
    "stat_proportion_ci_wilson",    # nullif(n, 0) in shared expr text
    "dedup_lsh_recall_eval",        # recall/precision NULL on 0 truth
    "embed_ivfpq_topk",             # driver-side fit on empty collect
    "embed_kmeans_lloyd",           # zero-init-points guard
    "embed_pca_power_iter",         # zero-dim iterate, empty VALUES
    "text_bpe_learn",               # pair argmax early-stop
    "graph_pagerank_transitions",   # zero-node teleport guard
    "obs_run_metrics",              # None observation counters
    "agg_cube_events",              # lattice grand-total semantics
    "dq_pk_uniqueness_suite",       # count(when) vs NULL sum
    "agg_bitmap_distinct",          # coalesced bitmap rollup
    "stat_bootstrap_ci_mean",       # 1-row spine via agg'd order stats
    "maintenance_compact_report",   # data-dependent file counts
    "maintenance_vacuum_report",    # crashed-writer dir creation
    "scan_partition_pruned",        # schema-pinned read-back
    "pipeline_daily_incremental",   # schema-pinned warehouse reads
    "scan_glob_union",              # empty glob = empty feed
    "obs_prometheus_text",          # concat-NULL line divergence
    "agg_sketch_accuracy_audit",    # standalone hll agg + 0 estimates
    "q1_pricing_summary",           # flagship: plain empty aggregate
    "pipeline_llm_corpus_end_to_end",  # flagship composition
    "recursive_cte_hierarchy",      # closed-form walk over zero keys
]


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    dst = tmp_path_factory.mktemp("empty_sf")
    for t in FIXTURE_TABLES:
        tab = pq.read_table(f"{SF_DIR}/{t}.parquet")
        pq.write_table(tab.slice(0, 0), str(dst / f"{t}.parquet"))
    return str(dst)


def test_sampled_queries_survive_empty_inputs(spark, empty_dir):
    import duckdb

    from etl_jobs_spark import cache
    from etl_jobs_spark.compare import frames_match

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{empty_dir}/{t}.parquet')"
        )
    for name in EMPTY_SAMPLE:
        got = QUERIES[name](spark, empty_dir).toPandas()
        if name in ORACLES:
            frames_match(got, con.sql(ORACLES[name]).df())
        cache.release_all()


#: Extreme doubles injected by axis 4 (and the fixture builder below).
EXTREMES = [float("nan"), float("inf"), float("-inf"), 5e-324, 1e300, -1e300]


@pytest.fixture(scope="module")
def extreme_dir(tmp_path_factory):
    """sf fixtures with ~2% of events.value / customer.c_acctbal /
    lineitem.l_discount replaced by NaN/±inf/denormal/±1e300 —
    identical bytes offered to both engines."""
    dst = tmp_path_factory.mktemp("extreme_sf")
    rng = np.random.default_rng(0xE47)
    inject = {
        "events": ["value"],
        "customer": ["c_acctbal"],
        "lineitem": ["l_discount"],
    }
    for t in FIXTURE_TABLES:
        tab = pq.read_table(f"{SF_DIR}/{t}.parquet")
        for col in inject.get(t, []):
            vals = tab[col].to_numpy(zero_copy_only=False).astype(float).copy()
            k = max(6, len(vals) // 50)
            idx = rng.choice(len(vals), size=k, replace=False)
            for j, i in enumerate(idx):
                vals[i] = EXTREMES[j % len(EXTREMES)]
            tab = tab.set_column(
                tab.schema.get_field_index(col), col, pa.array(vals)
            )
        pq.write_table(tab, str(dst / f"{t}.parquet"))
    return str(dst)


def test_money_tier_fails_loudly_on_extremes(spark, extreme_dir):
    """Out-of-contract input to the exact-DECIMAL money tier must
    fail LOUDLY in BOTH engines — a silent wrong money sum is the
    one outcome this engine never produces. q1 represents the ~45
    dsum/dsum2/dsum3 call sites (all share operators/money.py)."""
    import duckdb

    with pytest.raises(Exception) as exc:
        QUERIES["q1_pricing_summary"](spark, extreme_dir).toPandas()
    assert "CAST" in str(exc.value) or "NUMERIC_VALUE_OUT_OF_RANGE" in str(
        exc.value
    ), f"expected an ANSI cast/overflow rejection, got: {exc.value}"

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{extreme_dir}/{t}.parquet')"
        )
    with pytest.raises(Exception):
        con.sql(ORACLES["q1_pricing_summary"]).df()


#: Non-money queries over the injected columns whose kernels must
#: AGREE cross-engine even on NaN/inf/denormal input (fixed or
#: verified in the round-11 extremes run).
EXTREME_VALUE_SAMPLE = [
    "udf_grouped_map",        # pandas rank vs SQL rank under NaN
    "filter_outliers_iqr",    # finite-only IQR fences
    "agg_histogram_value",    # floor-bucketing NaN/inf group keys
    "agg_null_counts",        # null census unaffected by value payloads
    "udaf_grouped_pandas",    # pandas NaN==missing UDAF contract
    "fn_percentile_suite",    # NaN-excluding quantile rank set
    "scan_footer_stats_audit",  # parquet stats omit NaN from min/max
]


def test_extreme_tolerant_kernels_match(spark, extreme_dir):
    import duckdb

    from etl_jobs_spark import cache
    from etl_jobs_spark.compare import frames_match

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{extreme_dir}/{t}.parquet')"
        )
    for name in EXTREME_VALUE_SAMPLE:
        got = QUERIES[name](spark, extreme_dir).toPandas()
        # quantile INTERPOLATION between an ordinary value and a
        # ±1e300 payload differs between the engines in the final
        # ulp at ~1e298 magnitude (decimal round(x, 4) cannot absorb
        # it there) — a float-representation limit, not a semantics
        # divergence, so this axis alone compares that suite with a
        # 1e-12 relative tolerance; the driver's clean-fixture check
        # stays exact.
        rtol = 1e-12 if name == "fn_percentile_suite" else 0.0
        frames_match(got, con.sql(ORACLES[name]).df(), float_rtol=rtol)
        cache.release_all()


# ---------------------------------------------------------------
# Axis 6 — TIMESTAMP BOUNDARIES (round 11). Adversarial instants in
# events.ts / orders.o_orderdate: epoch 0, one microsecond BEFORE
# epoch (negative micros: truncation-direction hazards), the 32-bit
# rollover second, a leap-day last-microsecond, and far-era edges
# (1700/2200 — inside pandas' ns range with date_trunc headroom,
# because the harness round-trips through pandas). The full-registry
# run found: a REAL CSV fidelity bug (Spark's default CSV timestamp
# patterns render milliseconds — and NTZ columns format through the
# separate timestampNTZFormat option — silently truncating micros on
# a round-trip), one unbounded-work hazard (a corrupt far-era
# timestamp made the resample grid materialize ~1.3M buckets per
# affected user in BOTH engines — now a loud in-plan span cap), and
# the designed watermark behavior (a far-future instant drags the
# watermark, late rows drop; the batch oracles state the
# ordered-feed assumption).

TS_US = 1_000_000
TS_BOUNDARIES_US = [
    0,
    -1,
    -86_400 * TS_US + 1,
    2_147_483_647 * TS_US,
    1_709_251_199_999_999,
    -8_520_336_000 * TS_US,
    7_258_118_400 * TS_US,
]


@pytest.fixture(scope="module")
def ts_boundary_dir(tmp_path_factory):
    dst = tmp_path_factory.mktemp("ts_boundary_sf")
    rng = np.random.default_rng(0x7155)
    inject = {"events": "ts", "orders": "o_orderdate"}
    for t in FIXTURE_TABLES:
        tab = pq.read_table(f"{SF_DIR}/{t}.parquet")
        col = inject.get(t)
        if col:
            vals = tab[col].cast(pa.int64()).to_numpy(
                zero_copy_only=False
            ).copy()
            k = max(len(TS_BOUNDARIES_US), len(vals) // 50)
            idx = rng.choice(len(vals), size=k, replace=False)
            for j, i in enumerate(idx):
                vals[i] = TS_BOUNDARIES_US[j % len(TS_BOUNDARIES_US)]
            arr = pa.array(vals, pa.int64()).cast(pa.timestamp("us"))
            tab = tab.set_column(
                tab.schema.get_field_index(col), col, arr
            )
        pq.write_table(tab, str(dst / f"{t}.parquet"))
    return str(dst)


#: Value-agreement sample: the queries the full-registry ts run
#: exercised hardest (era-edge truncation, month shifts over
#: negative epochs, weekly bucketing, the fixed CSV round-trip).
TS_VALUE_SAMPLE = [
    "source_s3",             # CSV micros round-trip (the fixed bug)
    "fn_datetime_suite",     # datetime kernel family over era edges
    "fn_interval_suite",     # interval arithmetic over era edges
    "window_pct_change_mom", # month-over-month over negative epochs
    "agg_bitmap_rollup_weekly",  # weekly bucketing over boundaries
    "agg_rollup_time",       # hour-truncation lattice
    "sessionize_batch",      # gap sessionization across eras
]


def test_ts_boundary_kernels_match(spark, ts_boundary_dir):
    import duckdb

    from etl_jobs_spark import cache
    from etl_jobs_spark.compare import frames_match

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{ts_boundary_dir}/{t}.parquet')"
        )
    for name in TS_VALUE_SAMPLE:
        got = QUERIES[name](spark, ts_boundary_dir).toPandas()
        frames_match(got, con.sql(ORACLES[name]).df())
        cache.release_all()


def test_resample_span_cap_fails_loudly(spark, ts_boundary_dir):
    """One corrupt far-era timestamp must NOT make the resample
    materialize a multi-million-row per-user grid: both engines
    raise the span-cap error instead (operators/timeseries.py
    MAX_SPAN_BUCKETS; observed as an engine hang on both sides
    before the guard)."""
    import duckdb

    with pytest.raises(Exception, match="MAX_SPAN_BUCKETS|span"):
        QUERIES["ts_resample_interpolate"](
            spark, ts_boundary_dir
        ).toPandas()
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{ts_boundary_dir}/{t}.parquet')"
        )
    with pytest.raises(Exception, match="span cap"):
        con.sql(ORACLES["ts_resample_interpolate"]).df()


def test_watermark_drops_late_rows_on_poisoned_event_time(
    spark, ts_boundary_dir
):
    """DESIGNED divergence, pinned: a far-future instant drags the
    watermark forward and genuinely-ordered rows become late and are
    DROPPED from append-mode output — streaming semantics working as
    specified on a poisoned event-time column, while the batch
    oracle (which states the ordered-feed assumption) keeps every
    row. The engine must emit FEWER-or-equal rows, never more, and
    must not crash."""
    import duckdb

    got = QUERIES["stream_watermark_append"](
        spark, ts_boundary_dir
    ).toPandas()
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{ts_boundary_dir}/{t}.parquet')"
        )
    want = con.sql(ORACLES["stream_watermark_append"]).df()
    assert 0 < len(got) <= len(want)


def test_session_timezone_pin_is_load_bearing(spark):
    """Axis-7 pin (round 11): the driver hands the engine a VANILLA
    session, so a host/session timezone other than UTC must not be
    able to shift a single timestamp-derived value — read_table
    re-pins spark.sql.session.timeZone=UTC on every scan. Sabotage
    the session TZ, run timestamp-deriving queries against their
    oracles (DuckDB reads the parquet instants as-is), and verify
    parity survived BECAUSE the pin overrode the sabotage."""
    import duckdb

    from etl_jobs_spark import cache
    from etl_jobs_spark.compare import frames_match

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set(
            "spark.sql.session.timeZone", "America/New_York"
        )
        for name in ["agg_rollup_time", "fn_datetime_suite",
                     "sessionize_batch"]:
            got = QUERIES[name](spark, SF_DIR).toPandas()
            frames_match(got, con.sql(ORACLES[name]).df())
            cache.release_all()
        # the pin must have overridden the sabotage, not merely
        # tolerated it
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_parity_survives_non_utc_os_timezone():
    """Axis-7, part 2: a fresh JVM launched under a non-UTC OS
    timezone (TZ=America/New_York — how a real driver host often
    runs) must produce oracle-identical results, because the engine
    pins the SESSION timezone at scan time rather than trusting the
    JVM default. Runs in a subprocess so the sabotage reaches JVM
    startup, not just the session conf."""
    import os
    import subprocess
    import sys

    code = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "import duckdb\n"
        "from etl_jobs_spark import registry\n"
        "from etl_jobs_spark.compare import frames_match\n"
        "from etl_jobs_spark.session import get_spark\n"
        "spark = get_spark('tz-pin', master='local[4]',"
        " shuffle_partitions=4)\n"
        "con = duckdb.connect()\n"
        "for t in ['events', 'orders']:\n"
        "    con.sql(f\"CREATE VIEW {t} AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/{{t}}.parquet')\")\n"
        "q = registry.all_queries(); o = registry.all_oracles()\n"
        "for name in ['agg_rollup_time', 'sessionize_batch']:\n"
        f"    frames_match(q[name](spark, '{SF_DIR}').toPandas(),"
        " con.sql(o[name]).df())\n"
        "print('TZ-SABOTAGED PARITY OK')\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, TZ="America/New_York")
    r = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-1000:]
    assert "TZ-SABOTAGED PARITY OK" in r.stdout


@pytest.mark.pandas_ns_range
def test_comparison_layer_pandas_ns_range_is_loud(spark):
    """COMPARISON-LAYER contract (compare.py docstring): Spark's
    ``toPandas()`` Arrow path casts timestamp[us] → timestamp[ns],
    which only spans [1677-09-21, 2262-04-11] — a far-era instant
    raises ArrowInvalid in THE HARNESS even though the engines are
    both micros-precision and agree (DuckDB's ``.df()`` returns
    datetime64[us] and holds year 9999 fine). A fixture regeneration
    with far-era dates failing at compare time is therefore a
    harness limit, not an engine bug: cast such columns to ISO
    strings in BOTH queries. This pin proves the failure mode is
    LOUD (raises), never a silently wrapped instant, and that the ts
    axis's 1700/2200 era edges sit inside the window on purpose."""
    import duckdb
    import pyarrow as pa

    # the ts axis's era edges (1700/2200) are inside the ns window
    in_range = pa.array(
        [-8_520_336_000 * TS_US, 7_258_118_400 * TS_US],
        pa.timestamp("us"),
    ).cast(pa.timestamp("ns"))
    assert len(in_range) == 2

    with pytest.raises(Exception, match="(?i)out of bounds"):
        spark.sql("SELECT TIMESTAMP'9999-12-31 23:59:59' AS ts").toPandas()
    d = duckdb.sql("SELECT TIMESTAMP '9999-12-31 23:59:59' AS ts").df()
    assert str(d["ts"].dtype) == "datetime64[us]"  # asymmetric: fine here


# ---------------------------------------------------------------
# Axis 7 — SESSION TIMEZONE / DST BOUNDARIES (round 12). The engine
# pins UTC at scan time (session.py + read_table) because the driver
# hands it a vanilla session on an arbitrary host; two round-11
# incidents proved the pin is load-bearing at two sites. This axis
# proved it everywhere: the FULL registry ran under
# TZ=America/New_York twice — once on the clean sf0.001 fixtures and
# once with DST-transition instants injected (US spring-forward
# ±1us, both passes of the US fall-back ambiguous hour, the exact
# fall-back instant, an EU spring-forward, a southern-hemisphere
# fall-back) — and found exactly ONE real divergence:
# scan_incremental_watermark's collect()→F.lit(datetime) round-trip
# went through the OS-LOCAL epoch conversion, shifting the watermark
# by the host's UTC offset (0 rows instead of 1 under NYC). Fixed by
# fetching the watermark as a wall-clock STRING and casting to the
# column's own type (tz-free, still constant-folded + pushed down).
# Everything else — 379/380 then 380/380 after the fix — is
# bit-identical under a non-UTC OS TZ. Findings:
# docs/FLOAT_ORDER_AUDIT.md round-12 section.

DST_INSTANTS_US = [
    1_710_053_999_999_999,  # 1us before US spring-forward (07:00Z 2024-03-10)
    1_710_054_000 * TS_US,  # the spring-forward instant (02:00 EST -> 03:00 EDT)
    1_730_611_800 * TS_US,  # 05:30Z 2024-11-03 = 01:30 EDT (ambiguous, 1st pass)
    1_730_615_400 * TS_US,  # 06:30Z 2024-11-03 = 01:30 EST (same wall time, 2nd pass)
    1_711_846_800 * TS_US,  # EU spring-forward 01:00Z 2024-03-31
    1_712_419_200 * TS_US,  # Sydney fall-back (03:00 AEDT 2024-04-07 = 16:00Z Apr 6)
    1_730_613_600 * TS_US,  # the exact US fall-back instant (06:00Z 2024-11-03)
]


@pytest.fixture(scope="module")
def dst_boundary_dir(tmp_path_factory):
    dst = tmp_path_factory.mktemp("dst_boundary_sf")
    rng = np.random.default_rng(0xD57)
    inject = {"events": "ts", "orders": "o_orderdate"}
    for t in FIXTURE_TABLES:
        tab = pq.read_table(f"{SF_DIR}/{t}.parquet")
        col = inject.get(t)
        if col:
            vals = tab[col].cast(pa.int64()).to_numpy(
                zero_copy_only=False
            ).copy()
            k = max(len(DST_INSTANTS_US), len(vals) // 50)
            idx = rng.choice(len(vals), size=k, replace=False)
            for j, i in enumerate(idx):
                vals[i] = DST_INSTANTS_US[j % len(DST_INSTANTS_US)]
            arr = pa.array(vals, pa.int64()).cast(pa.timestamp("us"))
            tab = tab.set_column(
                tab.schema.get_field_index(col), col, arr
            )
        pq.write_table(tab, str(dst / f"{t}.parquet"))
    return str(dst)


#: The axis-7 value-agreement sample: the fixed divergence plus the
#: kernels a local-tz leak would shift first (truncation lattices,
#: gap sessionization, month windows, weekly bucketing, the CSV
#: timestamp round-trip).
DST_TZ_SAMPLE = [
    "scan_incremental_watermark",  # the fixed collect->lit divergence
    "agg_rollup_time",
    "sessionize_batch",
    "fn_datetime_suite",
    "window_pct_change_mom",
    "agg_bitmap_rollup_weekly",
    "source_s3",
]


def test_dst_boundaries_under_non_utc_os_tz(dst_boundary_dir):
    """Axis-7 permanent sample: a fresh JVM under TZ=America/New_York
    processing DST-transition instants must hash-match the oracle —
    the nonexistent hour, both passes of the ambiguous hour, and the
    exact transition instants shift results ONLY if some path leaks
    local-time handling, which the UTC pin must prevent."""
    import os
    import subprocess
    import sys

    names = ", ".join(repr(n) for n in DST_TZ_SAMPLE)
    code = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "import duckdb\n"
        "from etl_jobs_spark import registry, cache\n"
        "from etl_jobs_spark.compare import frames_match\n"
        "from etl_jobs_spark.session import get_spark\n"
        "spark = get_spark('dst-axis', master='local[4]',"
        " shuffle_partitions=4)\n"
        "con = duckdb.connect()\n"
        f"for t in {list(FIXTURE_TABLES)!r}:\n"
        "    con.sql(f\"CREATE VIEW {t} AS SELECT * FROM "
        f"read_parquet('{dst_boundary_dir}/{{t}}.parquet')\")\n"
        "q = registry.all_queries(); o = registry.all_oracles()\n"
        f"for name in [{names}]:\n"
        f"    frames_match(q[name](spark, '{dst_boundary_dir}')"
        ".toPandas(), con.sql(o[name]).df())\n"
        "    cache.release_all()\n"
        "print('DST-TZ PARITY OK')\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, TZ="America/New_York")
    r = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-1500:]
    assert "DST-TZ PARITY OK" in r.stdout


# ---------------------------------------------------------------
# Axis 8 — DUPLICATE KEYS / ORPHAN FOREIGN KEYS (round 12). Real
# at-least-once feeds repeat primary keys (exact redelivery AND
# conflicting payloads for one key) and dangle foreign keys; the
# clean fixtures never do either. The full-registry differential
# over scripts/axis8_dup_orphan.py's mutated corpus found 34
# diverging rows in six classes — rejoin-by-PK fan-out, silent
# sparse-pivot NULL cells, toward-zero vs floor cents quantization,
# nondeterministic id-keyed dedup representatives,
# filename-is-the-key staging, and the fit/probe tier's unique-id
# assumption (now a LOUD contract in both engines). Findings and
# dispositions: docs/FLOAT_ORDER_AUDIT.md round-12 axis-8 section.


@pytest.fixture(scope="module")
def dup_orphan_dir(tmp_path_factory):
    """The mutated corpus, built by the SAME script the axis ran —
    one source of truth for the mutation rules."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "axis8_dup_orphan", "/root/repo/scripts/axis8_dup_orphan.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    dst = str(tmp_path_factory.mktemp("dup_orphan_sf"))
    return mod.build(SF_DIR, dst)


#: One value-agreement representative per fixed class.
DUP_ORPHAN_SAMPLE = [
    "agg_pivot_events",        # sparse-cell NULL -> post-pivot fill
    "join_asof_nearest",       # canonicalized purchase rejoin
    "quality_filter_top_half", # row-faithful gate (no PK rejoin)
    "fuzzy_pairs_names",       # SET-of-pairs oracle semantics
    "er_block_cap_audit",      # per-ROW variant dedup (rid oracle)
    "scan_binary_files",       # filename-is-the-key staging
    "scan_text_logparse",      # [^\]]* type capture round-trip
    "scan_glob_union",         # percent-encoded data-value paths
    "dedup_embed_cosine",      # canonical (id, vector) ingest
    "pack_sequences",          # n_tokens window tie-break
    "multimodal_decode_wav",   # per-distinct-id closed-form oracle
    "stream_dedup_exact",      # full-row exactly-once dedup
    "recursive_cte_hierarchy", # per-key max over conflicting dups
]


def test_dup_key_orphan_fk_kernels_match(spark, dup_orphan_dir):
    """Axis-8 permanent sample: every fixed class stays value-equal
    to the oracle on a corpus with duplicate PKs (exact AND
    conflicting) and orphan FKs."""
    import duckdb

    from etl_jobs_spark import cache
    from etl_jobs_spark.compare import frames_match

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{dup_orphan_dir}/{t}.parquet')"
        )
    for name in DUP_ORPHAN_SAMPLE:
        frames_match(
            QUERIES[name](spark, dup_orphan_dir).toPandas(),
            con.sql(ORACLES[name]).df(),
        )
        cache.release_all()


def test_fit_tier_rejects_duplicate_ids_loudly(spark, dup_orphan_dir):
    """The similarity fit/probe tier's unique-vec_id ingest contract
    fails LOUDLY in BOTH engines on a duplicate-id corpus — never a
    silent wrong fit (and the literal-centroid ANN oracles raise on
    any unrecognized corpus instead of returning zero rows)."""
    import duckdb

    for name in ("embed_kmeans_lloyd", "embed_pca_power_iter"):
        with pytest.raises(ValueError, match="requires unique vec_id"):
            QUERIES[name](spark, dup_orphan_dir).collect()

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{dup_orphan_dir}/{t}.parquet')"
        )
    for name in ("embed_kmeans_lloyd", "embed_pca_power_iter"):
        with pytest.raises(duckdb.Error, match="unique vec_id"):
            con.sql(ORACLES[name]).df()
    with pytest.raises(duckdb.Error, match="unrecognized embeddings"):
        con.sql(ORACLES["embed_ivf_topk"]).df()


def test_recursive_cte_hierarchy_edge_keys_match(spark, tmp_path):
    """The closed-form ancestor walk against the oracle's native
    recursion on a hand-built customer table: NULL keys, conflicting
    duplicate keys, negative keys, a missing ancestor (4), a key whose
    balances are all NULL (7), and one complete 40-step chain from a
    key >= 2 * 3^39 down through 2 to 0."""
    import duckdb

    from etl_jobs_spark import cache
    from etl_jobs_spark.compare import frames_match

    name = "recursive_cte_hierarchy"
    top = 2 * 3**39 + 17
    keys = [k for k in range(31) if k != 4]
    keys += [top // 3**k for k in range(40) if top // 3**k > 30]
    keys += [500, -1, -7]

    def cents(k):
        return ((k * 7919) % 20001 - 10000) / 4  # exact 2dp values

    rows = [(k, None if k == 7 else cents(k)) for k in keys]
    rows += [(None, 10.25), (None, None)]
    rows += [(10, -3.5), (10, 99.75), (3, None), (2, -0.25)]
    d = tmp_path / "edge_keys"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([k for k, _ in rows], pa.int64()),
                "c_acctbal": pa.array([b for _, b in rows], pa.float64()),
            }
        ),
        str(d / "customer.parquet"),
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW customer AS SELECT * FROM '{d}/customer.parquet'")
    got = QUERIES[name](spark, str(d)).toPandas()
    cache.release_all()
    frames_match(got, con.sql(ORACLES[name]).df())
    assert got["depth"].max() == 40
