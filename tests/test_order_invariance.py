"""Order/layout-invariance differential (round 10).

A distributed engine must give the SAME answer when the same rows
arrive in a different order or file layout — every shuffle at 100 TB
reorders rows, so an order-dependent aggregate is a nondeterministic
one. This harness rewrites the sf0.001 fixtures with permuted row
order split across 3 part-files per table (bit-identical values,
pyarrow-preserved schema) and re-runs query-vs-oracle pairs on the
shuffled copy with the driver's exact comparison.

The full-registry run of this harness (379/379) found exactly one
divergence: Q1's ``round(sum(l_extendedprice * (1 - l_discount)), 2)``
flipped a cent — double summation is not associative, and the fixture
order had simply never parked a group sum within float-epsilon of a
half-cent boundary. The class fix is operators/money.py (exact
DECIMAL sums for every rounded 2dp money/value aggregate); this test
keeps the flagship + one representative per rewritten family under
permanent differential so the class cannot regress.

Also pins the 2dp input contract the DECIMAL casts rely on: if a
regenerated fixture ever ships >2-decimal money/value columns, the
contract test fails loudly instead of the casts silently rounding.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_jobs_spark.registry import all_oracles, all_queries
from tests.conftest import FIXTURE_TABLES, SF_DIR

QUERIES = all_queries()
ORACLES = all_oracles()

#: flagship + one representative per money-sum family rewritten in
#: round 10 (plain sum, product sum, triple product, CASE/FILTER
#: conditional sums, window running sum, avg, two-phase salted).
SAMPLE = [
    "q1_pricing_summary",
    "join_star_revenue",
    "q6_forecast_revenue",
    "q14_promo_effect",
    "agg_pivot_events",
    "agg_events_by_type",
    "agg_salted_events",
    "window_running_sum",
    "sessionize_batch",
    "fillna_mean",
]


@pytest.fixture(scope="module")
def shuffled_dir(tmp_path_factory):
    dst = tmp_path_factory.mktemp("shuffled_sf")
    rng = np.random.default_rng(0x5EED)
    for t in FIXTURE_TABLES:
        tab = pq.read_table(f"{SF_DIR}/{t}.parquet")
        n = tab.num_rows
        tab = tab.take(pa.array(rng.permutation(n)))
        d = dst / f"{t}.parquet"
        d.mkdir()
        cuts = np.array_split(np.arange(n), 3 if n >= 3 else 1)
        for i, idx in enumerate(cuts):
            pq.write_table(
                tab.slice(int(idx[0]), len(idx)),
                str(d / f"part-{i}.parquet"),
                row_group_size=97,
            )
    return str(dst)


def test_fixture_money_columns_are_2dp():
    """The DECIMAL(18,2) casts in operators/money.py are exact ONLY
    for FINITE 2-decimal inputs with |x| < 10^16 (the documented
    money-tier domain); pin ALL THREE contract clauses against the
    fixtures so a regenerated fixture can't silently violate any of
    them (round-11 extremes axis: NaN/inf would TRY-cast to NULL in
    Spark but hard-error DuckDB's CAST, and >10^16 overflows the
    decimal — both must fail HERE, loudly, not in a query)."""
    con = duckdb.connect()
    checks = {
        "lineitem": ["l_extendedprice", "l_discount", "l_tax"],
        "orders": ["o_totalprice"],
        "events": ["value"],
        "customer": ["c_acctbal"],
    }
    for t, cols in checks.items():
        exprs = ", ".join(
            f"max(abs({c}*100 - round({c}*100))) AS resid_{c}, "
            f"max(NOT isfinite({c})) AS nonfin_{c}, "
            f"max(abs({c})) AS mag_{c}"
            for c in cols
        )
        row = con.sql(
            f"SELECT {exprs} FROM read_parquet('{SF_DIR}/{t}.parquet')"
        ).fetchone()
        for i, c in enumerate(cols):
            resid, nonfinite, mag = row[3 * i], row[3 * i + 1], row[3 * i + 2]
            assert resid < 1e-6, (t, c, "non-2dp value", resid)
            assert not nonfinite, (t, c, "NaN/inf in money column")
            assert mag < 1e16, (t, c, "exceeds DECIMAL(18,2) headroom", mag)


def test_sampled_queries_invariant_under_shuffle(spark, shuffled_dir):
    from etl_jobs_spark import cache
    from etl_jobs_spark.compare import frames_match

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{shuffled_dir}/{t}.parquet/*.parquet')"
        )
    for name in SAMPLE:
        got = QUERIES[name](spark, shuffled_dir).toPandas()
        frames_match(got, con.sql(ORACLES[name]).df())
        cache.release_all()


#: queries fixed by the round-10 NULL-injection differential (same
#: harness idea, second axis: 5% NULLs in the measure columns —
#: both engines see identical bytes, so any mismatch is a real
#: cross-engine null-semantics divergence). The full-registry run
#: found 11: null sample points sorting differently (Spark NULLS
#: FIRST vs DuckDB NULLS LAST) under rank/window keys, NaN
#: poisoning in pandas UDAFs / the TWS processor, format_string
#: nulling entire log lines, and a count(*) vs count(col)
#: denominator mismatch in the sketch audit.
NULL_SAMPLE = [
    "dq_drift_ks",
    "stat_mann_whitney_u",
    "stat_levene_bf",
    "feat_robust_scale",
    "ts_downsample_m4",
    "window_ntile_quartiles",
    "fn_window_suite",
    "udaf_grouped_pandas",
    "scan_text_logparse",
    "agg_sketch_accuracy_audit",
    # string-null wave (second run of the axis over event_type /
    # props / documents.text+lang): null partition dirs, three-valued
    # <> logic, null-propagating concat vs null-skipping concat,
    # recursive-CTE equality joins losing the null group, None bytes
    # in pandas decoders, NULL keys in a bloom positive/negative split
    "fn_url_suite",
    "ts_holt_level_trend",
    "sink_partition_overwrite",
    "maintenance_vacuum_report",
    "dedup_incremental_bloom",
    "text_pii_scrub",
    "multimodal_decode_features",
    "recursive_cte_hierarchy",
]


@pytest.fixture(scope="module")
def nulled_dir(tmp_path_factory):
    import pyarrow.compute as pc

    dst = tmp_path_factory.mktemp("nulled_sf")
    rng = np.random.default_rng(77)
    nullable = {
        "events": ["value", "event_type", "props"],
        "customer": ["c_acctbal"],
        "lineitem": ["l_discount", "l_tax"],
        "documents": ["text", "lang"],
    }
    for t in FIXTURE_TABLES:
        tab = pq.read_table(f"{SF_DIR}/{t}.parquet")
        for col in nullable.get(t, []):
            mask = pa.array(rng.random(tab.num_rows) < 0.05)
            arr = pc.if_else(
                mask,
                pa.scalar(None, tab.schema.field(col).type),
                tab[col],
            )
            tab = tab.set_column(
                tab.schema.get_field_index(col), col, arr
            )
        pq.write_table(tab, str(dst / f"{t}.parquet"))
    return str(dst)


def test_sampled_queries_null_safe(spark, nulled_dir):
    from etl_jobs_spark import cache
    from etl_jobs_spark.compare import frames_match

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{nulled_dir}/{t}.parquet')"
        )
    for name in NULL_SAMPLE:
        got = QUERIES[name](spark, nulled_dir).toPandas()
        frames_match(got, con.sql(ORACLES[name]).df())
        cache.release_all()


def test_ws_token_count_unicode_contract(spark):
    """Third axis (unicode injection over documents.text): the full
    379-query differential found exactly one divergence —
    udf_arrow_scalar's token count, where Python str.split() treats
    unicode whitespace (NBSP) as a boundary while SQL regex \\s does
    not. Both sides now pin an explicit ASCII whitespace class; this
    test keeps the contract under adversarial text permanently."""
    import pandas as pd

    from etl_jobs_spark.compare import frames_match
    from etl_jobs_spark.operators.udfs import token_count_arrow_udf

    texts = [
        (1, "plain space tokens"),
        (2, "tab\tand\nnewline\r\nmix"),
        (3, "nbsp stays one token"),
        (4, "zero​width stays one"),
        (5, "  leading and trailing  "),
        (6, ""),
        (7, "emoji \U0001F600 token café straße"),
    ]
    df = spark.createDataFrame(texts, "doc_id BIGINT, text STRING")
    got = df.select(
        "doc_id", token_count_arrow_udf()("text").alias("n_ws_tokens")
    ).toPandas()
    con = duckdb.connect()
    con.register("docs", pd.DataFrame(texts, columns=["doc_id", "text"]))
    want = con.sql(
        r"""
        SELECT doc_id,
               CAST(len(list_filter(
                        regexp_split_to_array(text, '[ \t\n\r\f\v]+'),
                        t -> t <> '')) AS BIGINT) AS n_ws_tokens
        FROM docs
        """
    ).df()
    frames_match(got, want)
    # pin the intended counts, not just cross-engine agreement
    # rows 3/4: NBSP / ZWSP are NOT separators under the ASCII
    # class, so they glue their neighbors into one token
    expect = {1: 3, 2: 4, 3: 3, 4: 3, 5: 3, 6: 0, 7: 5}
    assert {int(r.doc_id): int(r.n_ws_tokens) for _, r in got.iterrows()} == expect
