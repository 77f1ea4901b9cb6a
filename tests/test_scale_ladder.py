"""scripts/scale_ladder.py ``build``: a ×2 id-offset replica of the
sf0.001 fixtures, plain and with the ``keys`` and ``hub`` skews."""

from __future__ import annotations

import pytest

from etl_jobs_spark.compare import oracle_views
from etl_jobs_spark.sources.readers import read_table
from scripts.scale_ladder import OFFSETS, build
from tests.conftest import FIXTURE_TABLES, SF_DIR


def _build(spark, tmp_path_factory, skew=None):
    out = tmp_path_factory.mktemp(f"ladder_{skew or 'plain'}")
    build(spark, SF_DIR, str(out), 2, skew)
    con = oracle_views(str(out))
    con.sql("ATTACH '' AS src")
    for t in FIXTURE_TABLES:
        con.sql(f"CREATE VIEW src.{t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return out, con


@pytest.fixture(scope="module")
def plain(spark, tmp_path_factory):
    out, con = _build(spark, tmp_path_factory)
    yield out, con
    con.close()


def _one(con, sql):
    return con.sql(sql).fetchone()[0]


def test_replicated_tables_double_with_disjoint_offset_keys(plain):
    _, con = plain
    for t, offsets in OFFSETS.items():
        assert _one(con, f"SELECT count(*) FROM {t}") == 2 * _one(
            con, f"SELECT count(*) FROM src.{t}"
        ), t
        for c in offsets:
            assert _one(con, f"SELECT count(DISTINCT {c}) FROM {t}") == 2 * _one(
                con, f"SELECT count(DISTINCT {c}) FROM src.{t}"
            ), (t, c)
    assert _one(con, "SELECT count(DISTINCT o_orderkey) FROM orders") == _one(
        con, "SELECT count(*) FROM orders"
    )
    # copy 0 is the source, unshifted
    assert _one(
        con, "SELECT count(*) FROM (FROM src.orders EXCEPT ALL FROM orders)"
    ) == 0


def test_untouched_tables_equal_source(plain):
    out, con = plain
    for t in set(FIXTURE_TABLES) - set(OFFSETS):
        assert (out / f"{t}.parquet").is_symlink(), t
        for a, b in [(t, f"src.{t}"), (f"src.{t}", t)]:
            assert _one(con, f"SELECT count(*) FROM (FROM {a} EXCEPT ALL FROM {b})") == 0


def test_every_table_reads_back_through_spark_and_duckdb(spark, plain):
    out, con = plain
    for t in FIXTURE_TABLES:
        assert read_table(spark, str(out), t).count() == _one(
            con, f"SELECT count(*) FROM {t}"
        ), t


def test_skew_keys_makes_user_7_hot(spark, tmp_path_factory):
    _, con = _build(spark, tmp_path_factory, "keys")
    share = _one(con, "SELECT avg((user_id = 7)::INT) FROM events")
    con.close()
    assert share >= 0.5


def test_skew_hub_makes_part_1_a_hub(spark, tmp_path_factory):
    _, con = _build(spark, tmp_path_factory, "hub")
    share = _one(con, "SELECT avg((l_partkey = 1)::INT) FROM lineitem")
    con.close()
    assert share >= 0.1
