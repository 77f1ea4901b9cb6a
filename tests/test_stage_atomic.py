"""stage_atomic: all-or-nothing staging for exists-guarded fixture
dirs (ADVICE r14, streaming.py:908 — a crash between a feed write
and its marker appends left a dir the pinned-scratch restart treated
as fully staged), the staging memo that ``cache.clear_staging_memos``
forgets, and the exit cleanup of unpinned scratch dirs."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path
from urllib.parse import urlparse

import pytest

from etl_jobs_spark.cache import clear_staging_memos
from etl_jobs_spark.queries import analytics_ext as AQ
from etl_jobs_spark.queries import multimodal as MMQ
from etl_jobs_spark.queries import sources_sinks as SSQ
from etl_jobs_spark.scratch import stage_atomic
from tests.conftest import SF_DIR


def test_builds_then_renames(tmp_path):
    final = tmp_path / "feed"

    def build(tmp):
        tmp.mkdir()
        (tmp / "a").write_text("1")
        (tmp / "b").write_text("2")

    stage_atomic(final, build)
    assert sorted(os.listdir(final)) == ["a", "b"]
    assert not (tmp_path / ".feed.__staging").exists()


def test_existing_final_reused_untouched(tmp_path):
    """Restart reuse: an already-staged dir must not be re-written
    (re-writing would invalidate a FileStreamSource seen-file log)."""
    final = tmp_path / "feed"
    final.mkdir()
    (final / "a").write_text("orig")

    def build(tmp):  # pragma: no cover - must not run
        raise AssertionError("build ran over an existing staging")

    stage_atomic(final, build)
    assert (final / "a").read_text() == "orig"


def test_crashed_partial_staging_is_discarded(tmp_path):
    """A crash mid-build leaves only the temp dir; the next attempt
    discards it and stages cleanly — the final dir NEVER exists in
    a half-staged state."""
    final = tmp_path / "feed"

    def crashing(tmp):
        tmp.mkdir()
        (tmp / "a").write_text("partial")
        raise RuntimeError("injected crash between staging steps")

    with pytest.raises(RuntimeError, match="injected"):
        stage_atomic(final, crashing)
    assert not final.exists(), "half-staged dir became visible"

    def build(tmp):
        tmp.mkdir()
        (tmp / "a").write_text("full")
        (tmp / "marker").write_text("m")

    stage_atomic(final, build)
    assert sorted(os.listdir(final)) == ["a", "marker"]
    assert (final / "a").read_text() == "full"


def _xml_dir(spark):
    uri = SSQ.scan_xml_roundtrip(spark, SF_DIR).inputFiles()[0]
    return Path(urlparse(uri).path).parent


@pytest.mark.parametrize(
    "staged",
    [
        lambda spark: Path(MMQ._stage_media_gif(spark, SF_DIR)),
        _xml_dir,
        lambda spark: AQ._staged_partitioned(spark, SF_DIR)[0],
    ],
    ids=["media_gif", "xml", "partitioned"],
)
def test_staged_fixture_memoized_until_cleared(spark, staged):
    first = staged(spark)
    assert staged(spark) == first
    clear_staging_memos()
    fresh = staged(spark)
    assert fresh != first and fresh.is_dir()
    assert not any(p.with_name(f".{p.name}.__staging").exists() for p in (first, fresh))


def test_catalog_table_lives_in_a_scratch_allocation(spark, oracle):
    """catalog_partition_overwrite's table sits in a ``scratch_dir``
    allocation, so it is removed at exit and two processes never share
    it. It is created once per staging memo: a cleared memo recreates
    it at a fresh location, with the same result."""
    from etl_jobs_spark import scratch
    from etl_jobs_spark.queries.warehouse_ext import catalog_partition_overwrite
    from etl_jobs_spark.registry import all_oracles
    from tests.conftest import assert_matches_oracle

    def run():
        df = catalog_partition_overwrite(spark, SF_DIR)
        assert_matches_oracle(df, oracle, all_oracles()["catalog_partition_overwrite"])
        # <table>/event_type=<v>/part-*.parquet
        (root,) = {Path(urlparse(u).path).parents[1] for u in df.inputFiles()}
        return root

    first = run()
    assert first in scratch._ALLOCATED
    assert run() == first
    clear_staging_memos()
    fresh = run()
    assert fresh != first and fresh in scratch._ALLOCATED


_ALLOCATE_AND_EXIT = """
import sys
from etl_jobs_spark import scratch
from etl_jobs_spark.sources.write_lock import table_write_lock
d = scratch.scratch_dir("exit_probe")
(d / "sub").mkdir(parents=True)
(d / "sub" / "f").write_text("x")
with table_write_lock(d):
    pass
with scratch.pinned_scratch(sys.argv[1]):
    p = scratch.scratch_dir("pinned_probe")
p.mkdir(parents=True)
(p / "f").write_text("y")
print(d)
"""


def test_unpinned_scratch_removed_at_exit_pinned_kept(tmp_path):
    root = tmp_path / "root"
    pinned = tmp_path / "pinned"
    root.mkdir()
    env = dict(
        os.environ,
        SPARK_GRAFT_SCRATCH=str(root),
        PYTHONPATH=str(Path(__file__).resolve().parents[1]),
    )
    out = subprocess.run(
        [sys.executable, "-c", _ALLOCATE_AND_EXIT, str(pinned)],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    allocated = Path(out.stdout.strip())
    assert allocated.parent == root
    assert os.listdir(root) == []
    assert (pinned / "pinned_probe" / "f").read_text() == "y"
