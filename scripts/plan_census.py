"""Regenerate docs/PLAN_CENSUS.json: the plan fingerprint
(``operators.observability.plan_fingerprint``) of every ``bench.CENSUS``
query, one line per query, built at the fixture dir the file records
(``sf_dir``, the test suite's sf0.001).

``tests/test_plan_quality.py`` checks each query against its line, so
a plan that changes shows up as a failing test, and a plan changed on
purpose as a diff of the census. Regenerate after changing a plan on
purpose:
    python scripts/plan_census.py

Each query is built, never run, from a cleared cache and fresh
fixtures, so its fingerprint does not depend on what ran before it.
If any query fails to build, it exits 1 and leaves the file as it was.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from bench import CENSUS  # noqa: E402
from etl_jobs_spark import cache, registry  # noqa: E402
from etl_jobs_spark.operators.observability import plan_fingerprint  # noqa: E402
from etl_jobs_spark.session import get_spark  # noqa: E402

CENSUS_PATH = REPO / "docs" / "PLAN_CENSUS.json"
COMMAND = "python scripts/plan_census.py"


def fingerprint(spark, build, sf_dir: str) -> dict:
    """``plan_fingerprint`` of ``build(spark, sf_dir)``, built after
    dropping every cached relation and staged fixture: a cached
    relation that an earlier action filled reports its real size, which
    can flip a broadcast decision."""
    spark.catalog.clearCache()
    cache.release_all()
    cache.clear_staging_memos()
    return plan_fingerprint(build(spark, sf_dir))


def render(census: dict, sf_dir: str) -> str:
    """The census file: one line per query, then the fixture dir."""
    rows = ",\n".join(
        f"    {json.dumps(n)}: {json.dumps(census[n], sort_keys=True)}"
        for n in sorted(census)
    )
    return f'{{\n  "queries": {{\n{rows}\n  }},\n  "sf_dir": {json.dumps(sf_dir)}\n}}\n'


def main() -> None:
    sf_dir = json.loads(CENSUS_PATH.read_text())["sf_dir"]
    spark = get_spark(
        "plan-census", master="local[4]", shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    queries = registry.all_queries()
    census, failed = {}, []
    for name in CENSUS:
        try:
            census[name] = fingerprint(spark, queries[name], sf_dir)
        except Exception as e:
            failed.append(name)
            print(f"# {name}: FAILED ({e!r:.200})", file=sys.stderr)
    spark.stop()
    if failed:
        print(f"{len(failed)} queries failed; {CENSUS_PATH.name} left as it was",
              file=sys.stderr)
        sys.exit(1)
    CENSUS_PATH.write_text(render(census, sf_dir))
    print(f"wrote {CENSUS_PATH.relative_to(REPO)} ({len(census)} queries)")


if __name__ == "__main__":
    main()
