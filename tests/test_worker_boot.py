"""The engine's Python-worker bootstrap (``etl_jobs_spark/_worker_boot``):
an unchanged zip archive is not re-read on ``importlib.invalidate_caches()``,
a changed one is, and the bootstrap is live in UDF workers and in the
Python DataSource's task and planner workers."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

from etl_jobs_spark.session import WORKER_BOOT
from etl_jobs_spark.sources.ledger_source import (
    LedgerDataSource,
    LedgerReader,
    LedgerWriter,
    register,
)

WRAPPED = "_install_zip_wrapper.<locals>.invalidate_caches"

_ZIP_ROUND_TRIP = """
import importlib, json, sys, zipfile, zipimport
archive = sys.argv[1]
sys.path.insert(0, archive)
import boot_mod_a
reads = []
read_directory = zipimport._read_directory
def counting(path):
    if path == archive:
        reads.append(path)
    return read_directory(path)
zipimport._read_directory = counting
importlib.invalidate_caches()
unchanged = len(reads)
with zipfile.ZipFile(archive, "a") as z:
    z.writestr("boot_mod_b.py", "VALUE = 2\\n")
importlib.invalidate_caches()
import boot_mod_b
print(json.dumps({
    "qualname": zipimport.zipimporter.invalidate_caches.__qualname__,
    "unchanged_reads": unchanged,
    "rewritten_reads": len(reads) - unchanged,
    "value": boot_mod_b.VALUE,
}))
"""


def test_zip_reread_only_when_archive_changes(tmp_path):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("boot_mod_a.py", "VALUE = 1\n")
    # A fresh interpreter with the bootstrap on PYTHONPATH, as a worker has.
    env = dict(os.environ, PYTHONPATH=WORKER_BOOT)
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_ROUND_TRIP, str(archive)],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {
        "qualname": WRAPPED,
        "unchanged_reads": 0,
        "rewritten_reads": 1,
        "value": 2,
    }


def _boot_qualname() -> str:
    import zipimport

    return zipimport.zipimporter.invalidate_caches.__qualname__


def test_udf_worker_has_bootstrap(spark):
    from pyspark.sql import functions as F

    @F.udf("string")
    def probe(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__qualname__

    rows = spark.range(0, 1, 1, 1).select(probe("id")).collect()
    assert [r[0] for r in rows] == [WRAPPED]


class _ProbeWriter(LedgerWriter):
    def write(self, iterator):
        msg = super().write(iterator)
        msg.boot = _boot_qualname()
        return msg

    def commit(self, messages):
        super().commit(messages)
        probe = {"tasks": sorted({m.boot for m in messages}), "commit": _boot_qualname()}
        with open(os.path.join(self.path, "_boot_write"), "w") as f:
            json.dump(probe, f)


class _ProbeReader(LedgerReader):
    def partitions(self):
        with open(os.path.join(self.dir, "_boot_read"), "w") as f:
            f.write(_boot_qualname())
        return super().partitions()


class _ProbeSource(LedgerDataSource):
    """The ledger with its planner and task calls reporting whether the
    bootstrap's wrapper is installed in the worker that ran them."""

    @classmethod
    def name(cls) -> str:
        return "event_ledger_boot_probe"

    def writer(self, schema, overwrite: bool):
        return _ProbeWriter(self.options, overwrite=overwrite)

    def reader(self, schema):
        return _ProbeReader(self.options)


def test_ledger_append_and_read_run_with_bootstrap(spark, tmp_path):
    from pyspark import cloudpickle

    # The workers cannot import this test module; ship its classes by value.
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    try:
        register(spark)  # the ledger's session settings (filter pushdown)
        spark.dataSource.register(_ProbeSource)
        df = spark.range(0, 20, 1, 2).selectExpr(
            "id AS event_id",
            "id % 3 AS user_id",
            "'click' AS event_type",
            "CAST(id AS DOUBLE) AS value",
        )
        df.write.format(_ProbeSource.name()).option("path", str(tmp_path)).mode(
            "append"
        ).save()
        back = spark.read.format(_ProbeSource.name()).option("path", str(tmp_path)).load()
        assert sorted(r.event_id for r in back.collect()) == list(range(20))
    finally:
        cloudpickle.unregister_pickle_by_value(sys.modules[__name__])
    assert json.loads((tmp_path / "_boot_write").read_text()) == {
        "tasks": [WRAPPED],
        "commit": WRAPPED,
    }
    assert (tmp_path / "_boot_read").read_text() == WRAPPED
