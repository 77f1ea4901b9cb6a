"""Runtime shim that unlocks ``transformWithStateInPandas`` in
environments with no installed ``google.protobuf``.

PySpark 4 ships the protobuf GENCODE for its stateful-processing
wire protocol (``pyspark/sql/streaming/proto/StateMessage_pb2.py``)
but not the protobuf *runtime*; without ``google.protobuf`` the
Spark-4 arbitrary-stateful-processing API is unusable. Many hosts do
carry a pure-Python protobuf runtime on disk without exposing it on
``sys.path`` (the Google Cloud SDK vendors one, and it is plain
Apache-licensed protobuf). This module:

1. uses an installed ``google.protobuf`` when present (no-op),
2. else probes ``PB_RUNTIME_CANDIDATES`` for an importable runtime
   and appends its parent dir to ``sys.path``,
3. relaxes protobuf's gencode/runtime version gate to SAME-MAJOR
   tolerance (the stock check refuses 6.33 gencode on a 6.32
   runtime, though wire format and the generated-code API are stable
   within a major — the cross-version guarantee protobuf documents),
4. verifies that Spark's ``StateMessage_pb2`` actually loads.

Driver-side that is enough; the state-server protocol ALSO runs in
the Python workers (``StatefulProcessorApiClient`` talks to the JVM
state store from the worker). Workers are fresh interpreters, so the
shim must run there before ``pyspark.worker`` unpickles the
processor. It does so from the engine's one worker bootstrap,
``_worker_boot/sitecustomize.py`` (see ``session.WORKER_BOOT``), which
every interpreter imports at start. It is a ``sitecustomize`` because
that is the only hook that also runs in workers not forked from the
daemon. The bootstrap replays steps 2-3 only when
:func:`enable_tws` has set ``TWS_MARKER`` in ``sc.environment``: PySpark
captures that dict into every subsequently created python function
(core/rdd.py ``_prepare_for_python_RDD``) and the worker factory puts
it in the worker's environment, so this works on an already-running
session with no conf changes.
"""

from __future__ import annotations

import os
import sys

#: Directories that may hold a pure-Python ``google/protobuf``
#: runtime. Probed in order; first importable wins.
PB_RUNTIME_CANDIDATES = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
    "/usr/lib/google-cloud-sdk/lib/third_party/cloudsdk",
)

#: Worker environment entry that tells the bootstrap to replay the shim.
TWS_MARKER = "ETL_JOBS_SPARK_TWS_SHIM"

_state: dict[str, bool | None] = {"ok": None}


def _relax_version_gate() -> None:
    """Downgrade the gencode/runtime version check to same-major.

    Scoped: the original validator still runs and still rejects
    cross-major or cross-domain mismatches; only the
    minor/patch-newer-gencode case (wire- and API-compatible per
    protobuf's published guarantee) is tolerated.
    """
    from google.protobuf import runtime_version as rv

    if getattr(rv, "_etl_jobs_spark_relaxed", False):
        return
    original = rv.ValidateProtobufRuntimeVersion

    def tolerant(domain, major, minor, patch, suffix, location):  # noqa: ANN001
        try:
            original(domain, major, minor, patch, suffix, location)
        except rv.VersionError:
            if domain is rv.Domain.PUBLIC and major == rv.MAJOR:
                return  # same-major newer gencode: accept
            raise

    rv.ValidateProtobufRuntimeVersion = tolerant
    rv._etl_jobs_spark_relaxed = True


def _runtime_present() -> bool:
    """True iff a REAL ``google.protobuf`` package imports.

    The subtlety: Spark worker PYTHONPATHs can contain jars whose
    ``google/protobuf/*.proto`` resource dirs import as an empty
    PEP-420 namespace package — ``import google.protobuf`` succeeds
    but carries no modules (``__file__`` is None). Treat that shell
    as absent, and purge it from ``sys.modules`` so a later scan can
    find a regular package (which, per PEP 420, wins over namespace
    portions regardless of path order)."""
    try:
        import google.protobuf as gp
    except ImportError:
        return False
    if getattr(gp, "__file__", None) is not None:
        return True
    for m in [k for k in sys.modules if k == "google" or k.startswith("google.")]:
        del sys.modules[m]
    return False


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable in THIS process and
    confirm Spark's state-message gencode loads. Returns True on
    success; memoized."""
    if _state["ok"] is not None:
        return bool(_state["ok"])
    if not _runtime_present():
        for cand in PB_RUNTIME_CANDIDATES:
            if not os.path.isdir(os.path.join(cand, "google", "protobuf")):
                continue
            sys.path.append(cand)
            if _runtime_present():
                break
            sys.path.remove(cand)
        else:
            _state["ok"] = False
            return False
    try:
        _relax_version_gate()
        from pyspark.sql.streaming.proto import StateMessage_pb2  # noqa: F401
    except Exception:
        _state["ok"] = False
        return False
    _state["ok"] = True
    return True


def enable_tws(spark) -> bool:
    """Prepare ``spark`` for transformWithStateInPandas: driver-side
    shim, and the marker that makes the worker bootstrap replay it.
    A session not built by ``get_spark`` (the driver harness's own)
    lacks the bootstrap on its worker path, so it is prepended there.
    Safe to call repeatedly and on sessions whose JVM is already
    running (worker env is captured per created python function, not
    at context start)."""
    from etl_jobs_spark.session import WORKER_BOOT

    if not ensure_protobuf():
        return False
    env = spark.sparkContext.environment
    existing = env.get("PYTHONPATH", "")
    if WORKER_BOOT not in existing.split(os.pathsep):
        env["PYTHONPATH"] = WORKER_BOOT + ((os.pathsep + existing) if existing else "")
    env[TWS_MARKER] = "1"
    return True
