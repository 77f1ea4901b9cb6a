"""stream_ingest: the event-driven era. A generator thread lands CSV
"messages" on a fixed schedule (an open loop); a Structured Streaming
file source feeds ``foreach_batch_pipeline`` whose sink validates and
cleans each micro-batch, commits it to a transactional table with
``txn_commit_batch`` and appends it to the ``event_ledger`` source.

Phase A offers one fixed rate below capacity and times every file from
when it was due until its micro-batch's sink returned. Phase B drains
a pre-landed backlog with ``availableNow`` and measures capacity.
"""

from __future__ import annotations

import json
import threading
import time
from pathlib import Path

from perfbench import gen, harness
from perfbench.stats import percentile
from perfbench.trace import Tracer

ROWS_PER_FILE = 250
INTERVAL_S = 0.25  # phase A: one file every 250 ms = 1000 events/s
BACKLOG_FILES = 32  # phase B backlog, drained 8 files per trigger
BACKLOG_PER_TRIGGER = 8
PHASE_A_SHARE = 2.5
BACKLOG_FIRST_FILE = 1_000_000  # phase B event ids follow phase A's
WARM_FIRST_FILE = 2_000_000
LEDGER_COLS = ("event_id", "user_id", "event_type", "value")


def _rules():
    from etl_jobs_spark.operators import validation as V

    lo, hi = gen.VALUE_RANGE
    return [
        *V.required_fields("event_id", "user_id", "value"),
        V.nonempty_string("event_type"),
        V.numeric_range("value", lo, hi),
    ]


class _Progress:
    """Collects StreamingQueryListener progress events, keyed by the
    phase that was running when they arrived (one query at a time)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.phase = "warm"
        self.events: dict[str, list] = {}
        self.lock = threading.Lock()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with outer.lock:
                    outer.events.setdefault(outer.phase, []).append(
                        {
                            "batch": p.batchId,
                            "rows": p.numInputRows,
                            "durations": dict(p.durationMs),
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()


class _Sink:
    """The dual sink run once per micro-batch. ``root`` names the span
    each micro-batch opens: ``op`` for phase A, whose micro-batches the
    per-layer metrics describe."""

    def __init__(self, tr, txn_root: str, ledger_root: str, app_id: str, root: str = "op"):
        self.tr, self.txn_root, self.ledger_root, self.app_id = tr, txn_root, ledger_root, app_id
        self.root = root
        self.emitted_ms: dict[int, float] = {}

    def __call__(self, batch_df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from etl_jobs_spark.operators import validation
        from etl_jobs_spark.sources import txn_log

        tr = self.tr
        with tr.span(self.root, f"{self.app_id}-{batch_id}"):
            with tr.span("operators", "validate_clean"):
                valid, _ = validation.validate_split(batch_df, _rules())
                clean = valid.withColumn("mb", F.lit(int(batch_id)))
            with tr.span("txn_log", "txn_commit_batch"):
                txn_log.txn_commit_batch(clean, self.txn_root, self.app_id, int(batch_id))
            with tr.span("ledger_source", "append"):
                (
                    clean.select(*LEDGER_COLS)
                    .write.format("event_ledger")
                    .option("path", self.ledger_root)
                    .mode("append")
                    .save()
                )
        self.emitted_ms[int(batch_id)] = time.time() * 1000.0


class StreamIngest:
    name = "stream_ingest"

    def prepare(self, ctx: harness.Context) -> dict:
        self.base = ctx.work / "stream"
        self.base.mkdir(parents=True)
        # the warm-up files and the phase B backlog land before set-up:
        # they are input, not work
        self.warm_in = self.base / "warm_in"
        self.warm_in.mkdir()
        for i in range(2):
            gen.stream_file(self.warm_in / f"f{i}.csv", ctx.seed, WARM_FIRST_FILE + i,
                            ROWS_PER_FILE, 0)
        self.backlog = self.base / "backlog_in"
        self.backlog.mkdir()
        self.backlog_bytes = sum(
            gen.stream_file(self.backlog / f"f{i:06d}.csv", ctx.seed,
                            BACKLOG_FIRST_FILE + i, ROWS_PER_FILE, 0)
            for i in range(BACKLOG_FILES)
        )
        # phase A lands files for PHASE_A_SHARE x --seconds: its latency
        # varies with how arrivals align with the 1 s trigger, so it
        # needs many micro-batches
        self.n_files = max(int(PHASE_A_SHARE * ctx.seconds / INTERVAL_S), 1)
        self._footer_rows: dict[str, int] = {}
        return {
            "rows_per_file": ROWS_PER_FILE,
            "phase_a_files": self.n_files,
            "phase_a_offered_eps": ROWS_PER_FILE / INTERVAL_S,
            "phase_a_interval_ms": INTERVAL_S * 1e3,
            "phase_b_files": BACKLOG_FILES,
            "phase_b_rows": BACKLOG_FILES * ROWS_PER_FILE,
            "phase_b_bytes": self.backlog_bytes,
            "max_files_per_trigger": {"phase_a": None, "phase_b": BACKLOG_PER_TRIGGER},
        }

    def _source(self, ctx, path, max_files):
        from etl_jobs_spark.streaming import pipelines

        return pipelines.file_stream_source(
            ctx.spark, str(path), gen.STREAM_DDL, fmt="csv", max_files_per_trigger=max_files
        )

    def _batch_rows(self, phase: str) -> dict[int, int]:
        """Rows committed per micro-batch, read from the txn log and the
        parquet footers of its files (no Spark job). The progress
        events cannot serve: a micro-batch read by two sinks counts its
        input rows twice."""
        import pyarrow.parquet as pq

        from etl_jobs_spark.sources import txn_log

        root = Path(self._roots(phase)[0])
        files, batch = {}, {}
        for a in txn_log.read_log(root):
            if a["action"] == "add":
                files[a["version"]] = a["file"]
            elif a["action"] == "commit":
                batch[a["version"]] = a["batch_id"]
        out = {}
        for v, rel in files.items():
            if rel not in self._footer_rows:
                self._footer_rows[rel] = sum(
                    pq.read_metadata(f).num_rows for f in (root / rel).glob("*.parquet")
                )
            out[batch[v]] = self._footer_rows[rel]
        return out

    def _emitted_rows(self) -> int:
        """Phase-A rows whose micro-batch's sink has returned."""
        emitted = self.sink_a.emitted_ms
        return sum(n for b, n in self._batch_rows("a").items() if b in emitted)

    def _roots(self, name):
        return str(self.base / name / "txn"), str(self.base / name / "ledger")

    def warm(self, ctx: harness.Context) -> None:
        from etl_jobs_spark.sources import ledger_source
        from etl_jobs_spark.streaming import pipelines

        ledger_source.register(ctx.spark)
        self.progress = _Progress()
        ctx.spark.streams.addListener(self.progress.listener)
        sink = _Sink(Tracer(False), *self._roots("warm"), "warm")
        pipelines.foreach_batch_pipeline(
            self._source(ctx, self.warm_in, 1), str(self.base / "warm_ckpt"), sink
        )

    def _generate(self, in_dir, seed):
        """Open-loop generator: file i is due at t0 + i * INTERVAL_S
        and is written when due, whatever the pipeline is doing."""
        t0 = time.time() + 0.5
        for i in range(self.n_files):
            due = t0 + i * INTERVAL_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            gen.stream_file(in_dir / f"f{i:06d}.csv", seed, i, ROWS_PER_FILE, int(due * 1000))
            self.landed.append((i, due * 1000.0, time.time() * 1000.0))

    def measure(self, ctx: harness.Context) -> dict:
        from etl_jobs_spark.streaming import pipelines

        # phase A: latency at a fixed offered rate
        in_dir = self.base / "a_in"
        in_dir.mkdir()
        self.landed = []
        self.sink_a = _Sink(ctx.tracer, *self._roots("a"), "a")
        want_rows = self.n_files * ROWS_PER_FILE
        gen_thread = threading.Thread(target=self._generate, args=(in_dir, ctx.seed))
        self.progress.phase = "a"
        gen_thread.start()
        self.errors = []
        try:
            pipelines.foreach_batch_pipeline(
                self._source(ctx, in_dir, None),
                str(self.base / "a_ckpt"),
                self.sink_a,
                trigger={"processingTime": "1 second"},
                await_seconds=PHASE_A_SHARE * ctx.seconds + 60.0,
                stop_when=lambda: not gen_thread.is_alive()
                and self._emitted_rows() >= want_rows,
            )
        except Exception as e:  # its files then fail the exactly-once check
            self.errors.append({"phase": "a", "error": f"{type(e).__name__}: {str(e)[:300]}"})
        finally:
            gen_thread.join()
        # phase B: drain the pre-landed backlog
        self.progress.phase = "b"
        self.sink_b = _Sink(ctx.tracer, *self._roots("b"), "b", root="drain")
        t0 = time.perf_counter()
        try:
            pipelines.foreach_batch_pipeline(
                self._source(ctx, self.backlog, BACKLOG_PER_TRIGGER),
                str(self.base / "b_ckpt"),
                self.sink_b,
            )
        except Exception as e:
            self.errors.append({"phase": "b", "error": f"{type(e).__name__}: {str(e)[:300]}"})
        self.drain_s = time.perf_counter() - t0
        self.latencies = self._latencies()
        return {
            "latencies_ms": [ms for _, ms in self.latencies],
            "ops": [(f"file-{f}", ms) for f, ms in self.latencies],
        }

    def _txn_rows(self, phase: str):
        """The txn table's committed snapshot as a pyarrow table, read
        through the commit log (only files a committed version adds)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from etl_jobs_spark.sources import txn_log

        root = Path(self._roots(phase)[0])
        parts = [
            pq.read_table(f, columns=["event_id", "file_no", "due_ms", "mb"])
            for rel in txn_log.snapshot_files(root)
            for f in sorted((root / rel).glob("*.parquet"))
        ]
        return pa.concat_tables(parts) if parts else None

    def _ledger_ids(self, phase: str) -> list[int]:
        """Event ids of every ledger file the ledger's manifest commits."""
        ledger = Path(self._roots(phase)[1])
        manifest = ledger / "_LEDGER_COMMIT.manifest"
        if not manifest.exists():
            return []
        ids = []
        for name in json.loads(manifest.read_text())["files"]:
            with open(ledger / name) as f:
                ids.extend(json.loads(line)["event_id"] for line in f if line.strip())
        return ids

    def _latencies(self) -> list:
        """(file, ms) for every phase-A file whose batch committed:
        sink return time of its micro-batch minus the file's due time."""
        t = self._txn_rows("a")
        if t is None:
            return []
        files = {
            (f, due, mb)
            for f, due, mb in zip(
                t["file_no"].to_pylist(), t["due_ms"].to_pylist(), t["mb"].to_pylist()
            )
        }
        emitted = self.sink_a.emitted_ms
        return sorted((f, emitted[mb] - due) for f, due, mb in files if mb in emitted)

    def check(self, ctx: harness.Context) -> tuple[int, int, list]:
        """One operation per landed file: it fails unless every one of
        its events is in the txn table once and in the ledger once."""
        want = {
            "a": [i for i, _, _ in self.landed],
            "b": [BACKLOG_FIRST_FILE + i for i in range(BACKLOG_FILES)],
        }
        bad, details = set(), list(self.errors)
        for phase, want_files in want.items():
            t = self._txn_rows(phase)
            tables = {
                "txn": t["event_id"].to_pylist() if t is not None else [],
                "ledger": self._ledger_ids(phase),
            }
            for name, ids in tables.items():
                seen: dict[int, list] = {}
                for e in ids:
                    seen.setdefault(e // ROWS_PER_FILE, []).append(e)
                for f in want_files:
                    got = seen.get(f, [])
                    if len(got) != ROWS_PER_FILE or len(set(got)) != ROWS_PER_FILE:
                        bad.add(f)
                        if len(details) < 5:
                            details.append({"table": f"{name}_{phase}", "file": f,
                                            "rows": len(got), "distinct": len(set(got)),
                                            "want": ROWS_PER_FILE})
                extra = set(seen) - set(want_files)
                if extra:
                    details.append({"table": f"{name}_{phase}", "unexpected_files": len(extra)})
        bad |= set(want["a"]) - {f for f, _ in self.latencies}  # never emitted
        return len(want["a"]) + len(want["b"]), len(bad), details

    def throughput(self) -> float:
        """Phase B capacity: backlog events drained per second."""
        return BACKLOG_FILES * ROWS_PER_FILE / self.drain_s

    def report(self, lat) -> dict:
        late = [w - due for _, due, w in self.landed]
        return {
            "msg_lat_p50_ms": (lat["p50"], "ms"),
            "msg_lat_p90_ms": (lat["p90"], "ms"),
            "drain_eps": (self.throughput(), "events/s"),
            "offered_eps": (ROWS_PER_FILE / INTERVAL_S, "events/s"),
            "gen_late_p90_ms": (percentile(late, 0.9), "ms"),
        }

    def layers(self, ctx, spans, att, timed, n) -> dict:
        ev = [e for e in self.progress.events.get("a", []) if e["rows"] > 0]
        nb = max(len(ev), 1)

        def dur(key):
            return sum(e["durations"].get(key, 0) for e in ev) / nb

        def total(layer):
            return sum(s.ms for s in timed if s.layer == layer) / n

        return {
            "txn_log.commit_ms": total("txn_log"),
            "txn_log.versions": sum(1 for s in timed if s.layer == "txn_log") / n,
            "ledger_source.write_ms": total("ledger_source"),
            "streaming.batches": float(len(ev)),
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.latest_offset_ms": dur("latestOffset"),
            "streaming.planning_ms": dur("queryPlanning"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.backlog_files_max": max(self._batch_rows("a").values(), default=0)
            / ROWS_PER_FILE,
            "streaming.gen_late_ms": max((w - due for _, due, w in self.landed), default=0.0),
        }
