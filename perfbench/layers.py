"""Per-layer readings for a traced run, taken from outside the package.

A layer is the module a key's registered query function lives in.  Per
key the benchmark times ``spec.fn`` (build) and ``toPandas`` (collect)
itself; this module adds what Spark's public monitoring surfaces report
about the same call:

* ``StatusTracker``: jobs, stages and tasks.  Keys run one after
  another and job ids are handed out in order, so every job whose id
  appeared during a key belongs to it -- including the micro-batch jobs
  a streaming query runs on its own thread, outside any job group the
  caller sets.
* a ``StreamingQueryListener``: one progress event per micro-batch,
  attributed to the key during which its query started (events arrive
  asynchronously, so they are matched by timestamp once the pass is
  done).
* the bytes a streaming key leaves behind in the run's temp dir.

Untraced runs create none of this.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

import host
from workloads import STREAMING_MODULES

_PER_KEY = (
    ("build_s", "s"),
    ("collect_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
)
_PER_STREAM = (
    ("batches", "count"),
    ("input_rows", "rows"),
    ("addBatch_ms", "ms"),
    ("walCommit_ms", "ms"),
    ("commitOffsets_ms", "ms"),
    ("floor_ms", "ms"),
    ("state_rows", "rows"),
    ("state_mem_bytes", "bytes"),
    ("state_commit_ms", "ms"),
    ("disk_bytes", "bytes"),
)
SETUP_METRICS = (
    ("plans.registry.all_specs_s", "s"),
    ("session.get_spark_s", "s"),
    ("setup.warmup_s", "s"),
)
TRACE_WALL = ("trace.wall_s", "s")


def layer_metrics(modules: list[str]) -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in reporting order."""
    out = list(SETUP_METRICS)
    for mod in modules:
        out += [(f"{mod}.{m}", u) for m, u in _PER_KEY]
    for mod in STREAMING_MODULES:
        out += [(f"{mod}.{m}", u) for m, u in _PER_STREAM]
    out.append(TRACE_WALL)
    return out


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class _ProgressListener(StreamingQueryListener):
    """Keeps plain copies of the events; called on Spark's listener bus
    thread, so it only appends under a lock."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started: dict[str, float] = {}
        self.terminated: set[str] = set()
        self.progress: list[dict] = []
        self.last_event = time.monotonic()

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started[str(event.runId)] = _epoch(event.timestamp)
            self.last_event = time.monotonic()

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators
        rec = {
            "run": str(p.runId),
            "batch": p.batchId,
            "ts": _epoch(p.timestamp),
            "rows": p.numInputRows,
            "dur": dict(p.durationMs),
            "state_rows": sum(op.numRowsTotal for op in ops),
            "state_mem": sum(op.memoryUsedBytes for op in ops),
            "state_commit_ms": sum(op.commitTimeMs for op in ops),
        }
        with self.lock:
            self.progress.append(rec)
            self.last_event = time.monotonic()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self.terminated.add(str(event.runId))
            self.last_event = time.monotonic()


class LayerTrace:
    """Collects per-layer totals over a traced run's pass."""

    def __init__(self, spark, tmp_dir: str) -> None:
        self.spark = spark
        self.tracker = spark.sparkContext.statusTracker()
        self.tmp_dir = tmp_dir
        self.totals: dict[str, float] = defaultdict(float)
        self.windows: list[tuple[float, float, str]] = []
        self.listener = _ProgressListener()
        spark.streams.addListener(self.listener)
        self.next_job = self._first_unseen_job(0)
        self.seen_stages: set[int] = set()
        self._key: tuple[str, float, int] | None = None

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    # -- per key -------------------------------------------------------
    def begin(self, module: str) -> None:
        disk = (
            host.dir_bytes(self.tmp_dir) if module in STREAMING_MODULES else 0
        )
        self._key = (module, time.time(), disk)

    def end(self, build_s: float, collect_s: float) -> None:
        module, t0, disk0 = self._key
        self.windows.append((t0, time.time(), module))
        self.totals[f"{module}.build_s"] += build_s
        self.totals[f"{module}.collect_s"] += collect_s
        jobs, stages, tasks = self._new_jobs()
        self.totals[f"{module}.jobs"] += jobs
        self.totals[f"{module}.stages"] += stages
        self.totals[f"{module}.tasks"] += tasks
        if module in STREAMING_MODULES:
            left = host.dir_bytes(self.tmp_dir) - disk0
            self.totals[f"{module}.disk_bytes"] += max(0, left)

    def _first_unseen_job(self, start: int) -> int:
        job = start
        while self.tracker.getJobInfo(job) is not None:
            job += 1
        return job

    def _new_jobs(self) -> tuple[int, int, int]:
        """Jobs, stages and tasks run since the previous key.  The
        status store is fed asynchronously, so wait (briefly) until the
        jobs it knows of have ended and no further job id shows up."""
        deadline = time.monotonic() + 5.0
        while True:
            end = self._first_unseen_job(self.next_job)
            infos = [self.tracker.getJobInfo(j) for j in range(self.next_job, end)]
            running = any(i is None or i.status in ("RUNNING", "UNKNOWN") for i in infos)
            if not running:
                time.sleep(0.02)
                if self._first_unseen_job(end) == end:
                    break
            if time.monotonic() > deadline:
                break
            time.sleep(0.02)
        stages = tasks = 0
        for info in infos:
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in self.seen_stages:
                    continue
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    self.seen_stages.add(sid)
                    stages += 1
                    tasks += st.numCompletedTasks
        self.next_job = end
        return len(infos), stages, tasks

    # -- after the timed pass -----------------------------------------
    def settle(self, timeout_s: float = 15.0) -> None:
        """Wait until every started query has reported its termination
        and the listener has been quiet for half a second."""
        lst = self.listener
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with lst.lock:
                done = set(lst.started) <= lst.terminated
                quiet = time.monotonic() - lst.last_event > 0.5
            if done and quiet:
                return
            time.sleep(0.05)

    def _module_at(self, ts: float) -> str | None:
        for t0, t1, module in self.windows:
            if t0 - 0.001 <= ts <= t1 + 0.001:
                return module
        return None

    def stream_totals(self) -> int:
        """Fold the listener's events into per-module totals; returns
        the number of progress events no key window holds."""
        with self.listener.lock:
            progress = list(self.listener.progress)
            started = dict(self.listener.started)
        last: dict[str, dict] = {}
        orphans = 0
        for rec in progress:
            # A query belongs to the key during which it started.
            module = self._module_at(started.get(rec["run"], rec["ts"]))
            if module is None:
                orphans += 1
                continue
            rec["module"] = module
            dur = rec["dur"]
            add = dur.get("addBatch", 0)
            self.totals[f"{module}.batches"] += 1
            self.totals[f"{module}.input_rows"] += rec["rows"]
            self.totals[f"{module}.addBatch_ms"] += add
            self.totals[f"{module}.walCommit_ms"] += dur.get("walCommit", 0)
            self.totals[f"{module}.commitOffsets_ms"] += dur.get("commitOffsets", 0)
            self.totals[f"{module}.floor_ms"] += dur.get("triggerExecution", 0) - add
            self.totals[f"{module}.state_commit_ms"] += rec["state_commit_ms"]
            prev = last.get(rec["run"])
            if prev is None or rec["batch"] >= prev["batch"]:
                last[rec["run"]] = rec
        # State size is what a query holds when it ends: its last batch.
        for rec in last.values():
            self.totals[f"{rec['module']}.state_rows"] += rec["state_rows"]
            self.totals[f"{rec['module']}.state_mem_bytes"] += rec["state_mem"]
        return orphans
