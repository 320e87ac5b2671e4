"""Outside-in tracing: spans around calls into the engine's public
functions, a StreamingQueryListener, and Spark's status tracker.

Nothing here edits the engine. `Tracer.install` swaps a timing wrapper in
for a handful of public functions and methods (and puts the originals back
in `uninstall`), so a traced pass runs exactly the engine code an untraced
pass runs, plus one Python call per wrapped entry point.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

# output directory base name -> layer span, for writes issued by the runner
WRITE_LAYERS = {
    "verdicts": "suite.run",
    "violations": "suite.violations",
    "stats": "stats.write",
    "drift": "drift.scores",
    "decode_violations": "decode.checks",
}


class Tracer:
    """In-memory spans: [name, start, end, parent index, pass id]."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.enabled = False
        self.pass_id = -1
        self._restore: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.pass_id])
        self.stack.append(idx)
        try:
            yield
        finally:
            self.stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def _wrap(self, owner, attr: str, name_of) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            name = name_of(args, kwargs)
            if name is None:
                return orig(*args, **kwargs)
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the layer entry points the runner's batch pass calls."""
        from pyspark.sql.readwriter import DataFrameWriter

        from al_drift_detection_spark import drift
        from al_drift_detection_spark import decode
        from al_drift_detection_spark.checkpoint import Checkpoint
        from al_drift_detection_spark.suite import CheckSuite

        def write_layer(args, kwargs):
            path = kwargs.get("path", args[1] if len(args) > 1 else "")
            return WRITE_LAYERS.get(os.path.basename(str(path).rstrip("/")))

        self._wrap(CheckSuite, "run", lambda a, k: "suite.run")
        self._wrap(drift, "build_reference_sample", lambda a, k: "drift.reference")
        self._wrap(drift, "drift_scores", lambda a, k: "drift.scores")
        self._wrap(decode, "decode_checks", lambda a, k: "decode.checks")
        self._wrap(Checkpoint, "record", lambda a, k: "checkpoint.record")
        self._wrap(DataFrameWriter, "parquet", write_layer)
        self.enabled = True

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore = []
        self.enabled = False

    def self_times(self, pass_id: int) -> dict[str, float]:
        """Per span name: summed duration minus the time its children cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s[4] == pass_id and s[3] is not None:
                child_time[s[3]] = child_time.get(s[3], 0.0) + (s[2] - s[1])
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s[4] == pass_id:
                out[s[0]] = out.get(s[0], 0.0) + (s[2] - s[1]) - child_time.get(i, 0.0)
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": n, "start": a, "end": b, "parent": p, "pass": k}
            for n, a, b, p, k in self.spans
        ]


class ProgressListener(StreamingQueryListener):
    """Collects every streaming query's progress for the current pass."""

    def __init__(self) -> None:
        self.reset()

    def reset(self) -> None:
        self.run_ids: list[str] = []
        self.progress: list[dict] = []
        self.terminated = 0

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        self.progress.append({
            "input_rows": int(p.numInputRows),
            "duration": dict(p.durationMs or {}),
            "state_rows": sum(int(o.numRowsTotal) for o in ops),
            "state_commit_ms": sum(int(o.commitTimeMs) for o in ops),
            "state_bytes": sum(int(o.memoryUsedBytes) for o in ops),
            "dropped": sum(int(o.numRowsDroppedByWatermark) for o in ops),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated += 1

    def wait_terminated(self, timeout_s: float = 30.0) -> None:
        """Progress events reach Python asynchronously; a query's terminated
        event is posted after its last progress event."""
        deadline = time.monotonic() + timeout_s
        while self.terminated < len(self.run_ids) and time.monotonic() < deadline:
            time.sleep(0.05)

    def summary(self) -> dict[str, float]:
        prog = self.progress
        busy = [p for p in prog if p["input_rows"] > 0]

        def total(key: str) -> float:
            return float(sum(p["duration"].get(key, 0) for p in prog))

        return {
            "streaming.triggers": float(len(prog)),
            "streaming.empty_triggers": float(len(prog) - len(busy)),
            "streaming.trigger_ms_p50": float(statistics.median(
                p["duration"].get("triggerExecution", 0) for p in busy)) if busy else 0.0,
            "streaming.add_batch_ms": total("addBatch"),
            "streaming.get_batch_ms": total("getBatch"),
            "streaming.query_planning_ms": total("queryPlanning"),
            "streaming.wal_commit_ms": total("walCommit"),
            "state.commit_ms": float(sum(p["state_commit_ms"] for p in prog)),
            "state.rows_total": float(prog[-1]["state_rows"]) if prog else 0.0,
            "state.memory_mb": max((p["state_bytes"] for p in prog), default=0) / 1e6,
            "state.rows_dropped_by_watermark": float(sum(p["dropped"] for p in prog)),
            "streaming.input_rows": float(sum(p["input_rows"] for p in prog)),
        }


def job_counts(sc, groups: list[str]) -> tuple[int, int]:
    """(jobs, tasks run) under the given job groups, from the status tracker."""
    tracker = sc.statusTracker()
    jobs, stages = set(), set()
    for g in groups:
        for j in tracker.getJobIdsForGroup(g):
            jobs.add(j)
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks
    return len(jobs), tasks
