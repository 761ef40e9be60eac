"""Spans, counters and the Spark-side collectors the benchmark reads.

Everything here observes the program from outside: spans wrap calls into
the package's public functions, streaming progress comes from a
``StreamingQueryListener`` and execution counts come from the
``statusTracker()`` and the JVM status store, looked up by job group.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import threading
import time
from contextlib import contextmanager
from datetime import datetime, timezone

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# Public functions wrapped in a traced pass, by span name. Every module of
# the package that holds one of these objects gets the wrapper, so calls
# made through ``from ... import name`` bindings are traced too.
WRAPPED = {
    "tables.load": [("rlink_rs_spark.tables", "load_table")],
    "sources.stage": [
        ("rlink_rs_spark.streaming.sources", "stage_stream_dir"),
        ("rlink_rs_spark.streaming.sources", "stage_stream_dir_with_dups"),
        ("rlink_rs_spark.streaming.sources", "stage_stream_dir_with_late"),
    ],
    "runner.run": [
        ("rlink_rs_spark.streaming.runner", "run_to_memory"),
        ("rlink_rs_spark.streaming.runner", "run_to_parquet"),
        # streams driven by their own sink (CDC merge) wait here instead
        ("pyspark.sql.streaming.query", "StreamingQuery.awaitTermination"),
    ],
}


class Tracer:
    """Spans (name, start, end, parent, run id) and counters, kept in memory
    and written once when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        span = {"name": name, "start": time.time(), "end": None,
                "parent": stack[-1] if stack else None, "run_id": self.run_id}
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        stack.append(span["id"])
        try:
            yield
        finally:
            stack.pop()
            span["end"] = time.time()

    def in_span(self, name: str) -> bool:
        return any(self.spans[s]["name"] == name for s in self._stack())

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + value

    def _closed(self, since: int) -> list[dict]:
        return [s for s in self.spans[since:] if s["end"] is not None]

    def total_s(self, name: str, since: int = 0) -> float:
        return sum(s["end"] - s["start"] for s in self._closed(since) if s["name"] == name)

    def self_s(self, name: str, since: int = 0) -> float:
        """Duration of ``name`` spans minus the time their direct children cover."""
        spans = self._closed(since)
        own = {s["id"] for s in spans if s["name"] == name}
        child = sum(s["end"] - s["start"] for s in spans if s["parent"] in own)
        return self.total_s(name, since) - child

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, "counts": self.counts}, f)


def _staged_files(result) -> int:
    path = result[0] if isinstance(result, tuple) else result
    if isinstance(path, str) and os.path.isdir(path):
        return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    return 0


def instrument(tracer: Tracer):
    """Wrap the WRAPPED functions everywhere they are bound; returns an undo
    callable that restores the originals."""
    undo = []
    for span_name, targets in WRAPPED.items():
        for mod_name, attr in targets:
            owner = sys.modules.get(mod_name)
            *path, attr = attr.split(".")
            for name in path:
                owner = getattr(owner, name, None)
            orig = getattr(owner, attr, None) if owner else None
            if orig is None:
                continue

            def wrapper(*a, _orig=orig, _name=span_name, **k):
                if tracer.in_span(_name):  # nested staging helpers count once
                    return _orig(*a, **k)
                with tracer.span(_name):
                    out = _orig(*a, **k)
                if _name == "sources.stage":
                    tracer.add("sources.files_staged", _staged_files(out))
                return out

            functools.update_wrapper(wrapper, orig)
            if path:  # a method: patch the class only
                setattr(owner, attr, wrapper)
                undo.append((owner, attr, orig))
                continue
            for m_name, m in list(sys.modules.items()):
                if not (m_name.startswith("rlink_rs_spark") or m_name == mod_name):
                    continue
                for key, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, key, wrapper)
                        undo.append((m, key, orig))

    def restore():
        for m, key, orig in reversed(undo):
            setattr(m, key, orig)

    return restore


def _epoch_ms(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp() * 1000.0


class StreamLog(StreamingQueryListener):
    """Every start, progress and termination event of every streaming query.

    ``recentProgress`` keeps only the last 100 progress entries per query,
    and watermark no-data batches take many of them; a listener sees all.
    """

    def __init__(self):
        self._lock = threading.Lock()
        self.started: dict[str, dict] = {}
        self.progress: list[dict] = []
        self.terminated: dict[str, dict] = {}
        self.on_progress = None  # optional callback(progress dict)

    def onQueryStarted(self, event):  # noqa: N802 (Spark API names)
        with self._lock:
            self.started[str(event.runId)] = {
                "id": str(event.id), "start_ms": _epoch_ms(event.timestamp),
            }

    def onQueryProgress(self, event):  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)
        if self.on_progress is not None:
            self.on_progress(p)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        with self._lock:
            self.terminated[str(event.runId)] = {"end_ms": time.time() * 1000.0}

    def runs_since(self, known: set[str]) -> list[str]:
        with self._lock:
            return [r for r in self.started if r not in known]

    def wait_terminated(self, run_ids, timeout: float = 30.0) -> None:
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self._lock:
                if all(r in self.terminated for r in run_ids):
                    return
            time.sleep(0.02)
        raise TimeoutError(f"listener did not see the end of streaming runs {run_ids}")

    def batches(self, run_ids) -> list[dict]:
        ids = set(run_ids)
        with self._lock:
            return [p for p in self.progress if p["runId"] in ids]


def data_batches(batches: list[dict]) -> list[dict]:
    return [p for p in batches if p.get("numInputRows", 0) > 0]


def commit_ms(p: dict) -> float:
    """Wall-clock time at which a micro-batch committed."""
    return _epoch_ms(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0)


PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def stream_layers(log: StreamLog, run_ids) -> dict[str, float]:
    """Per-layer streaming numbers for the given runs, summed over runs."""
    out = {k: 0.0 for k in (
        "runner.s", "runner.start_ms", "runner.stop_ms", "stream.batches",
        "stream.nodata_batches", "state.stores", "state.rows", "state.mem_mb",
        "state.commit_ms", "state.update_ms", "state.removal_ms",
        "state.dropped_rows", "sink.rows_out",
    )}
    for ph in PHASES:
        out[f"stream.{ph}_ms"] = 0.0
    for rid in run_ids:
        ps = log.batches([rid])
        start = log.started.get(rid, {}).get("start_ms")
        end = log.terminated.get(rid, {}).get("end_ms")
        if start is not None and end is not None:
            out["runner.s"] += (end - start) / 1000.0
        if ps and start is not None:
            out["runner.start_ms"] += _epoch_ms(ps[0]["timestamp"]) - start
        if ps and end is not None:
            out["runner.stop_ms"] += max(0.0, end - commit_ms(ps[-1]))
        for p in ps:
            data = p.get("numInputRows", 0) > 0
            out["stream.batches" if data else "stream.nodata_batches"] += 1
            for ph in PHASES:
                out[f"stream.{ph}_ms"] += p["durationMs"].get(ph, 0)
            for op in p.get("stateOperators", []):
                out["state.stores"] += op.get("numStateStoreInstances", 0)
                out["state.commit_ms"] += op.get("commitTimeMs", 0)
                out["state.update_ms"] += op.get("allUpdatesTimeMs", 0)
                out["state.removal_ms"] += op.get("allRemovalsTimeMs", 0)
                out["state.dropped_rows"] += op.get("numRowsDroppedByWatermark", 0)
                out["state.mem_mb"] = max(out["state.mem_mb"], op.get("memoryUsedBytes", 0) / 2**20)
            out["sink.rows_out"] += max(0, (p.get("sink") or {}).get("numOutputRows", 0))
        if ps:
            out["state.rows"] += sum(op.get("numRowsTotal", 0) for op in ps[-1].get("stateOperators", []))
    return out


EXEC_KEYS = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.single_task_stages",
    "exec.task_s", "exec.gc_s", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
    "exec.spill_mb", "exec.task_failures",
)


def exec_layers(spark, groups) -> dict[str, float]:
    """Job, stage and task numbers of every job run under the given job
    groups (one per query, plus each streaming run id, which Spark uses as
    the job group of its micro-batches)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    out = dict.fromkeys(EXEC_KEYS, 0.0)
    stage_ids = set()
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["exec.jobs"] += 1
            stage_ids.update(int(s) for s in info.stageIds)
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the store or never submitted
            continue
        if str(sd.status().toString()) == "SKIPPED":
            continue
        n = sd.numTasks()
        out["exec.stages"] += 1
        out["exec.tasks"] += n
        out["exec.single_task_stages"] += n == 1
        out["exec.task_s"] += sd.executorRunTime() / 1000.0
        out["exec.gc_s"] += sd.jvmGcTime() / 1000.0
        out["exec.shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
        out["exec.shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
        out["exec.spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        out["exec.task_failures"] += sd.numFailedTasks()
    return out


def codegen_stages(df) -> int:
    """Whole-stage-codegen subtrees in the plan that ran (``*(n)`` markers)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(set(re.findall(r"\*\((\d+)\)", plan)))
