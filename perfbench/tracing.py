"""Spans, Spark job accounting and stream progress for traced passes.

Everything here is recorded from outside the library: the tracer wraps
calls into public functions, gives each call its own Spark job group
and reads the group back from the status tracker right after the call
(the status store keeps only the newest 1000 jobs, so cumulative group
counts are not reliable over a long run). Streaming progress is
attributed by ``runId`` once the queries have terminated, because the
listener bus delivers events asynchronously.

Spans live in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import datetime as dt
import itertools
import threading
import time

#: public functions wrapped on traced passes: (module, attribute, span)
PIPELINE_STAGES = (
    ("nba_spurs_etl_spark.sources.bronze", "write_all", "sources.bronze.write_all"),
    ("nba_spurs_etl_spark.sources.silver", "load_all", "sources.silver.load_all"),
    (
        "nba_spurs_etl_spark.sources.silver",
        "save_warehouse",
        "sources.silver.save_warehouse",
    ),
    ("nba_spurs_etl_spark.plans.gold", "build_all", "plans.gold.build_all"),
    ("nba_spurs_etl_spark.quality", "run_checks", "quality.run_checks"),
)


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = itertools.count()
        self._patches: list[tuple] = []
        self._listener = None
        self.stream_events = StreamEvents()

    # -- spans ---------------------------------------------------------

    def span(self, name: str, fn, *args, **kwargs):
        group = f"perfbench-{self.run_id}-{next(self._seq)}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": group, "name": name, "parent": parent, "run": self.run_id}
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            rec.update(self.group_counts(group))
            self.spans.append(rec)

    def group_counts(self, group: str) -> dict:
        jobs = self.status.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = self.status.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = self.status.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def plan_seconds(self, df) -> float:
        """Analysis + optimization + planning time of ``df``'s plan, from
        Catalyst's own phase tracker (forces physical planning)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        total = 0
        for p in ("analysis", "optimization", "planning"):
            if phases.contains(p):
                total += phases.apply(p).durationMs()
        return total / 1000.0

    # -- enabling and disabling ---------------------------------------

    def enable(self) -> None:
        import importlib

        for mod_name, attr, span_name in PIPELINE_STAGES:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)

            def wrapped(*a, _orig=orig, _name=span_name, **k):
                return self.span(_name, _orig, *a, **k)

            setattr(mod, attr, wrapped)
            self._patches.append((mod, attr, orig))
        self._listener = self.stream_events.listener()
        self.spark.streams.addListener(self._listener)

    def disable(self, timeout: float = 30.0) -> None:
        for mod, attr, orig in reversed(self._patches):
            setattr(mod, attr, orig)
        self._patches.clear()
        if self._listener is not None:
            self.stream_events.wait_terminated(timeout)
            self.spark.streams.removeListener(self._listener)
            self._listener = None


class StreamEvents:
    """Streaming listener events keyed by runId."""

    def __init__(self):
        self.lock = threading.Lock()
        self.started: dict[str, float] = {}
        self.progress: dict[str, list[dict]] = {}
        self.terminated: set[str] = set()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                ts = dt.datetime.fromisoformat(event.timestamp.replace("Z", "+00:00"))
                with events.lock:
                    events.started[str(event.runId)] = ts.timestamp()

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "batch": p.batchId,
                    "ms": dict(p.durationMs),
                    "rows": p.numInputRows,
                }
                with events.lock:
                    events.progress.setdefault(str(p.runId), []).append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with events.lock:
                    events.terminated.add(str(event.runId))

        return _Listener()

    def wait_terminated(self, timeout: float) -> None:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self.lock:
                if set(self.started) <= self.terminated:
                    return
            time.sleep(0.05)

    def runs_between(self, start: float, end: float) -> list[str]:
        # the event timestamp is the JVM's wall clock, the span's is
        # Python's: the same system clock
        with self.lock:
            return [r for r, t in self.started.items() if start <= t <= end]

    def totals(self, run_ids: list[str]) -> dict:
        triggers = rows = 0
        add_batch = machinery = 0.0
        with self.lock:
            for r in run_ids:
                for p in self.progress.get(r, ()):
                    triggers += 1
                    rows += p["rows"]
                    ab = p["ms"].get("addBatch", 0)
                    add_batch += ab / 1000.0
                    machinery += (p["ms"].get("triggerExecution", 0) - ab) / 1000.0
        return {
            "triggers": triggers,
            "input_rows": rows,
            "add_batch_s": add_batch,
            "machinery_s": machinery,
        }
