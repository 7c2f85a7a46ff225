"""Tracing for the benchmark's traced runs (``--trace 1``).

Spans are recorded around the benchmark's own calls into each layer
(``registry.QUERIES[name]``, ``plans.inspect.audit``, the noop write,
``convert.*``); no engine code is instrumented. Spark's own state is read
from outside: the status store per job group, each DataFrame's
``QueryPlanningTracker`` phases, and streaming progress from a
``StreamingQueryListener``. A py4j send counter wraps the gateway client.
"""

from __future__ import annotations

import contextlib
import itertools
import statistics
import time


class Tracer:
    """In-memory spans: name, start, end, parent span and request id.
    With ``on=False`` every span is a no-op."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None, **attrs):
        if not self.on:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "rid": rid if rid is not None else (parent or {}).get("rid"),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of its interval its children cover."""
        kids: dict[int, list[dict]] = {}
        for sp in self.spans:
            kids.setdefault(sp["parent"], []).append(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            covered, cur_end = 0.0, sp["start"]
            for k in sorted(kids.get(sp["id"], []), key=lambda s: s["start"]):
                lo, hi = max(k["start"], cur_end), min(k["end"], sp["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            dur = sp["end"] - sp["start"]
            out[sp["name"]] = out.get(sp["name"], 0.0) + dur - covered
        return out


class SparkProbe:
    """Reads per-job-group and streaming facts from a live session."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.store = self._jsc.statusStore()
        self.py4j_sends = 0
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(*a, **k):
            self.py4j_sends += 1
            return send(*a, **k)

        client.send_command = counted
        self.progress: list[dict] = []
        probe = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                probe.progress.append({
                    "id": str(p.id),
                    "batch": p.batchId,
                    "duration_ms": dict(p.durationMs),
                    "state": [
                        (s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs)
                        for s in p.stateOperators
                    ],
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)

    def phases(self, df) -> dict[str, float]:
        """Catalyst phase seconds of ``df``'s own query execution."""
        out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in out:
                out[kv._1()] = kv._2().durationMs() / 1000.0
        return out

    def group(self, group: str) -> dict[str, float]:
        """Jobs, stages, tasks and task metrics of one job group, from the
        status store once the listener bus has drained."""
        self._jsc.listenerBus().waitUntilEmpty()
        jvm = self.sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        acc = dict.fromkeys(
            ("jobs", "stages", "tasks", "job_wall_s", "task_run_s",
             "task_cpu_s", "gc_s", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes"), 0.0)
        intervals = []
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            job = self.store.job(jid)
            acc["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append((job.submissionTime().get().getTime(),
                                  job.completionTime().get().getTime()))
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                for_stage = self.store.stageData(
                    sid, False, no_status, False, no_quantiles)
                if for_stage.isEmpty():
                    continue
                sd = for_stage.head()
                if str(sd.status()) == "SKIPPED":
                    continue
                acc["stages"] += 1
                acc["tasks"] += sd.numTasks()
                acc["task_run_s"] += sd.executorRunTime() / 1e3
                acc["task_cpu_s"] += sd.executorCpuTime() / 1e9
                acc["gc_s"] += sd.jvmGcTime() / 1e3
                acc["shuffle_read_bytes"] += sd.shuffleReadBytes()
                acc["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                acc["spill_bytes"] += (sd.memoryBytesSpilled()
                                       + sd.diskBytesSpilled())
        acc["job_wall_s"] = _union_ms(intervals) / 1e3
        return acc


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
