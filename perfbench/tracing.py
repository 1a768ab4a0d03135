"""Spans and Spark-side counters for the benchmark's traced runs.

A span is a timed interval around one call into a layer of the
program: ``session.get_spark``, ``plans.pipeline.main``, a
``queries.<name>`` builder, a sink ``save()`` or an output check. Each
span records its name, start, end, parent and the run id; spans stay in
memory and are written out as JSON when the run ends.

A span opened with ``jobs=True`` runs its calls under a Spark job group
named after the span id. When it closes, the listener bus is drained
and the group's jobs and stages are read from Spark's status store
(``statusTracker().getJobIdsForGroup`` and
``statusStore().lastStageAttempt``), which works with the UI disabled.
Streaming progress comes from a ``StreamingQueryListener``: the span
collects every progress event delivered while it was open.

With tracing disabled a span does nothing and costs one branch, so the
untraced runs measure the program alone.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# per-stage counters summed over a span's jobs: name -> (StageData getter, scale)
STAGE_COUNTERS = {
    "tasks": ("numTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_records": ("inputRecords", 1),
    "output_bytes": ("outputBytes", 1),
    "output_records": ("outputRecords", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
}


class ProgressCollector(StreamingQueryListener):
    """Keeps every streaming progress event, in delivery order."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ops = p.stateOperators or []
        self.events.append(
            {
                "id": str(p.id),
                "batch": p.batchId,
                "input_rows": p.numInputRows,
                "trigger_ms": (p.durationMs or {}).get("triggerExecution", 0),
                "add_batch_ms": (p.durationMs or {}).get("addBatch", 0),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_memory_bytes": sum(o.memoryUsedBytes for o in ops),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def summarize_progress(events: list[dict]) -> dict:
    """Per-query streaming counters from the progress events of one
    builder call; state is the largest total any batch reported."""
    return {
        "batches": len(events),
        "input_rows": sum(e["input_rows"] for e in events),
        "trigger_ms": sum(e["trigger_ms"] for e in events),
        "add_batch_ms": sum(e["add_batch_ms"] for e in events),
        "state_rows": max((e["state_rows"] for e in events), default=0),
        "state_memory_bytes": max((e["state_memory_bytes"] for e in events), default=0),
    }


class Tracer:
    """Span recorder for one run. ``enabled=False`` makes every call a
    no-op except the streaming listener, which the workloads that count
    streaming input rows register in either mode."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.progress = ProgressCollector()
        self._listening = False

    def listen(self) -> None:
        if not self._listening:
            self.spark.streams.addListener(self.progress)
            self._listening = True

    def close(self) -> None:
        if self._listening:
            self.spark.streams.removeListener(self.progress)
            self._listening = False

    def drain(self) -> None:
        """Wait until Spark's listener bus has delivered every event
        posted so far, to the status store and to our listener."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        """Time ``name``; with ``jobs`` also collect its Spark jobs,
        stages and streaming progress into the yielded record."""
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"{self.run_id}-{sid}"
        first_event = len(self.progress.events)
        if jobs:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                self.drain()
                rec["jobs"] = self._jobs(group)
                rec["streaming"] = summarize_progress(self.progress.events[first_event:])

    def _jobs(self, group: str) -> dict:
        """Job count, per-job wall time and summed stage counters of
        one job group, from the status store."""
        store = self.sc._jsc.sc().statusStore()
        ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        out = dict.fromkeys(STAGE_COUNTERS, 0)
        job_wall = []
        seen: set[int] = set()
        for jid in ids:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                job_wall.append((done.get().getTime() - sub.get().getTime()) / 1e3)
            else:
                job_wall.append(0.0)
            info = self.sc.statusTracker().getJobInfo(jid)
            for st in info.stageIds if info else []:
                if st in seen:
                    continue
                seen.add(st)
                try:
                    data = store.lastStageAttempt(st)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                for key, (getter, scale) in STAGE_COUNTERS.items():
                    out[key] += getattr(data, getter)() * scale
        out["jobs"] = len(ids)
        out["job_wall_s"] = job_wall
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f, indent=1)
