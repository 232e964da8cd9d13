"""Per-layer tracing, recorded from outside the package.

A span is one timed call into a layer's public entry point: a name, a
start, an end, the span it ran inside and the op it belongs to.  The op id
is also the Spark job group, and Spark job ids are handed out in order, so
the jobs an op launched while its Block stack was building are told apart
from the jobs its action ran.  Job and stage figures come from Spark's
status store.  Spans stay in memory and are written out once, at exit.
"""

from __future__ import annotations

import contextlib
import json
import time

from py4j.protocol import Py4JJavaError

# stage counter -> (StageData getter, factor to the reported unit)
STAGE_COUNTERS = {
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "executor_run_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "input_rows": ("inputRecords", 1),
    "input_bytes": ("inputBytes", 1),
}


class Tracer:
    """Span recorder plus Spark status-store reader for one session."""

    def __init__(self, sc):
        self.sc = sc
        self._jsc = sc._jsc.sc()
        self.spans = []
        self._stack = []

    @contextlib.contextmanager
    def span(self, name, op_id):
        rec = {"name": name, "op": op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()

    def next_job_id(self):
        """Id the next Spark job will get; jobs are numbered in order."""
        return int(self._jsc.dagScheduler().nextJobId())

    def begin_op(self, op_id, description):
        self.sc.setJobGroup(op_id, description)

    def op_jobs(self, op_id):
        """Ids of every job in the op's job group, once the status store
        has seen all events posted so far."""
        self._jsc.listenerBus().waitUntilEmpty()
        return sorted(self.sc.statusTracker().getJobIdsForGroup(op_id))

    def job_stats(self, job_ids):
        """Sum the stage counters of ``job_ids``; a stage shared by two
        jobs counts once, skipped stages not at all."""
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(STAGE_COUNTERS, 0)
        out.update(jobs=len(job_ids), stages=0, tasks=0, schema_jobs=0)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
            try:
                name = store.job(j).name()
            except Py4JJavaError:       # evicted from the status store
                continue
            if name.startswith("parquet at "):
                out["schema_jobs"] += 1
        for s in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(s)
            except Py4JJavaError:       # stage never submitted
                continue
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            for key, (getter, factor) in STAGE_COUNTERS.items():
                out[key] += getattr(st, getter)() * factor
            out["spill_bytes"] += st.memoryBytesSpilled()
        return out

    def dump(self, path):
        """Write every span, with its self time (its duration minus the
        time its child spans cover), as one JSON document."""
        child = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None:
                child[rec["parent"]] += rec["end"] - rec["start"]
        rows = [dict(rec, id=i,
                     self_s=rec["end"] - rec["start"] - child[i])
                for i, rec in enumerate(self.spans)]
        with open(path, "w") as fh:
            json.dump({"spans": rows}, fh)


def persisted_storage(sc):
    """(persisted RDD count, bytes they hold in memory and on disk)."""
    infos = list(sc._jsc.sc().getRDDStorageInfo())
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos)
