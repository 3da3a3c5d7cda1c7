"""Spans around the engine's public layer functions, and the Spark job
record they are matched against.

A span records name, start, end, parent and a request id (a batch, window
or wave id).  Spans are kept in memory and read out when the run ends.
Spark jobs come from the JVM status store, which is readable with the UI
off; each job is matched to a streaming batch through the job description
Spark stamps on it ("... batch = N"), or else to the innermost span whose
time window holds the job's submission time.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    req: object = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _patches: list[tuple] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, req=None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if req is None and parent is not None:
            req = self.spans[parent].req
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), parent=parent, req=req))
        stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace module.attr by a spanned wrapper.  Callers that look the
        function up on the module at call time, the module's own internal
        calls included, then go through the span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patches.append((module, attr, fn))
        setattr(module, attr, spanned)

    def restore(self) -> None:
        for module, attr, fn in reversed(self._patches):
            setattr(module, attr, fn)
        self._patches.clear()

    def outermost(self, name: str) -> list[Span]:
        """Spans of `name` not nested inside another span of `name`."""
        out = []
        for s in self.spans:
            p = s.parent
            while p is not None and self.spans[p].name != name:
                p = self.spans[p].parent
            if s.name == name and p is None:
                out.append(s)
        return out


def dump(path: str, tracer: Tracer, **extra) -> None:
    """Write the spans (plus any extra records) of a traced run as JSON."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"spans": [asdict(s) for s in tracer.spans], **extra}, fh)


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def last_job_id(spark) -> int:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((j.jobId() for j in _seq(jobs)), default=-1)


def jobs_after(spark, after_id: int) -> list[dict]:
    """Jobs with id > after_id, with their stages' metrics summed.

    Skipped stages (shuffle output reused) count neither as stages nor
    toward the metrics."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages: dict[int, dict] = {}
    for st in _seq(store.stageList(None, False, False, no_quantiles, None)):
        if str(st.status().toString()) == "SKIPPED":
            continue
        m = stages.setdefault(
            st.stageId(),
            {
                "tasks": 0,
                "failed_tasks": 0,
                "input_bytes": 0,
                "input_records": 0,
                "shuffle_write_bytes": 0,
                "output_bytes": 0,
                "executor_run_ms": 0,
                "gc_ms": 0,
            },
        )
        m["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        m["failed_tasks"] += st.numFailedTasks()
        m["input_bytes"] += st.inputBytes()
        m["input_records"] += st.inputRecords()
        m["shuffle_write_bytes"] += st.shuffleWriteBytes()
        m["output_bytes"] += st.outputBytes()
        m["executor_run_ms"] += st.executorRunTime()
        m["gc_ms"] += st.jvmGcTime()
    out = []
    for j in _seq(store.jobsList(None)):
        if j.jobId() <= after_id:
            continue
        submit, done = _opt(j.submissionTime()), _opt(j.completionTime())
        sids = [sid for sid in _seq(j.stageIds()) if sid in stages]
        rec = {
            "id": j.jobId(),
            "desc": _opt(j.description()) or "",
            "submit": submit.getTime() / 1000.0 if submit else 0.0,
            "done": done.getTime() / 1000.0 if done else 0.0,
            "stages": len(sids),
        }
        for k in stages.get(sids[0], {}) if sids else ():
            rec[k] = sum(stages[s][k] for s in sids)
        out.append(rec)
    return sorted(out, key=lambda r: r["id"])


def batch_of(job: dict, run_id: str) -> int | None:
    """Streaming batch id from the description Spark sets on each
    micro-batch's jobs, for the query run `run_id`."""
    desc = job["desc"]
    if f"runId = {run_id}" not in desc:
        return None
    for line in desc.splitlines():
        if line.startswith("batch = "):
            return int(line[len("batch = ") :])
    return None


def span_of(job: dict, spans: list[Span]) -> int | None:
    """Index of the innermost span open at the job's submission."""
    best = None
    for i, s in enumerate(spans):
        if s.start <= job["submit"] <= s.end and (
            best is None or s.start >= spans[best].start
        ):
            best = i
    return best


def covered_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


SPARK_TOTALS = (
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.input_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.output_bytes", "bytes"),
    ("spark.executor_run_ms", "ms"),
    ("spark.gc_ms", "ms"),
)


def spark_totals(jobs: list[dict]) -> dict[str, float]:
    out = {"spark.jobs": float(len(jobs))}
    for name, _ in SPARK_TOTALS[1:]:
        key = name.split(".", 1)[1]
        out[name] = float(sum(j.get(key, 0) for j in jobs))
    return out
