"""Layer spans for the traced run, recorded from outside the program.

The benchmark wraps each call it makes into a program module in
`Tracer.layer(name)`.  A layer span:

- runs its Spark jobs under a job group of its own, so after the operation
  the status store attributes jobs, tasks, executor run time, shuffle write,
  spill and output bytes to the innermost span that started them;
- counts the py4j *call* commands the driver thread sends while it is the
  innermost span (memory commands, such as garbage-collection detaches, vary
  between identical runs and are not counted);
- records name, start, end, parent and operation id; spans stay in memory
  until the run ends.

`NullTracer` is what an untraced operation runs with: the same call sites,
no job groups, no counting, no materialization.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

ADDITIVE = ("py4j_calls", "jobs", "tasks", "exec_run_s", "shuffle_write_mb", "spill_mb",
            "write_mb")


class NullTracer:
    active = False

    def layer(self, name: str):
        return contextlib.nullcontext()

    def materialize(self, df):
        return df

    def note(self, key: str, value: float) -> None:
        pass

    def wrap(self, owner, attr: str, name: str, materialize: bool = False):
        return contextlib.nullcontext()

    def patch(self, owner, attr: str, replacement):
        return contextlib.nullcontext()


class Tracer(NullTracer):
    active = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.op_id = None
        self.spans: list[dict] = []
        self._op_first_span = 0
        self._stack: list[int] = []
        self._persisted = []
        self._main = threading.get_ident()
        self._client = self.sc._gateway._gateway_client
        self._send = self._client.send_command
        self._client.send_command = self._counting_send

    def _counting_send(self, command, *args, **kwargs):
        if self._stack and command.startswith("c\n") and threading.get_ident() == self._main:
            self.spans[self._stack[-1]]["py4j_calls"] += 1
        return self._send(command, *args, **kwargs)

    @contextlib.contextmanager
    def _uncounted(self):
        """The tracer's own py4j traffic is not counted against a span."""
        stack, self._stack = self._stack, []
        try:
            yield
        finally:
            self._stack = stack

    def close(self) -> None:
        self._client.send_command = self._send

    # -- spans ------------------------------------------------------------------
    def begin_op(self, op_id: int) -> None:
        self.op_id = op_id
        self._op_first_span = len(self.spans)

    def op_spans(self) -> list[dict]:
        return self.spans[self._op_first_span:]

    def _group(self, sid: int) -> str:
        return f"kgbench-span{sid}"

    def _set_group(self, sid: int | None) -> None:
        with self._uncounted():
            if sid is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(self._group(sid), self.spans[sid]["name"])

    @contextlib.contextmanager
    def layer(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({
            "id": sid, "name": name, "op": self.op_id, "parent": parent,
            "start": time.time(), "end": None, "py4j_calls": 0, "notes": {},
        })
        self._set_group(sid)
        self._stack.append(sid)
        try:
            yield
        finally:
            self.spans[sid]["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    def materialize(self, df):
        """Cache and count a lazy layer output inside the current span, so
        its cost lands in the layer that defined it.  Records rows_out."""
        df = df.persist()
        self._persisted.append(df)
        self.note("rows_out", df.count())
        return df

    def note(self, key: str, value: float) -> None:
        notes = self.spans[self._stack[-1]]["notes"]
        notes[key] = notes.get(key, 0) + value

    @contextlib.contextmanager
    def patch(self, owner, attr: str, replacement):
        """Within the block, `owner.attr` is `replacement(orig, *args,
        **kwargs)`.  A missing attribute is left alone."""
        orig = getattr(owner, attr, None)
        if orig is None:
            yield
            return
        setattr(owner, attr, lambda *a, **k: replacement(orig, *a, **k))
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def wrap(self, owner, attr: str, name: str, materialize: bool = False):
        """Within the block, calls the program makes to `owner.attr` run in
        a `name` span; with `materialize`, a DataFrame result is cached and
        counted inside the span."""
        def traced(orig, *args, **kwargs):
            with self.layer(name):
                out = orig(*args, **kwargs)
                if materialize and isinstance(out, DataFrame):
                    out = self.materialize(out)
                return out

        return self.patch(owner, attr, traced)

    # -- after the operation ----------------------------------------------------
    def end_op(self) -> None:
        """Release what `materialize` cached and attach the status store's job
        and stage metrics to each of the operation's spans."""
        with self._uncounted():
            for df in self._persisted:
                df.unpersist()
            self._persisted = []
            tracker = self.sc.statusTracker()
            store = self.sc._jsc.sc().statusStore()
            spans = self.op_spans()
            for s in spans:
                _stage_metrics(s, tracker, store, self._group(s["id"]))
            by_id = {s["id"]: s for s in spans}
            jobs_at = defaultdict(list)
            for s in spans:
                for o in _owners(by_id, s):
                    jobs_at[o["id"]] += s["jobs_at"]
            for s in spans:
                _driver_metrics(s, jobs_at[s["id"]])


def _stage_metrics(span: dict, tracker, store, group: str) -> None:
    """The span's own jobs (those of its job group): additive counters, and
    each job's (submission, completion) time in span["jobs_at"]."""
    m = dict.fromkeys(ADDITIVE, 0.0)
    m["py4j_calls"] = span["py4j_calls"]
    intervals = []
    for jid in tracker.getJobIdsForGroup(group):
        job = store.job(jid)
        m["jobs"] += 1
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            intervals.append((job.submissionTime().get().getTime() / 1000.0,
                              job.completionTime().get().getTime() / 1000.0))
        for stage_id in job.stageIds().mkString(",").split(","):
            try:
                st = store.lastStageAttempt(int(stage_id))
            except Py4JJavaError:  # evicted from the status store
                continue
            m["tasks"] += st.numCompleteTasks()
            m["exec_run_s"] += st.executorRunTime() / 1000.0
            m["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            m["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
            m["write_mb"] += st.outputBytes() / 1e6
    span.update(m, jobs_at=intervals)


def _driver_metrics(span: dict, intervals) -> None:
    """Time metrics from the jobs of the span and of its steps.  driver_s:
    span start to the first job (all of the span if none); driver_only_s:
    the span's time while none of those jobs ran; job_span_s: first job
    submitted to last job done."""
    wall = span["end"] - span["start"]
    first = min((a for a, _ in intervals), default=None)
    span["driver_s"] = wall if first is None else min(wall, max(0.0, first - span["start"]))
    span["driver_only_s"] = wall - _covered(intervals, span["start"], span["end"])
    span["job_span_s"] = (
        max(b for _, b in intervals) - min(a for a, _ in intervals) if intervals else 0.0
    )


def _owners(by_id: dict, s: dict):
    """The span, then each ancestor it is a step of: a span named
    `<parent name>.<step>` is a step of its parent."""
    while True:
        yield s
        parent = by_id.get(s["parent"])
        if parent is None or not s["name"].startswith(parent["name"] + "."):
            return
        s = parent


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_time(spans: list[dict], s: dict) -> float:
    """A span's duration minus the part its child spans cover (children of
    one span run one after another, so their durations add up)."""
    kids = sum(c["end"] - c["start"] for c in spans if c["parent"] == s["id"])
    return (s["end"] - s["start"]) - kids


def layer_totals(spans: list[dict], cores: int) -> dict[str, dict[str, float]]:
    """Per span name, one operation's totals over the spans of that name.
    The additive Spark metrics and py4j calls of a step span (see `_owners`)
    also count toward its parent, while any other child span keeps its own
    (the jobs it started itself).  wall_s includes child spans and self_s
    excludes them; notes stay with the span that made them."""
    by_id = {s["id"]: s for s in spans}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        t = out[s["name"]]
        t["wall_s"] += s["end"] - s["start"]
        t["self_s"] += self_time(spans, s)
        for k in ("driver_s", "driver_only_s", "job_span_s"):
            t[k] += s.get(k, 0)
        for k, v in s["notes"].items():
            t[k] += v
        for o in _owners(by_id, s):
            for k in ADDITIVE:
                out[o["name"]][k] += s.get(k, 0)
    for t in out.values():
        t["exec_busy_share"] = (
            t["exec_run_s"] / (t["job_span_s"] * cores) if t["job_span_s"] > 0 else 0.0
        )
    return out


def jvm_heap_peak_mb(sc) -> float:
    """Sum over the JVM's heap memory pools of each pool's peak usage, MB."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    return sum(
        pool.getPeakUsage().getUsed() for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().toString() == "Heap memory"
    ) / 1e6


def uncovered_share(spans: list[dict], op_start: float, op_end: float) -> float:
    """Share of the operation's wall time that no top-level span covers."""
    covered = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
    wall = op_end - op_start
    return max(0.0, wall - covered) / wall


def write_spans(path: str, spans: list[dict], t0: float) -> None:
    """One record per span: id, name, start and end in seconds from `t0`,
    the parent's id, the operation id, and the span's counters."""
    rows = []
    for s in spans:
        r = {k: v for k, v in s.items() if k not in ("start", "end", "notes", "jobs_at")}
        r.update(start=round(s["start"] - t0, 6), end=round(s["end"] - t0, 6), **s["notes"])
        rows.append(r)
    with open(path, "w") as f:
        json.dump(rows, f, indent=1)
