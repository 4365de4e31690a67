"""In-memory spans around the package's calls, and Spark's event log
folded into them.

``Tracer`` records spans (name, start, end, parent, thread). ``instrument``
wraps the module functions and ``SinkCatalog`` methods that
``run_pipeline`` looks up at call time, so each pipeline call yields a
span tree without editing the package:

    routing.call
      catalog.committed
      routing.discover            (committed() end -> parse_corpus start)
      parse_corpus, enrich        (plan construction only; lazy)
      routing.stage
        routing.stage_write
        routing.stage_countback   (write end -> lineage commit start)
        catalog.commit
      sink.<name>                 (one per sink, on the fan-out threads)
        sink.<name>.write
        sink.<name>.countback
        catalog.commit
      routing.fanout              (stage end -> compact_lineage start)
      catalog.compact_lineage

``fold`` reads the JSON event log and attributes every Spark job, and so
every task, to exactly one span: jobs carrying the ``spark.scheduler.pool``
property that ``run_pipeline`` sets per sink go to the innermost span of
that sink's subtree open at submission; other jobs go to the innermost
main-thread span open at submission. Jobs no span covers are
unattributed.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass, field

STAGE_SINK = "parsed_stage"
# Tolerance when matching event-log millisecond timestamps to span bounds.
_SLACK_S = 0.002


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    thread: int
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans in memory. Create it on the thread that drives Spark:
    spans opened on other threads with no open span of their own take the
    innermost open span of that thread as parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.main_thread = threading.get_ident()
        self.call: dict | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack = self._stack()

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str, parent: int | None = None, **attrs) -> Span:
        stack = self._stack()
        if parent is None:
            if stack:
                parent = stack[-1].id
            elif self._main_stack:
                parent = self._main_stack[-1].id
        with self._lock:
            sp = Span(len(self.spans), name, time.time(), None, parent, threading.get_ident(), attrs)
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack().remove(sp)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = self.open(name, **attrs)
        try:
            yield sp
        finally:
            self.close(sp)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> Span:
        """Record an already-finished span (an interval between two calls)."""
        with self._lock:
            sp = Span(len(self.spans), name, start, end, parent, threading.get_ident(), attrs)
            self.spans.append(sp)
        return sp

    def call_pipeline(self, run_pipeline, *args, **kwargs):
        """Run ``run_pipeline`` inside a ``routing.call`` span."""
        with self.span("routing.call") as sp:
            self.call = {"span": sp, "committed_end": None, "stage_end": None, "fanout_end": None}
            try:
                return run_pipeline(*args, **kwargs)
            finally:
                call, self.call = self.call, None
                if call["stage_end"] is not None:
                    self.add(
                        "routing.fanout",
                        call["stage_end"],
                        call["fanout_end"] or time.time(),
                        sp.id,
                    )


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the lookups ``run_pipeline`` makes at call time; restore them
    on exit."""
    from stash_log_parser_spark.plans import routing
    from stash_log_parser_spark.sources.catalog import SinkCatalog

    pending = threading.local()  # per thread: sink -> (outer span, write end)
    orig_parse, orig_enrich = routing.parse_corpus, routing.enrich
    orig = {
        n: getattr(SinkCatalog, n)
        for n in ("write_partitions", "read", "commit", "committed", "compact_lineage")
    }

    def parse_corpus(*a, **kw):
        call = tracer.call
        if call is not None:
            start = call["committed_end"] or call["span"].start
            tracer.add("routing.discover", start, time.time(), call["span"].id)
        with tracer.span("parse_corpus"):
            return orig_parse(*a, **kw)

    def enrich(*a, **kw):
        with tracer.span("enrich"):
            return orig_enrich(*a, **kw)

    def write_partitions(self, df, sink, *a, **kw):
        call = tracer.call
        if call is None:
            with tracer.span("catalog.write_partitions", sink=sink):
                return orig["write_partitions"](self, df, sink, *a, **kw)
        name = "routing.stage" if sink == STAGE_SINK else f"sink.{sink}"
        outer = tracer.open(name, parent=call["span"].id, sink=sink)
        try:
            with tracer.span(f"{name}_write" if sink == STAGE_SINK else f"{name}.write"):
                orig["write_partitions"](self, df, sink, *a, **kw)
        except BaseException:
            tracer.close(outer)
            raise
        if not hasattr(pending, "m"):
            pending.m = {}
        pending.m[sink] = (outer, time.time())

    def commit(self, entries, run_id):
        sink = entries[0][0] if entries else None
        outer, write_end = getattr(pending, "m", {}).pop(sink, (None, None))
        try:
            if outer is not None:
                cb = "routing.stage_countback" if sink == STAGE_SINK else f"sink.{sink}.countback"
                tracer.add(cb, write_end, time.time(), outer.id)
            with tracer.span("catalog.commit", sink=sink):
                return orig["commit"](self, entries, run_id)
        finally:
            if outer is not None:
                tracer.close(outer)
                if sink == STAGE_SINK and tracer.call is not None:
                    tracer.call["stage_end"] = outer.end

    def read(self, sink):
        with tracer.span("catalog.read", sink=sink):
            return orig["read"](self, sink)

    def committed(self):
        with tracer.span("catalog.committed") as sp:
            out = orig["committed"](self)
        if tracer.call is not None:
            tracer.call["committed_end"] = sp.end
        return out

    def compact_lineage(self, *a, **kw):
        if tracer.call is not None:
            tracer.call["fanout_end"] = time.time()
        with tracer.span("catalog.compact_lineage"):
            return orig["compact_lineage"](self, *a, **kw)

    routing.parse_corpus, routing.enrich = parse_corpus, enrich
    for n, fn in (
        ("write_partitions", write_partitions),
        ("read", read),
        ("commit", commit),
        ("committed", committed),
        ("compact_lineage", compact_lineage),
    ):
        setattr(SinkCatalog, n, fn)
    try:
        yield tracer
    finally:
        routing.parse_corpus, routing.enrich = orig_parse, orig_enrich
        for n, fn in orig.items():
            setattr(SinkCatalog, n, fn)


# -- event log ---------------------------------------------------------------

_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerStageSubmitted",
    "SparkListenerTaskEnd",
)


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir`` (plain or rolling layout)."""
    out = []
    for dirpath, _, names in os.walk(log_dir):
        for n in sorted(names):
            if not n.startswith((".", "appstatus")):
                out.append(os.path.join(dirpath, n))
    return out


def read_events(paths) -> dict:
    """Jobs, stage submission times and task metrics from event-log files."""
    jobs: dict[int, dict] = {}
    stage_submit: dict[tuple[int, int], float] = {}
    tasks: list[dict] = []
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                head = line[:64]
                if not any(w in head for w in _WANTED):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "id": ev["Job ID"],
                        "submit": ev["Submission Time"] / 1000.0,
                        "pool": props.get("spark.scheduler.pool"),
                        "stages": list(ev["Stage IDs"]),
                    }
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stage_submit[key] = info.get("Submission Time", 0) / 1000.0
                else:
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "attempt": ev["Stage Attempt ID"],
                            "launch": info["Launch Time"] / 1000.0,
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "run_s": m.get("Executor Run Time", 0) / 1000.0,
                            "deserialize_s": m.get("Executor Deserialize Time", 0) / 1000.0,
                            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                            "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                            "spill_bytes": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                            "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        }
                    )
    return {"jobs": jobs, "stage_submit": stage_submit, "tasks": tasks}


TASK_SUMS = (
    "cpu_s",
    "run_s",
    "deserialize_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
)


def _empty_fold() -> dict:
    out = {"jobs": 0, "stages": set(), "tasks": 0, "task_wait_s": 0.0}
    out.update({k: 0.0 for k in TASK_SUMS})
    return out


def _covers(sp: Span, t: float) -> bool:
    return sp.start - _SLACK_S <= t <= (sp.end if sp.end is not None else float("inf")) + _SLACK_S


def attribute_jobs(spans: list[Span], jobs: dict, main_thread: int) -> dict[int, int | None]:
    """job id -> id of the one span it belongs to (None: no span covers it)."""
    by_id = {s.id: s for s in spans}
    depth: dict[int, int] = {}

    def depth_of(s: Span) -> int:
        if s.id not in depth:
            depth[s.id] = 0 if s.parent is None else depth_of(by_id[s.parent]) + 1
        return depth[s.id]

    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def subtree(s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(children.get(cur.id, ()))
        return out

    main = [s for s in spans if s.thread == main_thread]
    out: dict[int, int | None] = {}
    for jid, job in jobs.items():
        t = job["submit"]
        cands = main
        if job["pool"]:
            owners = [s for s in spans if s.name == f"sink.{job['pool']}" and _covers(s, t)]
            if owners:
                cands = [c for o in owners for c in subtree(o)]
        hits = [s for s in cands if _covers(s, t)]
        out[jid] = max(hits, key=lambda s: (depth_of(s), s.start)).id if hits else None
    return out


def fold(spans: list[Span], events: dict, main_thread: int) -> dict:
    """Attribute jobs/tasks to spans. Returns ``{"self": {span_id: sums},
    "unattributed": sums, "job_span": {job: span}, "task_span": [span, ...]}``
    where ``task_span[i]`` is the span of ``events["tasks"][i]``."""
    jobs = events["jobs"]
    job_span = attribute_jobs(spans, jobs, main_thread)
    stage_job: dict[int, int] = {}
    for jid in sorted(jobs):
        for st in jobs[jid]["stages"]:
            stage_job.setdefault(st, jid)
    selfs: dict[int | None, dict] = {}
    for jid, sid in job_span.items():
        selfs.setdefault(sid, _empty_fold())["jobs"] += 1
    task_span = []
    for task in events["tasks"]:
        sid = job_span.get(stage_job.get(task["stage"]))
        task_span.append(sid)
        acc = selfs.setdefault(sid, _empty_fold())
        acc["tasks"] += 1
        acc["stages"].add((task["stage"], task["attempt"]))
        for k in TASK_SUMS:
            acc[k] += task[k]
        submitted = events["stage_submit"].get((task["stage"], task["attempt"]))
        if submitted is not None:
            acc["task_wait_s"] += max(0.0, task["launch"] - submitted)
    unattributed = selfs.pop(None, _empty_fold())
    return {"self": selfs, "unattributed": unattributed, "job_span": job_span, "task_span": task_span}


def inclusive(spans: list[Span], folded: dict, root: Span) -> dict:
    """Sum of the folded metrics over ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s.id)
    acc = _empty_fold()
    todo = [root.id]
    while todo:
        sid = todo.pop()
        todo.extend(children.get(sid, ()))
        part = folded["self"].get(sid)
        if part is None:
            continue
        acc["jobs"] += part["jobs"]
        acc["tasks"] += part["tasks"]
        acc["stages"] |= part["stages"]
        acc["task_wait_s"] += part["task_wait_s"]
        for k in TASK_SUMS:
            acc[k] += part[k]
    return acc


def duration(sp: Span) -> float:
    return (sp.end or sp.start) - sp.start
