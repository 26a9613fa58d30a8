"""Spans, counters and the Spark status-store readout of the traced run.

All spans are recorded from the benchmark's own files: the core layers are
wrapped where the core looks them up (module globals and class attributes),
and the Spark actions the application calls are wrapped on ``DataFrame`` /
``DataFrameWriter``.  Nothing in the program under test is edited.  Spans
stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
from collections import defaultdict


class Recorder:
    """In-memory spans ``(id, name, start_ns, end_ns, parent_id, owner)``
    plus named counters."""

    def __init__(self):
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.counts: dict[str, int] = defaultdict(int)
        self.owner = None

    def begin(self, name: str) -> int:
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append([sid, name, time.perf_counter_ns(), None, parent,
                           self.owner])
        self.stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid][3] = time.perf_counter_ns()
        # an exception may unwind several wrapped frames at once
        while self.stack and self.stack.pop() != sid:
            pass

    def is_open(self, name: str) -> bool:
        return any(self.spans[s][1] == name for s in self.stack)

    def wrap(self, name: str, fn, on_result=None):
        rec = self

        def wrapped(*a, **kw):
            sid = rec.begin(name)
            try:
                out = fn(*a, **kw)
            finally:
                rec.end(sid)
            if on_result is not None:
                on_result(out)
            return out
        return wrapped

    def self_ns(self) -> dict[str, int]:
        """Per span name: total duration minus the time covered by child
        spans (children never overlap in this single-threaded recorder)."""
        child = defaultdict(int)
        for _sid, _n, s, e, parent, _o in self.spans:
            if parent is not None and e is not None:
                child[parent] += e - s
        out: dict[str, int] = defaultdict(int)
        for sid, name, s, e, _p, _o in self.spans:
            if e is not None:
                out[name] += (e - s) - child[sid]
        return out

    def write(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            if extra:
                f.write(json.dumps({"run": extra}) + "\n")
            for sid, name, s, e, parent, owner in self.spans:
                f.write(json.dumps({"id": sid, "name": name, "start_ns": s,
                                    "end_ns": e, "parent": parent,
                                    "owner": owner}) + "\n")


@contextlib.contextmanager
def patched(targets):
    """Temporarily replace ``(obj, attr, new)`` attributes."""
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
    try:
        for obj, attr, new in targets:
            setattr(obj, attr, new)
        yield
    finally:
        for obj, attr, old in reversed(saved):
            setattr(obj, attr, old)


# core span names, in pipeline order (the per-layer ms metrics)
CORE_SPANS = {
    "charset.decode": "charset.decode_ms",
    "dom.parse": "dom.parse_ms",
    "metadata.extract": "metadata.extract_ms",
    "fulltext.thumbnail": "fulltext.thumbnail_ms",
    "fulltext.prep": "fulltext.prep_ms",
    "fulltext.ftr_body": "fulltext.ftr_body_ms",
    "readability.body": "readability.body_ms",
    "fulltext.post": "fulltext.post_ms",
    "dom.serialize": "dom.serialize_ms",
}


def core_targets(rec: Recorder):
    """Wrappers for each core layer's public functions, at the names
    ``FullTextParser.parse_offline`` resolves them through."""
    from article_extractor_spark.core import (dom, fulltext, metadata,
                                              readability, xpath)

    def ftr_result(found):
        rec.counts["ftr_hits"] += bool(found)

    orig_eval = xpath.Context.evaluate
    orig_dup = dom.Document.dup

    def counted_eval(self, expr, context_node=None):
        rec.counts["xpath_evals"] += 1
        return orig_eval(self, expr, context_node)

    def counted_dup(self):
        # readability re-parses from a copy once per pass (retry loop)
        if rec.is_open("readability.body"):
            rec.counts["readability_passes"] += 1
        return orig_dup(self)

    def readability_result(_found):
        rec.counts["readability_docs"] += 1

    return [
        (fulltext, "_dom_parse_html", rec.wrap("dom.parse", fulltext._dom_parse_html)),
        (metadata, "extract", rec.wrap("metadata.extract", metadata.extract)),
        (fulltext, "check_for_thumbnail",
         rec.wrap("fulltext.thumbnail", fulltext.check_for_thumbnail)),
        (fulltext, "prep_content", rec.wrap("fulltext.prep", fulltext.prep_content)),
        (fulltext, "extract_body",
         rec.wrap("fulltext.ftr_body", fulltext.extract_body, ftr_result)),
        (readability, "extract_body",
         rec.wrap("readability.body", readability.extract_body,
                  readability_result)),
        (fulltext, "prevent_self_closing_tags",
         rec.wrap("fulltext.post", fulltext.prevent_self_closing_tags)),
        (fulltext, "post_process_document",
         rec.wrap("fulltext.post", fulltext.post_process_document)),
        (fulltext, "serialize_node",
         rec.wrap("dom.serialize", fulltext.serialize_node)),
        (xpath.Context, "evaluate", counted_eval),
        (dom.Document, "dup", counted_dup),
    ]


# ---------------------------------------------------------------------------
# Spark: actions keyed by call site, and the status store
# ---------------------------------------------------------------------------

_ACTIONS = [("DataFrame", "count"), ("DataFrame", "collect"),
            ("DataFrame", "foreachPartition"), ("DataFrame", "localCheckpoint"),
            ("DataFrame", "toPandas"), ("DataFrameWriter", "parquet"),
            ("DataFrameWriter", "save")]


def _call_site() -> tuple[str, int]:
    """First frame outside pyspark and this module."""
    f = sys._getframe(2)
    while f is not None:
        fn = f.f_code.co_filename
        if (os.sep + "pyspark" + os.sep) not in fn and fn != __file__:
            return os.path.basename(fn), f.f_lineno
        f = f.f_back
    return "?", 0


# the job group names the action's jobs in the status store; the call site
# shows it in Spark's own logs (pyspark overrides it inside some actions)
_PROPS = ("spark.jobGroup.id", "callSite.short", "callSite.long")


class ActionTracer:
    """Wraps DataFrame actions: each call gets a unique job group
    (``<op> at <file>:<line> #<n>``), so its jobs can be found in the
    status store, and a span with its wall time."""

    def __init__(self, rec: Recorder):
        self.rec = rec
        self.actions: list[dict] = []

    def targets(self):
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        classes = {"DataFrame": DataFrame, "DataFrameWriter": DataFrameWriter}
        return [(classes[c], op, self._wrap(op, getattr(classes[c], op)))
                for c, op in _ACTIONS]

    def _wrap(self, op, fn):
        tracer = self

        def wrapped(obj, *a, **kw):
            from pyspark import SparkContext

            sc = SparkContext._active_spark_context
            file, line = _call_site()
            site = f"{op} at {file}:{line} #{len(tracer.actions)}"
            path = a[0] if a and isinstance(a[0], str) else kw.get("path")
            act = {"op": op, "file": file, "line": line, "site": site,
                   "path": path}
            tracer.actions.append(act)
            prev = [sc.getLocalProperty(k) for k in _PROPS] if sc else None
            if sc is not None:
                for k in _PROPS:
                    sc.setLocalProperty(k, site)
            sid = tracer.rec.begin("spark.action:" + op)
            tracer.rec.spans[sid][5] = site
            act["start"] = time.monotonic()
            try:
                return fn(obj, *a, **kw)
            finally:
                act["end"] = time.monotonic()
                tracer.rec.end(sid)
                if sc is not None:
                    for k, v in zip(_PROPS, prev):
                        sc.setLocalProperty(k, v)
        return wrapped


def _opt(o):
    return o.get() if o.isDefined() else None


def _ms(date_opt):
    d = _opt(date_opt)
    return d.getTime() if d is not None else None


def snapshot_status(sc, max_tasks: int = 400) -> dict:
    """Jobs, stages and tasks from the live status store (py4j)."""
    from py4j.protocol import Py4JJavaError

    store = sc._jsc.sc().statusStore()
    jobs, stages = [], {}
    jl = store.jobsList(None)
    for i in range(jl.size()):
        j = jl.apply(i)
        ids = j.stageIds()
        stage_ids = [ids.apply(k) for k in range(ids.size())]
        jobs.append({"id": j.jobId(), "name": j.name(),
                     "group": _opt(j.jobGroup()),
                     "stages": stage_ids, "submit_ms": _ms(j.submissionTime()),
                     "end_ms": _ms(j.completionTime()),
                     "status": str(j.status())})
        for sid in stage_ids:
            if sid in stages:
                continue
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the store
                continue
            st = {"id": sid, "attempt": s.attemptId(), "tasks": s.numTasks(),
                  "status": str(s.status()),
                  "run_ms": s.executorRunTime(), "gc_ms": s.jvmGcTime(),
                  "shuffle_write": s.shuffleWriteBytes(),
                  "submit_ms": _ms(s.submissionTime()),
                  "end_ms": _ms(s.completionTime()), "task_list": []}
            if st["status"] == "COMPLETE" and st["tasks"] > 0:
                tl = store.taskList(sid, s.attemptId(), max_tasks)
                for k in range(tl.size()):
                    t = tl.apply(k)
                    m = _opt(t.taskMetrics())
                    st["task_list"].append({
                        "launch_ms": t.launchTime().getTime(),
                        "dur_ms": _opt(t.duration()),
                        "run_ms": m.executorRunTime() if m is not None else None})
            stages[sid] = st
    jobs.sort(key=lambda j: j["id"])
    return {"jobs": jobs, "stages": stages}
