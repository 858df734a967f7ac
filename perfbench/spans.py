"""Span recorder for the traced run.

Spans are recorded only from the benchmark's side: :func:`install`
replaces the module-level public functions the benchmark cares about with
timing wrappers (the program's files are not edited).  Each span sets its
own Spark job group, so after an operation the status tracker attributes
every job, stage and task to the innermost span that submitted it.

A span's self time is its wall time minus the wall time of its child
spans; the operation's root span (``cli.<command>``) therefore holds the
residual the program spent outside every wrapped layer.
"""

from __future__ import annotations

import functools
import json
import os
import time
from dataclasses import dataclass, field
from itertools import count


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    child_s: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s


class Recorder:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op = 0
        self._ids = count(1)
        self._prefix = f"perfbench-{time.monotonic_ns()}"
        # set by the workload before an operation: directory paths whose
        # entries the merge will actually use (changed or new)
        self.useful_parents: set | None = None

    # -- spans ----------------------------------------------------------

    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{self._prefix}-{span.sid}", span.name)

    def begin(self, name: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        s = Span(next(self._ids), name, parent.sid if parent else None,
                 self.op, time.perf_counter())
        self.stack.append(s)
        self.spans.append(s)
        self._group(s)
        return s

    def end(self, s: Span) -> None:
        s.end = time.perf_counter()
        self.stack.pop()
        if self.stack:
            self.stack[-1].child_s += s.wall_s
        self._group(self.stack[-1] if self.stack else None)

    def wrap(self, name: str, fn, on_result=None):
        """A wrapper recording ``name`` around ``fn``; ``on_result(span,
        args, kwargs, result)`` may attach attributes."""
        rec = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            s = rec.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                rec.end(s)
            if on_result is not None:
                on_result(s, args, kwargs, out)
            return out

        return wrapper

    # -- Spark counts ----------------------------------------------------

    def finish_op(self, op: int) -> None:
        """Fill job/stage/task counts of operation ``op``'s spans, and the
        files/bytes under each output directory a span returned (call
        after the operation, outside any timed interval)."""
        st = self.sc.statusTracker()
        for s in self.spans:
            if s.op != op:
                continue
            out = s.attrs.get("out")
            if isinstance(out, str) and os.path.isdir(out):
                s.attrs["files"], s.attrs["bytes"] = dir_size(out)
            for jid in st.getJobIdsForGroup(f"{self._prefix}-{s.sid}"):
                info = st.getJobInfo(jid)
                s.jobs += 1
                if info is None:
                    continue
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue  # skipped: its shuffle output was reused
                    s.stages += 1
                    s.tasks += si.numCompletedTasks
                    s.failed_tasks += si.numFailedTasks

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "parent": s.parent, "op": s.op,
                    "name": s.name, "start": s.start, "end": s.end,
                    "wall_s": s.wall_s, "self_s": s.self_s,
                    "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks,
                    "failed_tasks": s.failed_tasks, "attrs": s.attrs,
                }, default=str) + "\n")


def dir_size(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = b = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            n += 1
            b += os.path.getsize(os.path.join(dp, fn))
    return n, b


def install(rec: Recorder) -> list:
    """Wrap the layers' public entry points; returns an undo list."""
    from importlib import import_module

    from pyspark.sql import SparkSession

    # import_module: package __init__s re-export functions under their
    # modules' names (``dudb_spark.operators.find`` is also a function)
    find_mod = import_module("dudb_spark.operators.find")
    inc_mod = import_module("dudb_spark.operators.incremental")
    ingest_mod = import_module("dudb_spark.operators.ingest")
    stats_mod = import_module("dudb_spark.operators.stats")
    reports_pkg = import_module("dudb_spark.reports")
    cat_mod = import_module("dudb_spark.sources.catalog")
    crawler_mod = import_module("dudb_spark.sources.crawler")

    undo = []

    def patch(owner, attr, name, on_result=None):
        fn = getattr(owner, attr)
        setattr(owner, attr, rec.wrap(name, fn, on_result))
        undo.append((owner, attr, fn))

    def crawl_done(s, a, k, out):
        s.attrs["entries_statted"] = len(out[1])
        useful = rec.useful_parents
        s.attrs["entries_useful"] = (
            len(out[1]) if useful is None
            else sum(1 for e in out[1] if e["parent"] in useful)
        )

    def merge_done(s, a, k, out):
        if out.summary:
            s.attrs["parent_unchanged"] = out.summary["parent_unchanged"]
            s.attrs["prefixes"] = out.summary["prefixes_started"]

    def keep_out(s, a, k, out):
        s.attrs["out"] = out  # output directory, sized after the op

    def refold_done(s, a, k, out):
        s.attrs["touched_dirs"] = int(a[0])
        s.attrs["refold"] = bool(out)

    patch(crawler_mod, "crawl_local", "sources.crawler.crawl_local",
          crawl_done)
    patch(SparkSession, "createDataFrame", "session.create_dataframe")
    patch(cat_mod.SnapshotCatalog, "write_snapshot",
          "sources.catalog.write_snapshot", keep_out)
    patch(cat_mod.SnapshotCatalog, "tables", "sources.catalog.tables")
    patch(cat_mod.SnapshotCatalog, "append_log",
          "sources.catalog.append_log")
    patch(ingest_mod, "merge_scan", "operators.ingest.merge_scan",
          merge_done)
    # compile_expr is imported by name into the operators that use it
    patch(find_mod, "compile_expr", "functions.boolexpr.compile_expr")
    patch(stats_mod, "compile_expr", "functions.boolexpr.compile_expr")
    patch(find_mod, "find", "operators.find.find")
    patch(stats_mod, "compute_stats", "operators.stats.compute_stats")
    patch(stats_mod.StatsResult, "save", "operators.stats.StatsResult.save")
    patch(inc_mod, "incremental_stats",
          "operators.incremental.incremental_stats")
    patch(inc_mod, "refold_recommended",
          "operators.incremental.refold_recommended", refold_done)
    patch(reports_pkg, "write_reports", "reports.sinks.write_reports",
          keep_out)
    return undo


def uninstall(undo: list) -> None:
    for owner, attr, fn in reversed(undo):
        setattr(owner, attr, fn)
