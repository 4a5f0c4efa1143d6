"""Traced-run instrumentation, kept entirely in the benchmark.

A traced run patches the engine's public functions at the names their
callers resolve, so each call records a span (name, start, end, parent)
under the operation that caused it.  Spans live in memory and are
written out when the run ends.  Untraced runs install nothing.

Only calls made while an operation is open on the calling thread are
recorded; anywhere else a patched function calls straight through.
Each traced operation also gets its own Spark job group, from which
the job, stage and task counts are read back through ``statusTracker``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from measure import self_time

def _expand_attrs(args: dict, out) -> dict:
    return {"keys": len(out[1])}


def _wand_attrs(args: dict, out) -> dict:
    """Whether the θ seed term (the one with the highest upper bound)
    has fewer than k postings: then it has no k-th score, θ stays 0 and
    the kernel can skip no block."""
    from searchlite_spark.query.wand import term_upper_bound

    meta, n_docs = args["key_meta"], args["n_docs"]
    seed = max(meta, key=lambda t: term_upper_bound(
        meta[t]["weight"], meta[t]["df"], meta[t]["max_tf"], n_docs))
    return {"calls": 1, "seed_below_k": int(meta[seed]["df"] < args["k"])}


# (module, attribute, span name[, attrs from the call's arguments and
# result]).  engine and batch import build_query_plan / expand_groups at
# module top, so they are patched where those modules look them up;
# validate_request, wand_topk, postprocess and aggs are imported inside
# the calling function, so they are patched on their own modules.
PATCHES = [
    ("searchlite_spark.query.engine", "build_query_plan", "query.planner"),
    ("searchlite_spark.query.engine", "expand_phrases", "query.planner"),
    ("searchlite_spark.query.engine", "expand_groups", "query.expand", _expand_attrs),
    ("searchlite_spark.query.batch", "build_query_plan", "query.planner"),
    ("searchlite_spark.query.batch", "expand_groups", "query.expand", _expand_attrs),
    ("searchlite_spark.query.validate", "validate_request", "query.validate"),
    ("searchlite_spark.query.wand", "wand_topk", "query.wand", _wand_attrs),
    ("searchlite_spark.query.postprocess", "highlight_fragments", "query.postprocess"),
    ("searchlite_spark.query.postprocess", "make_snippet", "query.postprocess"),
    ("searchlite_spark.query.postprocess", "collapse_hits", "query.postprocess"),
    ("searchlite_spark.query.postprocess", "rescore_hits", "query.postprocess"),
    ("searchlite_spark.query.aggs", "run_aggregations", "query.aggs"),
    ("searchlite_spark.query.aggs", "validate_aggregations", "query.aggs"),
    ("searchlite_spark.query.engine:Searcher", "search", "query.engine"),
    ("searchlite_spark.query.engine:Searcher", "topk", "query.engine"),
]
# On pyspark 4.x the DataFrame users hold is the classic class;
# patching pyspark.sql.DataFrame would catch nothing.
_ACTIONS = ("collect", "count", "toPandas", "toArrow", "take", "first", "head",
            "tail", "isEmpty", "foreach", "foreachPartition")
_WRITES = ("parquet", "save", "json", "csv", "orc", "saveAsTable", "insertInto")
PATCHES += [("pyspark.sql.classic.dataframe:DataFrame", a, "spark.action")
            for a in _ACTIONS]
PATCHES += [("pyspark.sql.readwriter:DataFrameWriter", a, "spark.action")
            for a in _WRITES]


class Span:
    __slots__ = ("op", "id", "parent", "name", "start", "end", "attrs")

    def __init__(self, op, sid, parent, name, start):
        self.op, self.id, self.parent, self.name = op, sid, parent, name
        self.start, self.end, self.attrs = start, None, {}

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # -- recording -------------------------------------------------------

    @contextmanager
    def op(self, name: str):
        """Open one operation on this thread: its root span, and its
        job group when a SparkContext was given."""
        sid = next(self._ids)
        root = Span(sid, sid, None, name, time.perf_counter())
        if self.sc is not None:
            root.attrs["group"] = f"e2e-bench-op-{sid}"
            self.sc.setJobGroup(root.attrs["group"], name)
        self._local.stack = [root]
        try:
            yield root
        finally:
            root.end = time.perf_counter()
            self._local.stack = None
            self.spans.append(root)
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            yield None
            return
        s = Span(stack[0].op, next(self._ids), stack[-1].id, name, time.perf_counter())
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.spans.append(s)

    def wrap(self, fn, name: str, attrs=None):
        """``fn`` recording a ``name`` span per call; ``attrs(arguments,
        result)`` gives the span's attrs, arguments bound by name."""
        sig = inspect.signature(fn) if attrs is not None else None

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if getattr(self._local, "stack", None) is None:
                return fn(*args, **kwargs)
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if attrs is not None:
                    bound = sig.bind(*args, **kwargs)
                    bound.apply_defaults()
                    s.attrs.update(attrs(bound.arguments, out))
                return out

        return traced

    # -- patching --------------------------------------------------------

    def install(self) -> None:
        for entry in PATCHES:
            where, attr, name = entry[:3]
            self._patch(_resolve(where), attr,
                        self.wrap(getattr(_resolve(where), attr), name, *entry[3:]))

    def patch_op(self, owner, attr: str, name: str) -> list[float]:
        """Make each call of ``owner.attr`` an operation; every second
        call is traced, the others are only timed (their durations go
        into the returned list) so the run can report what tracing
        costs."""
        fn = getattr(owner, attr)
        untraced: list[float] = []
        calls = itertools.count()

        @functools.wraps(fn)
        def op(*args, **kwargs):
            if next(calls) % 2:
                with self.op(name):
                    return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                untraced.append(time.perf_counter() - t0)

        self._patch(owner, attr, op)
        return untraced

    def _patch(self, owner, attr, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    # -- results ---------------------------------------------------------

    def unattributed_share(self) -> float:
        """Share of all operations' wall time that no child span covers
        (the roots' own self time)."""
        ops = self.per_op()
        wall = sum(op["wall"] for op in ops)
        return sum(op["self"][op["name"]] for op in ops) / wall if wall else 0.0

    def read_job_counts(self) -> None:
        """Attach job/stage/task counts to every operation's root span.
        Read once at the end, so the reads cost no operation time."""
        for s in self.spans:
            if "group" in s.attrs:
                s.attrs.update(job_counts(self.sc, s.attrs["group"]))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")

    def per_op(self) -> list[dict]:
        """For each traced operation: its wall time, the self time and
        the inclusive time per span name (the root's self time is what no
        child span covers), span attrs summed per name, and the root's
        attrs."""
        by_op: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            by_op[s.op].append(s)
        out = []
        for op_id, spans in by_op.items():
            kids: dict[int, list[Span]] = defaultdict(list)
            for s in spans:
                kids[s.parent].append(s)
            root = next(s for s in spans if s.id == op_id)
            selfs: dict[str, float] = defaultdict(float)
            incl: dict[str, float] = defaultdict(float)
            attrs: dict[str, float] = defaultdict(float)
            for s in spans:
                selfs[s.name] += self_time(
                    s.start, s.end, [(c.start, c.end) for c in kids[s.id]]
                )
                incl[s.name] += s.end - s.start
                if s is not root:
                    for k, v in s.attrs.items():
                        attrs[f"{s.name}.{k}"] += v
            out.append({
                "name": root.name,
                "wall": root.end - root.start,
                "self": dict(selfs),
                "incl": dict(incl),
                "attrs": dict(attrs),
                "root": dict(root.attrs),
            })
        return out


def _resolve(where: str):
    mod, _, cls = where.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


def job_counts(sc, group: str) -> dict:
    """Jobs, stages that ran, tasks completed and tasks failed for one
    job group, read from ``statusTracker``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info is not None else ():
            si = st.getStageInfo(sid)
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue  # skipped: its shuffle output was reused
            stages += 1
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}
