"""Spans, counters and gaps for the traced run, recorded from outside the
engine.

The benchmark times its own calls into each layer's public functions:
``Tracer.span`` around the calls it makes itself, and ``Timed`` wrappers
rebound over the module globals that the engine resolves at call time
(``catalog.load_table`` in every ``queries.*`` module, the
``operators.*`` functions the query modules import, and the
``pipeline.etl`` state/write helpers). Every span runs under its own
Spark job group, so after the run each span's jobs are read back from
``statusTracker`` and their times and task metrics from the local UI's
REST API. Spans stay in memory until ``Tracer.report`` writes them.

A per-layer number that cannot be collected is recorded as a named,
counted gap (``Tracer.gap``), never dropped.
"""

from __future__ import annotations

import ast
import contextlib
import datetime as dt
import functools
import importlib
import inspect
import json
import re
import sys
import time
import urllib.error
import urllib.request
from collections import Counter, defaultdict

ENGINE = "finance_etl_system_spark"

# SQL nodes that cross the JVM/Python boundary (Arrow or pickled rows)
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow|ArrowEval|ArrowWindow|ArrowAggregate")


class Span:
    __slots__ = ("sid", "name", "trace", "parent", "start", "end", "group")

    def __init__(self, sid, name, trace, parent, group):
        self.sid, self.name, self.trace, self.parent = sid, name, trace, parent
        self.group = group
        self.start = time.time()
        self.end = None

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    """In-memory spans (name, start, end, parent, trace id) and counts.

    Disabled, ``span`` and ``op`` cost one attribute test: the untraced
    run measures the end-to-end metrics without any of this."""

    def __init__(self, enabled: bool):
        self.spark = None  # set once the session exists
        self.enabled = enabled
        self.spans: list[Span] = []
        self.gaps: Counter = Counter()
        self.gap_reasons: dict[str, str] = {}
        self._stack: list[Span] = []
        self._trace = "setup"

    # -- recording ---------------------------------------------------
    def _set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    @contextlib.contextmanager
    def op(self, trace_id: str, name: str):
        """Root span of one timed op; its id is the trace id."""
        if not self.enabled:
            yield None
            return
        prev, self._trace = self._trace, trace_id
        try:
            with self.span(name) as s:
                yield s
        finally:
            self._trace = prev

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, name, self._trace, parent.sid if parent else None,
                 f"{self._trace}#{sid}")
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.group)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent.group if parent else "untraced")

    def gap(self, name: str, reason: str) -> None:
        self.gaps[name] += 1
        self.gap_reasons.setdefault(name, reason)

    # -- wrappers ----------------------------------------------------
    def wrap(self, module, attr: str, span_name: str) -> None:
        fn = getattr(module, attr)
        if isinstance(fn, Timed):
            return
        setattr(module, attr, Timed(fn, self, span_name))

    def instrument(self) -> None:
        """Rebind the layer entry points the engine resolves at call time."""
        catalog = importlib.import_module(f"{ENGINE}.catalog")
        qpkg = importlib.import_module(f"{ENGINE}.queries")
        qpkg.all_queries()  # imports every query module
        for mod_name in qpkg._MODULES:
            mod = sys.modules.get(f"{ENGINE}.queries.{mod_name}")
            if mod is None:
                continue
            if getattr(mod, "load_table", None) is catalog.load_table:
                self.wrap(mod, "load_table", "catalog.load_table")
            for op_mod, names in _operator_imports(mod):
                target = importlib.import_module(f"{ENGINE}.operators.{op_mod}")
                for n, local in names:
                    raw = _unwrapped(getattr(target, n, None))
                    if not inspect.isfunction(raw):
                        continue
                    # wrapped once in the operator module, rebound in every
                    # query module that imported the raw function
                    self.wrap(target, n, f"operators.{op_mod}.{n}")
                    if getattr(mod, local, None) is raw:
                        setattr(mod, local, getattr(target, n))
        etl = importlib.import_module(f"{ENGINE}.pipeline.etl")
        for n in ("read_watermarks", "write_processed_idempotent", "write_watermarks"):
            self.wrap(etl, n, f"etl.{n}")

    # -- read-back ---------------------------------------------------
    def collect_jobs(self) -> dict[int, dict]:
        """Job id -> {span, start, end, stages} for every traced span,
        with stage metrics; missing pieces are counted gaps."""
        sc = self.spark.sparkContext
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Exception as exc:  # noqa: BLE001 — py4j surfaces any JVM error
            self.gap("spark.listener_drain", repr(exc)[:200])
        tracker = sc.statusTracker()
        job_span: dict[int, int] = {}
        for s in self.spans:
            for j in tracker.getJobIdsForGroup(s.group):
                job_span[int(j)] = s.sid
        rest = _Rest(sc, self)
        jobs = rest.get("jobs") or []
        stages = rest.get("stages") or []
        stage_by_id: dict[int, dict] = {}
        for st in stages:
            if st.get("attemptId", 0) == 0 or st["stageId"] not in stage_by_id:
                stage_by_id[st["stageId"]] = st
        out: dict[int, dict] = {}
        for j in jobs:
            jid = j["jobId"]
            if jid not in job_span:
                continue
            rec = {
                "span": job_span[jid],
                "start": _ts(j.get("submissionTime")),
                "end": _ts(j.get("completionTime")),
                "stages": [stage_by_id[i] for i in j.get("stageIds", []) if i in stage_by_id],
            }
            if rec["start"] is None or rec["end"] is None:
                self.gap("rest.job_times", "job without submission/completion time")
            out[jid] = rec
        missing = set(job_span) - set(out)
        if missing and jobs:
            self.gap("rest.jobs_evicted", f"{len(missing)} jobs no longer retained by the UI")
        for rec in out.values():
            for st in rec["stages"]:
                if st.get("status") == "COMPLETE" and st.get("numCompleteTasks", 0) >= 2:
                    q = rest.get(f"stages/{st['stageId']}/{st.get('attemptId', 0)}"
                                 "/taskSummary?quantiles=0.5,1.0")
                    run = (q or {}).get("executorRunTime")
                    st["_task_p50_max"] = run if run and len(run) == 2 else None
        return out

    def report(self, path: str, extra: dict) -> None:
        data = {
            "spans": [s.as_dict() for s in self.spans],
            "gaps": dict(self.gaps),
            "gap_reasons": self.gap_reasons,
            **extra,
        }
        with open(path, "w") as fh:
            json.dump(data, fh, indent=1, sort_keys=True, default=str)


class Timed:
    """A traced stand-in for a module-level function.

    Pickles as the original function (by module and name), so a UDF
    closure that captured it ships the engine's own function to the
    Python workers."""

    def __init__(self, fn, tracer: Tracer, span_name: str):
        functools.update_wrapper(self, fn)
        self._fn, self._tracer, self._span = fn, tracer, span_name

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._span):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


def _unwrapped(fn):
    return fn._fn if isinstance(fn, Timed) else fn


def _operator_imports(mod) -> list[tuple[str, list[tuple[str, str]]]]:
    """``from ..operators.X import a, b as c`` statements anywhere in
    ``mod``, as ``(X, [(a, a), (b, c)])``."""
    tree = ast.parse(inspect.getsource(mod))
    out = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.ImportFrom) and node.level == 2
                and (node.module or "").startswith("operators.")):
            out.append((node.module.split(".", 1)[1],
                        [(a.name, a.asname or a.name) for a in node.names]))
    return out


class _Rest:
    """The local Spark UI's REST API (``/api/v1``); unreachable -> gap."""

    def __init__(self, sc, tracer: Tracer):
        self.tracer = tracer
        url = sc.uiWebUrl
        port = url.rsplit(":", 1)[-1] if url else None
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
                     if port else None)
        if self.base is None:
            tracer.gap("rest.unavailable", "Spark UI disabled (no uiWebUrl)")

    def get(self, path: str):
        if self.base is None:
            return None
        try:
            with urllib.request.urlopen(f"{self.base}/{path}", timeout=10) as r:
                return json.load(r)
        except (urllib.error.URLError, OSError, ValueError) as exc:
            self.tracer.gap("rest.request_failed", f"{path}: {exc!r}"[:200])
            return None


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def plan_counters(tracer: Tracer, df, acc: dict) -> None:
    """Add the broadcast/peak-memory and Python-boundary counters of
    ``df``'s last execution (``plans.metrics``) into ``acc``; a missing
    counter is a gap."""
    from finance_etl_system_spark.plans.metrics import _walk, executed_metrics

    try:
        m = executed_metrics(df)
        nodes = list(_walk(df._jdf.queryExecution().executedPlan()))
    except Exception as exc:  # noqa: BLE001 — py4j surfaces any JVM error
        tracer.gap("plans.executed_metrics", repr(exc)[:200])
        return
    acc["spark.broadcast_bytes"] = acc.get("spark.broadcast_bytes", 0) + m["broadcast_bytes"]
    acc["spark.peak_memory_bytes"] = max(acc.get("spark.peak_memory_bytes", 0),
                                         m["peak_memory"])
    for name, metrics in nodes:
        if not _PYTHON_NODE.search(name):
            continue
        for key, metric in (("pythonDataSent", "python.bytes_sent"),
                            ("pythonDataReceived", "python.bytes_received"),
                            ("pythonNumRowsReceived", "python.rows_received")):
            if key in metrics:
                acc[metric] = acc.get(metric, 0) + int(metrics[key])
            else:
                tracer.gap(f"sqlmetrics.{name}.{key}", "Python node without this counter")


# -- per-layer aggregation --------------------------------------------


def _union_covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered


def layer_metrics(tracer: Tracer, jobs: dict[int, dict], root_ids: set[int]) -> dict:
    """Fold spans and jobs into the per-layer metrics. Only spans under the
    timed ops (``root_ids``) count."""
    spans = tracer.spans
    children: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s.sid)

    def subtree(sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(children[x])
        return out

    timed: set[int] = set()
    for r in root_ids:
        timed.update(subtree(r))
    jobs_of: dict[int, list[dict]] = defaultdict(list)
    for j in jobs.values():
        jobs_of[j["span"]].append(j)

    def dur(s: Span) -> float:
        return s.end - s.start

    def self_time(s: Span) -> float:
        kids = [(spans[c].start, spans[c].end) for c in children[s.sid]]
        return dur(s) - _union_covered(kids, s.start, s.end)

    def sub_jobs(sid: int) -> list[dict]:
        return [j for x in subtree(sid) for j in jobs_of[x]]

    def job_time(js: list[dict], s: Span) -> float:
        iv = [(j["start"], j["end"]) for j in js if j["start"] and j["end"]]
        return _union_covered(iv, s.start, s.end)

    m: Counter = Counter()
    for sid in timed:
        s = spans[sid]
        name = s.name
        if name == "catalog.load_table":
            m["catalog.load_table_calls"] += 1
            m["catalog.load_table_s"] += dur(s)
            m["catalog.load_table_jobs"] += len(sub_jobs(sid))
        elif name == "queries.build":
            js = sub_jobs(sid)
            m["queries.build_s"] += dur(s)
            m["queries.build_jobs"] += len(js)
            m["queries.build_jobs_s"] += job_time(js, s)
            m["queries.build_driver_s"] += dur(s) - job_time(js, s)
        elif name == "queries.action":
            m["queries.action_s"] += dur(s)
            m["queries.action_jobs"] += len(sub_jobs(sid))
        elif name.startswith("operators."):
            m["operators.calls"] += 1
            m["operators.self_s"] += self_time(s)
            m["operators.jobs"] += len(jobs_of[sid])
        elif name == "etl.incremental_etl":
            m["etl.self_s"] += self_time(s)
            m["etl.jobs"] += len(sub_jobs(sid))
        elif name.startswith("etl."):
            m[f"{name.replace('_idempotent', '')}_s"] += dur(s)
        elif name in ("ml.train_ols", "ml.train_gbt", "ml.registry_write", "ml.serve_score"):
            m[f"{name}_s"] += dur(s)
        elif name == "lookup.open":
            m["lookup.open_s"] += dur(s)
        elif name == "lookup":
            m["lookup.jobs"] += len(sub_jobs(sid))

    skew = 0.0
    for sid in timed:
        for j in jobs_of[sid]:
            m["spark.jobs"] += 1
            for st in j["stages"]:
                if st.get("status") == "SKIPPED":
                    continue
                m["spark.stages"] += 1
                m["spark.tasks"] += st.get("numTasks", 0)
                m["spark.executor_run_s"] += st.get("executorRunTime", 0) / 1e3
                m["spark.executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                m["spark.input_bytes"] += st.get("inputBytes", 0)
                m["spark.shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                m["spark.shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
                m["spark.spill_bytes"] += (st.get("memoryBytesSpilled", 0)
                                           + st.get("diskBytesSpilled", 0))
                if "jvmGcTime" in st:
                    m["spark.gc_s"] += st["jvmGcTime"] / 1e3
                else:
                    tracer.gap("rest.stage_jvmGcTime", "stage data without jvmGcTime")
                q = st.get("_task_p50_max")
                if q and q[0] > 0:
                    skew = max(skew, q[1] / q[0])
    m["spark.task_max_over_p50"] = skew
    return m
