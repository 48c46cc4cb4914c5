"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files: the public functions
of each layer are wrapped for the duration of the traced run, and every
span carries its name, start, end, parent span and the id of the
operation it belongs to. Spans stay in memory and are written out when
the run ends.

Spark-side numbers come from the same execution that was timed:

- each operation runs under its own job groups (``<op>:build`` and
  ``<op>:exec``); job, stage and task figures come from the status
  tracker and the status store;
- a ``QueryExecutionListener`` hands over every ``QueryExecution`` the
  operation ran (the noop save included), and operator metrics are read
  from its final adaptive plan, Catalyst phase times from its tracker.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import sys
import threading
import time

PKG = "clickhouse_clickhouse_spark"

# (module, functions to wrap or None for every public function, span
# name). A name bound elsewhere by ``from module import f`` is rebound
# too, so wrapping reaches call sites that imported the function.
WRAPPED = (
    ("tables", ("load_table",), "tables.load_table"),
    ("operators.grank", ("global_row_number", "global_prefix_sums",
                         "global_ntile", "global_range_count"),
     "operators.grank"),
    ("operators.joins", ("asof_join", "any_join", "paste_join"),
     "operators.join"),
    ("pipeline.dedup", None, "pipeline"),
    ("pipeline.similarity", None, "pipeline"),
    ("pipeline.components", None, "pipeline"),
    ("ch_sql", ("translate",), "ch_sql.translate"),
    ("ch_sql", ("ch_insert",), "sources.parse"),
    ("sources.render", ("parse_lines",), "sources.parse"),
    ("sources.write", ("insert_partitioned",), "sources.write"),
    ("sources.write", ("optimize_compact",), "sources.merge"),
)

JOIN_NODES = ("SortMergeJoinExec", "BroadcastHashJoinExec",
              "ShuffledHashJoinExec", "BroadcastNestedLoopJoinExec",
              "CartesianProductExec")
PYTHON_NODES = ("ArrowEvalPythonExec", "BatchEvalPythonExec",
                "MapInArrowExec", "MapInPandasExec", "PythonMapInArrowExec",
                "FlatMapGroupsInPandasExec", "FlatMapGroupsInArrowExec",
                "FlatMapCoGroupsInPandasExec", "FlatMapCoGroupsInArrowExec",
                "AggregateInPandasExec", "ArrowAggregatePythonExec",
                "WindowInPandasExec", "ArrowWindowPythonExec")
SCAN_NODES = ("FileSourceScanExec",)


class Span:
    __slots__ = ("sid", "parent", "op", "name", "t0", "t1")

    def __init__(self, sid, parent, op, name, t0):
        self.sid, self.parent, self.op, self.name = sid, parent, op, name
        self.t0, self.t1 = t0, None

    def as_dict(self) -> dict:
        return {"id": self.sid, "parent": self.parent, "op": self.op,
                "name": self.name, "start": self.t0, "end": self.t1}


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part covered by its children."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s.t0
        for c in sorted(kids.get(s.sid, ()), key=lambda c: c.t0):
            lo, hi = max(c.t0, end), min(c.t1, s.t1)
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s.sid] = (s.t1 - s.t0) - covered
    return out


class _QEListener:
    """Receives every QueryExecution the session completes."""

    def __init__(self):
        self.got = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        self.got.append((func_name, qe))

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.got.append((func_name, qe))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Spans, counters and Spark metrics for the operations of a run."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counts: dict[str, int] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op = None
        self._patched: list[tuple[object, str, object]] = []
        self._listener = None

    # ---------------------------------------------------------- spans
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        st = self._stack()
        s = Span(next(self._ids), st[-1].sid if st else None, self._op,
                 name, time.perf_counter())
        st.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            st.pop()
            self.spans.append(s)

    def count(self, name: str, n: int = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def _wrapper(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)
        return wrapper

    def install(self) -> None:
        """Wrap the layer functions and start listening for executions."""
        mods = {}
        for rel, names, span in WRAPPED:
            mod = importlib.import_module(f"{PKG}.{rel}")
            mods[rel] = mod
            if names is None:
                names = tuple(n for n, f in vars(mod).items()
                              if inspect.isfunction(f)
                              and f.__module__ == mod.__name__
                              and not n.startswith("_"))
            for n in names:
                self._rebind(getattr(mod, n),
                             self._wrapper(getattr(mod, n), span))
        self._rebind(mods["ch_sql"]._translate_impl,
                     self._counting(mods["ch_sql"]._translate_impl,
                                    "ch_sql.translate_miss"))
        tables = mods["tables"]
        self._rebind(tables.load_table,
                     self._cache_probe(tables.load_table, tables))
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        self._listener = _QEListener()
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def _counting(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tracer.count(name)
            return fn(*args, **kwargs)
        return wrapper

    def _cache_probe(self, fn, tables):
        tracer = self

        @functools.wraps(fn)
        def wrapper(spark, sf_dir, name):
            hit = (id(spark), sf_dir, name) in tables._RELATION_CACHE
            tracer.count("tables.cache_hits" if hit else "tables.cache_misses")
            return fn(spark, sf_dir, name)
        return wrapper

    def _rebind(self, orig, new) -> None:
        for mname, mod in list(sys.modules.items()):
            if mod is None or mname.split(".")[0] != PKG:
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._patched.append((mod, attr, orig))
                    setattr(mod, attr, new)

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()
        if self._listener is not None:
            self.spark._jsparkSession.listenerManager().unregister(
                self._listener)
            self._listener = None

    # ----------------------------------------------------- operations
    @contextlib.contextmanager
    def operation(self, op_id: str):
        self._op = op_id
        self._phase_wall: dict[str, float] = {}
        self._listener.got.clear()
        try:
            with self.span("op"):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def phase(self, phase: str, span: str | None = None):
        """Run under job group ``<op>:<phase>``, optionally in a span."""
        self.sc.setJobGroup(f"{self._op}:{phase}", phase)
        t0 = time.perf_counter()
        try:
            if span:
                with self.span(span):
                    yield
            else:
                yield
        finally:
            self._phase_wall[phase] = (self._phase_wall.get(phase, 0.0)
                                       + time.perf_counter() - t0)

    def collect(self, df=None) -> dict:
        """Metrics of the operation that just ended (call outside the
        timed region). ``df`` adds its own analysis phase, which ran
        when the query function built it."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        op = self._op
        m = {k: 0.0 for k in OP_FIELDS}
        spans = [s for s in self.spans if s.op == op]
        selfs = self_times(spans)
        layer_of = {"queries.build": "queries.build_s",
                    "operators.grank": "operators.grank_s",
                    "operators.join": "operators.join_s",
                    "tables.load_table": "tables.load_table_s",
                    "ch_sql.statement": "ch_sql.statement_self_s",
                    "ch_sql.translate": "ch_sql.translate_s",
                    "sources.parse": "sources.parse_s",
                    "sources.write": "sources.write_s",
                    "sources.merge": "sources.merge_s"}
        pipeline_op = False
        for s in spans:
            key = layer_of.get(s.name)
            if key:
                m[key] += selfs[s.sid]
            if s.name == "ch_sql.translate":
                m["ch_sql.translate_calls"] += 1
            pipeline_op |= s.name == "pipeline"
        for phase in ("build", "exec"):
            jm = job_metrics(self.sc, f"{op}:{phase}")
            if phase == "build":
                m["queries.build_jobs"] = jm["jobs"]
            for k, v in jm.items():
                m["exec." + k] += v
            if phase == "exec":
                m["exec.exec_run_s"] = jm["executor_run_s"]
        m["exec.exec_wall_s"] = self._phase_wall.get("exec", 0.0)
        qes = list(self._listener.got)
        self._listener.got.clear()
        for i, (_name, qe) in enumerate(qes):
            plan_metrics(qe, m, pipeline_op, last=i == len(qes) - 1)
        if df is not None:
            m["catalyst.analysis_ms"] += phase_ms(
                df._jdf.queryExecution(), "analysis")
        if not m["pipeline.candidate_pairs"]:
            m["pipeline.output_rows"] = 0
        return m

    def dump(self) -> list[dict]:
        return [s.as_dict() for s in self.spans]


# Per-operation fields collected by Tracer.collect.
OP_FIELDS = (
    "queries.build_s", "queries.build_jobs",
    "operators.grank_s", "operators.join_s",
    "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_run_s",
    "exec.executor_cpu_s", "exec.scheduler_delay_s", "exec.gc_s",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.exec_run_s", "exec.exec_wall_s",
    "tables.load_table_s", "tables.scan_files", "tables.scan_rows",
    "tables.scan_bytes", "tables.scan_time_ms",
    "functions.python_rows", "functions.python_bytes_sent",
    "functions.python_bytes_received", "functions.python_eval_ms",
    "pipeline.candidate_pairs", "pipeline.output_rows",
    "ch_sql.statement_self_s", "ch_sql.translate_s",
    "ch_sql.translate_calls",
    "sources.parse_s", "sources.write_s", "sources.merge_s",
)


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def job_metrics(sc, group: str) -> dict:
    """Jobs, completed stages and their task totals for one job group."""
    out = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
           "executor_cpu_s": 0.0, "scheduler_delay_s": 0.0, "gc_s": 0.0,
           "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0}
    ids = list(sc.statusTracker().getJobIdsForGroup(group))
    out["jobs"] = len(ids)
    store = sc._jsc.sc().statusStore()
    seen = set()
    for jid in ids:
        for sid in _seq(store.job(jid).stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue   # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += (sd.memoryBytesSpilled()
                                   + sd.diskBytesSpilled())
            for t in _seq(store.taskList(sid, sd.attemptId(), 1 << 30)):
                dur, tm = _opt(t.duration()), _opt(t.taskMetrics())
                if dur is None or tm is None:
                    continue
                busy = (tm.executorDeserializeTime() + tm.executorRunTime()
                        + tm.resultSerializationTime()
                        + t.gettingResultTime())
                out["scheduler_delay_s"] += max(0, dur - busy) / 1e3
    return out


def phase_ms(qe, phase: str) -> float:
    ps = _opt(qe.tracker().phases().get(phase))
    return float(ps.durationMs()) if ps is not None else 0.0


def _metric(node, name: str):
    v = _opt(node.metrics().get(name))
    return v.value() if v is not None else 0


def _children(node, cls: str):
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls.startswith("Reused") or cls == "InMemoryTableScanExec":
        return []   # metrics belong to the original subtree
    return _seq(node.children()) + _seq(node.subqueries())


def plan_metrics(qe, m: dict, pipeline_op: bool, last: bool) -> None:
    """Add one execution's Catalyst phases and final-plan operator
    metrics to ``m``."""
    for ph in ("optimization", "planning"):
        m[f"catalyst.{ph}_ms"] += phase_ms(qe, ph)
    m["catalyst.analysis_ms"] += phase_ms(qe, "analysis")
    root_rows = None
    stack = [qe.executedPlan()]
    chain = True   # still on the single-child chain below the root
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls in SCAN_NODES:
            m["tables.scan_files"] += _metric(node, "numFiles")
            m["tables.scan_rows"] += _metric(node, "numOutputRows")
            m["tables.scan_bytes"] += _metric(node, "filesSize")
            m["tables.scan_time_ms"] += _metric(node, "scanTime")
        elif cls in PYTHON_NODES:
            m["functions.python_rows"] += _metric(node,
                                                  "pythonNumRowsReceived")
            m["functions.python_bytes_sent"] += _metric(node,
                                                        "pythonDataSent")
            m["functions.python_bytes_received"] += _metric(
                node, "pythonDataReceived")
            m["functions.python_eval_ms"] += _metric(node, "pythonTotalTime")
        elif pipeline_op and (cls in JOIN_NODES or (
                cls == "GenerateExec"
                and {"id_a", "id_b"} <= set(
                    str(node.generator().toString()).replace("`", " ")
                    .replace(",", " ").replace(")", " ").split()))):
            m["pipeline.candidate_pairs"] += _metric(node, "numOutputRows")
        kids = _children(node, cls)
        if last and chain and root_rows is None \
                and _opt(node.metrics().get("numOutputRows")) is not None:
            root_rows = _metric(node, "numOutputRows")
        if len(kids) != 1:
            chain = False
        stack.extend(kids)
    if last and pipeline_op and root_rows is not None:
        m["pipeline.output_rows"] += root_rows
