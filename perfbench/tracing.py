"""Layer tracing from outside the program, for the traced benchmark run.

``Tracer.install()`` wraps the public functions of each engine module at
every name a caller resolves: the module attribute itself (reached by
``from .x import f`` inside a function body, or by ``mod.f``) and every
``from .x import f`` binding another module made at import time (as
``etl.py`` does for ``merge_by_key``). ``ETLPipeline``'s public methods
are wrapped on the class. Each call records a span; spans nest by call
stack, and every Spark job a span's code submits carries that span's id
as its job group, so the status store attributes each job (and its
stages) to the innermost span. ``listen(spark)`` adds a
``QueryExecutionListener`` that records the Catalyst phases of every SQL
execution from that execution's own ``QueryExecution``.
``uninstall()`` restores every binding and removes the listener.

Nothing is wrapped unless ``install()`` runs: the untraced run times the
program as shipped.
"""

from __future__ import annotations

import ast
import contextlib
import functools
import inspect
import sys
import time
from dataclasses import dataclass, field

PKG = "data_etl_spark"

#: engine modules whose public functions are wrapped; the layer name is
#: the module path under the package
LAYER_MODULES = (
    "session",
    "cache",
    "sources.tables",
    "sources.files",
    "functions.text",
    "functions.vectors",
    "operators.components",
    "operators.planner",
    "operators.dedup",
    "operators.pairs",
    "operators.rank",
    "operators.knn",
    "operators.ivf",
    "operators.kmeans",
    "operators.merge",
    "operators.chunking",
    "operators.convert",
)

#: column-expression builders: called thousands of times per plan and
#: never submit a job, so their spans skip the job-group switch
NO_JOB_LAYERS = ("functions.text", "functions.vectors")

ETL_METHODS = (
    "ingest",
    "process_folder",
    "delete_documents",
    "compact",
    "search",
    "hybrid_search",
    "ann_search",
    "build_ann_index",
    "index_table",
    "_read_buckets",
    "_swap_buckets",
    "_rewrite",
)

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    args: dict = field(default_factory=dict)


class Tracer:
    """Spans in memory; job attribution read back from the status store."""

    def __init__(self, prefix: str = "pb"):
        self.prefix = prefix
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        self.hooks: dict[str, object] = {}
        #: one entry per finished SQL execution, in completion order
        self.queries: list[dict] = []
        self._listener = None
        self._spark = None

    # -- spans -----------------------------------------------------------

    def group_id(self, sid: int | None) -> str | None:
        return None if sid is None else f"{self.prefix}-{sid}"

    def _set_group(self, sid: int | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setLocalProperty(GROUP_KEY, self.group_id(sid))

    def open(self, layer: str, name: str, jobs: bool = True) -> Span:
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), layer, name, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp.sid)
        if jobs:
            self._set_group(sp.sid)
        return sp

    def close(self, sp: Span, jobs: bool = True) -> None:
        sp.end = time.perf_counter()
        self._stack.pop()
        if jobs:
            self._set_group(self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        sp = self.open(layer, name)
        try:
            yield sp
        finally:
            self.close(sp)

    # -- wrappers --------------------------------------------------------

    def _wrap(self, fn, layer: str):
        jobs = layer not in NO_JOB_LAYERS
        name = fn.__name__
        tracer = self
        hook = self.hooks.get(f"{layer}.{name}")

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            sp = tracer.open(layer, name, jobs=jobs)
            try:
                out = fn(*a, **kw)
            finally:
                tracer.close(sp, jobs=jobs)
            if hook is not None:
                out = hook(sp, a, kw, out)
            return out

        wrapper.__perfbench_original__ = fn
        return wrapper

    def install(self) -> None:
        import importlib

        importlib.import_module(PKG + ".plans")
        importlib.import_module(PKG + ".etl")
        originals: dict[int, object] = {}
        for short in LAYER_MODULES:
            mod = importlib.import_module(f"{PKG}.{short}")
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                ):
                    continue
                originals[id(fn)] = self._wrap(fn, short)
        # rebind every module-level name that holds an original, in every
        # loaded engine module (the defining module included)
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PKG or mname.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                w = originals.get(id(val))
                if w is not None and inspect.isfunction(val):
                    self._restore.append((mod, attr, val))
                    setattr(mod, attr, w)
        from data_etl_spark.etl import ETLPipeline

        for meth in ETL_METHODS:
            orig = ETLPipeline.__dict__[meth]
            self._restore.append((ETLPipeline, meth, orig))
            setattr(ETLPipeline, meth, self._wrap(orig, "etl"))

    def uninstall(self) -> None:
        while self._restore:
            obj, attr, val = self._restore.pop()
            setattr(obj, attr, val)
        if self._listener is not None:
            self.drain()
            self._spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None

    # -- SQL executions --------------------------------------------------

    def listen(self, spark) -> None:
        """Record each SQL execution's Catalyst time (analysis,
        optimization and planning phases of its ``QueryExecution``) in
        ``queries``. Events arrive on Spark's listener bus; ``drain()``
        waits for them."""
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._spark = spark
        # py4j makes a new JVM proxy each time a Python object is passed;
        # keep one, so unregister() finds the proxy register() added
        box = spark.sparkContext._jvm.java.util.ArrayList()
        box.add(_QueryListener(self.queries))
        self._listener = box.get(0)
        spark._jsparkSession.listenerManager().register(self._listener)

    def drain(self) -> None:
        """Wait until every event posted so far reached the listener."""
        if self._spark is not None:
            self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    @staticmethod
    def installed() -> bool:
        """True when any engine function is currently wrapped."""
        from data_etl_spark.etl import ETLPipeline

        if any(
            hasattr(getattr(ETLPipeline, m), "__perfbench_original__")
            for m in ETL_METHODS
        ):
            return True
        for mname, mod in list(sys.modules.items()):
            if mod is None or not mname.startswith(PKG):
                continue
            if any(hasattr(v, "__perfbench_original__") for v in vars(mod).values()):
                return True
        return False

    # -- attribution -----------------------------------------------------

    def ancestors(self, sid: int | None):
        while sid is not None:
            sp = self.spans[sid]
            yield sp
            sid = sp.parent

    def span_of_group(self, group: str | None) -> int | None:
        if not group or not group.startswith(self.prefix + "-"):
            return None
        return int(group[len(self.prefix) + 1 :])

    def layer_totals(self, jobs: list[dict], spans: range | None = None) -> dict[str, dict]:
        """Per layer: calls, inclusive call time (outermost calls only),
        and the jobs submitted anywhere under its calls. ``spans`` limits
        the call totals to a range of span ids."""
        out: dict[str, dict] = {}

        def slot(layer: str) -> dict:
            return out.setdefault(layer, {"calls": 0, "call_s": 0.0, "jobs": 0, "job_s": 0.0})

        for sp in self.spans if spans is None else (self.spans[i] for i in spans):
            s = slot(sp.layer)
            s["calls"] += 1
            if not any(a.layer == sp.layer for a in self.ancestors(sp.parent)):
                s["call_s"] += sp.end - sp.start
        for j in jobs:
            seen = set()
            for sp in self.ancestors(self.span_of_group(j["group"])):
                if sp.layer in seen:
                    continue
                seen.add(sp.layer)
                s = slot(sp.layer)
                s["jobs"] += 1
                s["job_s"] += j["duration_s"]
        return out


class _QueryListener:
    """``org.apache.spark.sql.util.QueryExecutionListener`` in Python."""

    def __init__(self, out: list[dict]):
        self.out = out

    def _record(self, func, qe, ok):
        it = qe.tracker().phases().iterator()
        ms = 0
        while it.hasNext():
            ms += it.next()._2().durationMs()
        self.out.append({"func": func, "catalyst_s": ms / 1000.0, "ok": ok})

    def onSuccess(self, func, qe, duration_ns):
        self._record(func, qe, True)

    def onFailure(self, func, qe, exc):
        self._record(func, qe, False)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# -- status store -----------------------------------------------------------


def _opt(o):
    return o.get() if o.isDefined() else None


def read_jobs(spark) -> list[dict]:
    """Every job in the driver's status store, by id."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    seq = store.jobsList(sc._jvm.java.util.ArrayList())
    it = seq.iterator()
    jobs = []
    while it.hasNext():
        j = it.next()
        jid = j.jobId()
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        t0 = sub.getTime() / 1000.0 if sub is not None else None
        t1 = done.getTime() / 1000.0 if done is not None else t0
        sids = j.stageIds()
        stage_ids = [sids.apply(i) for i in range(sids.size())]
        jobs.append(
            {
                "id": jid,
                "name": j.name(),
                "group": _opt(j.jobGroup()),
                "status": str(j.status()),
                "start": t0,
                "duration_s": (t1 - t0) if t0 is not None else 0.0,
                "stage_ids": stage_ids,
                "tasks": j.numTasks() - j.numSkippedTasks(),
            }
        )
    jobs.sort(key=lambda r: r["id"])
    return jobs


STAGE_FIELDS = (
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "tasks",
)


def read_stages(spark) -> dict[int, dict]:
    """Stage id -> metrics summed over its attempts (skipped stages left out)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._jvm.java.util.ArrayList()
    quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    seq = store.stageList(empty, False, False, quantiles, empty)
    it = seq.iterator()
    out: dict[int, dict] = {}
    while it.hasNext():
        st = it.next()
        sid = st.stageId()
        if str(st.status()) == "SKIPPED":
            continue
        d = out.setdefault(sid, dict.fromkeys(STAGE_FIELDS, 0))
        d["shuffle_read_bytes"] += st.shuffleReadBytes()
        d["shuffle_write_bytes"] += st.shuffleWriteBytes()
        d["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        d["input_bytes"] += st.inputBytes()
        d["tasks"] += st.numCompleteTasks()
    return out


def missing_ids(ids: list[int]) -> list[int]:
    """Ids absent from the contiguous range ``min(ids)..max(ids)``."""
    if not ids:
        return []
    have = set(ids)
    return [i for i in range(min(ids), max(ids) + 1) if i not in have]


def merged_busy_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
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


# -- call sites ---------------------------------------------------------------


class SiteResolver:
    """Map a job's ``<action> at <file>:<line>`` call site to the function
    (and the top-level statement of that function) enclosing the line,
    parsed from the file at run time so shifted line numbers keep
    resolving to the same code."""

    def __init__(self):
        self._cache: dict[str, list[tuple[int, int, str, list]]] = {}

    def _functions(self, path: str):
        if path not in self._cache:
            try:
                with open(path, encoding="utf-8") as f:
                    tree = ast.parse(f.read())
            except (OSError, SyntaxError):
                tree = None
            found = []
            if tree is not None:
                for node in ast.walk(tree):
                    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        found.append((node.lineno, node.end_lineno, node.name, node.body))
            self._cache[path] = found
        return self._cache[path]

    def resolve(self, site: str) -> tuple[str | None, str | None]:
        """(function, statement label) for ``"collect at /x/etl.py:530"``.
        The label is the assignment target of the enclosing top-level
        statement of that function, when it is a plain assignment."""
        try:
            loc = site.rsplit(" at ", 1)[1]
            path, line_s = loc.rsplit(":", 1)
            line = int(line_s)
        except (IndexError, ValueError):
            return None, None
        best = None
        for lo, hi, name, body in self._functions(path):
            if lo <= line <= hi and (best is None or lo >= best[0]):
                best = (lo, hi, name, body)
        if best is None:
            return None, None
        label = None
        for stmt in best[3]:
            if stmt.lineno <= line <= stmt.end_lineno:
                if isinstance(stmt, ast.Assign) and isinstance(stmt.targets[0], ast.Name):
                    label = stmt.targets[0].id
                break
        return best[2], label
