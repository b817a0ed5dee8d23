"""Spans around the calls into each varda_spark layer, plus Spark's counts.

`Tracer.patch()` wraps the public functions of every layer in `LAYERS`
and rebinds each wrapped name in every loaded varda_spark module that
imported it, so nested calls (api.annotate -> annotate.annotate_keys ->
frequency.frequency -> operators.interval.interval_join) record nested
spans. Spans live in memory and are written out once, by `dump`.

`SparkCounts` reads Spark's own status store: the jobs of a job group,
their stages' task metrics and the SQL executions they belong to. Both are
used only by the traced run; the end-to-end run records nothing here.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from contextlib import contextmanager

# layer name -> (module, names); names=None means every public function
# defined in the module. Class methods are given as "Class.method".
LAYERS = {
    "session": [("varda_spark.session", ["get_spark", "configure"])],
    "api": [("varda_spark.api", [
        "VardaWarehouse.create_sample", "VardaWarehouse.import_variation",
        "VardaWarehouse.import_coverage", "VardaWarehouse.activate_sample",
        "VardaWarehouse.frequency", "VardaWarehouse.annotate",
    ])],
    "sources": [
        ("varda_spark.sources.vcf", ["read_vcf"]),
        ("varda_spark.sources.bed", ["read_bed"]),
        ("varda_spark.sources.tables", ["read_table"]),
    ],
    "expressions": [("varda_spark.expressions", ["compile_selection"])],
    "annotate": [("varda_spark.annotate", ["annotate_keys"])],
    "frequency": [("varda_spark.frequency", ["frequency"])],
    "operators.interval": [("varda_spark.operators.interval", ["interval_join"])],
    "operators.binning": [("varda_spark.operators.binning", ["with_bin", "point_bins"])],
    "operators.merge": [("varda_spark.operators.merge", ["merge_upsert", "merge_rollups"])],
    "catalog.operators": [
        ("varda_spark.operators.dedup", None),
        ("varda_spark.operators.similarity", None),
        ("varda_spark.operators.text", None),
        ("varda_spark.operators.skew", None),
        ("varda_spark.streaming.windows", None),
    ],
}


class Tracer:
    def __init__(self, run_id: str, capture: tuple[str, ...] = ()):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # span name -> [(args, kwargs)] of calls to keep for later analysis
        self.captured: dict[str, list] = {name: [] for name in capture}

    def _open(self, name: str, layer: str, start: float, parent, attrs: dict) -> dict:
        span = {"id": len(self.spans), "name": name, "layer": layer, "start": start,
                "end": None, "parent": parent, "run": self.run_id, **attrs}
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        s = self._open(name, layer, time.time(), self._stack[-1] if self._stack else None, attrs)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.time()

    def add(self, name: str, layer: str, start: float, end: float, parent, **attrs) -> dict:
        s = self._open(name, layer, start, parent, attrs)
        s["end"] = end
        return s

    def innermost(self, t: float, root: int) -> int:
        """The deepest span of `root`'s subtree that was open at time `t`."""
        best, inside = root, {root}
        for s in self.spans[root + 1:]:
            if s["parent"] in inside and s["name"] not in ("spark.job", "spark.sql"):
                inside.add(s["id"])
                if s["start"] <= t <= (s["end"] or t):
                    best = s["id"]
        return best

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if name in self.captured:
                self.captured[name].append((args, kwargs))
            with self.span(name, layer):
                return fn(*args, **kwargs)

        traced.__traced__ = True
        return traced

    def patch(self) -> int:
        """Wrap every function in LAYERS; returns how many were wrapped."""
        wrapped = 0
        for layer, entries in LAYERS.items():
            for mod_name, names in entries:
                mod = importlib.import_module(mod_name)
                if names is None:
                    names = [n for n, f in vars(mod).items()
                             if inspect.isfunction(f) and f.__module__ == mod_name
                             and not n.startswith("_")]
                for n in names:
                    owner, attr = mod, n
                    if "." in n:
                        cls, attr = n.split(".")
                        owner = getattr(mod, cls)
                    orig = getattr(owner, attr)
                    if getattr(orig, "__traced__", False):
                        continue
                    new = self.wrap(orig, f"{mod_name.removeprefix('varda_spark.')}.{n}", layer)
                    setattr(owner, attr, new)
                    _rebind(orig, new)
                    wrapped += 1
        return wrapped

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _rebind(orig, new) -> None:
    """Point every `from x import f` copy of `orig` at `new`."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith("varda_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = max(s["end"] - s["start"] - covered, 0.0)
    return out


STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
}


class SparkCounts:
    """Per-job-group counts from the driver's status stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        jvm = self.sc._jvm
        self._empty_list = jvm.java.util.ArrayList()
        self._empty_doubles = self.sc._gateway.new_array(jvm.double, 0)
        self._bus = self.sc._jsc.sc().listenerBus()
        # SQL executions: index of the first one not yet complete when last
        # read, and the ids of those already turned into spans
        self._sql_seen = 0
        self._sql_done: set[int] = set()

    def group(self, group: str, tracer: Tracer | None = None, parent=None) -> dict:
        """Counts for every job of `group`; adds job/SQL spans under `parent`."""
        # the stores are filled from the listener bus, asynchronously: drain
        # it so every event of the call just returned has been applied
        self._bus.waitUntilEmpty()
        counts = {k: 0.0 for k in STAGE_FIELDS} | {"jobs": 0, "stages": 0, "tasks": 0}
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        sql_parent = self._sql_spans(job_ids, tracer, parent) if tracer else {}
        for jid in sorted(job_ids):
            job = self.store.job(jid)
            counts["jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                attempts = self.store.stageData(stage_ids.apply(i), False, self._empty_list,
                                                False, self._empty_doubles)
                if attempts.isEmpty():
                    continue
                st = attempts.apply(0)
                if st.status().toString() == "SKIPPED":
                    continue
                counts["stages"] += 1
                counts["tasks"] += st.numTasks()
                for key, (getter, scale) in STAGE_FIELDS.items():
                    counts[key] += getattr(st, getter)() * scale
                counts["spill_bytes"] += st.diskBytesSpilled()
            if tracer and job.submissionTime().isDefined() and job.completionTime().isDefined():
                start = job.submissionTime().get().getTime() / 1e3
                owner = sql_parent[jid] if jid in sql_parent else tracer.innermost(start, parent)
                tracer.add("spark.job", "spark", start, job.completionTime().get().getTime() / 1e3,
                           owner, job_id=jid, tasks=job.numTasks())
        return counts

    def _sql_spans(self, job_ids: set, tracer: Tracer, parent) -> dict:
        """Add a span per new SQL execution running these jobs; job -> span id."""
        first = self._sql_seen
        total = self.sql_store.executionsCount()
        new = self.sql_store.executionsList(first, total - first)
        self._sql_seen = total
        owner = {}
        for i in range(new.size()):
            ex = new.apply(i)
            if not ex.completionTime().isDefined():  # read again next time
                self._sql_seen = min(self._sql_seen, first + i)
                continue
            if ex.executionId() in self._sql_done:
                continue
            jobs = {int(j) for j in ex.jobs().keySet().toSeq().mkString(",").split(",") if j}
            if not jobs & job_ids:
                continue
            self._sql_done.add(ex.executionId())
            start = ex.submissionTime() / 1e3
            s = tracer.add("spark.sql", "spark", start, ex.completionTime().get().getTime() / 1e3,
                           tracer.innermost(start, parent), execution_id=ex.executionId())
            owner.update({j: s["id"] for j in jobs})
        return owner

    def cached_bytes(self) -> int:
        rdds = self.store.rddList(True)
        return sum(rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed() for i in range(rdds.size()))


def plan_nodes(df):
    """Yield every node of the executed physical plan, AQE stages opened up.

    Reused exchanges are not descended into: their subtree runs once."""
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        yield kind, node
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif kind != "ReusedExchangeExec":
            children = node.children()
            todo.extend(children.apply(i) for i in range(children.size()))


def plan_counts(df, tables: dict[str, str]) -> dict[str, int]:
    """Scans per table directory (name -> dir suffix) and broadcast exchanges."""
    out = {name: 0 for name in tables} | {"broadcast_exchanges": 0}
    for kind, node in plan_nodes(df):
        if kind == "BroadcastExchangeExec":
            out["broadcast_exchanges"] += 1
        elif kind == "FileSourceScanExec":
            roots = node.relation().location().rootPaths()
            paths = [roots.apply(i).toString().rstrip("/") for i in range(roots.size())]
            for name, suffix in tables.items():
                out[name] += any(p.endswith("/" + suffix) for p in paths)
    return out
