"""Layer tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's side of each layer boundary: the
package's public functions are wrapped in place (every module that bound
the original by ``from ... import`` gets the wrapper too), so nothing
inside the package changes. Spark-side layers are read from Spark's own
status stores after each operation:

- Catalyst phases: ``queryExecution().tracker().phases()``;
- jobs, stages and task metrics: job group -> ``statusTracker`` job ids ->
  ``statusStore().lastStageAttempt(stage)``;
- the Python boundary and bytes written: the SQL metrics of the
  operation's executions in ``sharedState().statusStore()``.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import sys
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

PKG = "custom_python_etl_data_connector_keerthana2k4_tech_spark"

#: store verbs: (module, attribute or Class.method, verb)
_STORE_VERBS = [
    ("operators.versioned", "versioned_upsert", "upsert"),
    ("operators.versioned", "versioned_merge", "upsert"),
    ("operators.versioned", "versioned_delete", "delete"),
    ("operators.versioned", "compact_versioned", "compact"),
    ("operators.versioned", "vacuum_versioned", "compact"),
    ("operators.versioned", "rollback", "upsert"),
    ("operators.versioned", "read_versioned", "read"),
    ("operators.versioned", "table_changes", "read"),
    ("operators.paired", "paired_upsert", "upsert"),
    ("operators.paired", "paired_delete", "delete"),
    ("operators.paired", "paired_commit_epoch", "upsert"),
    ("operators.paired", "repair_drift", "upsert"),
    ("operators.paired", "resume_paired", "upsert"),
]
for _cls_mod, _cls in (("operators.postings_store", "PostingsStore"),
                       ("operators.pq_store", "IVFPQStore")):
    _STORE_VERBS += [
        (_cls_mod, f"{_cls}.build", "build"),
        (_cls_mod, f"{_cls}.append", "upsert"),
        (_cls_mod, f"{_cls}.upsert", "upsert"),
        (_cls_mod, f"{_cls}.delete", "delete"),
        (_cls_mod, f"{_cls}.compact", "compact"),
        (_cls_mod, f"{_cls}.vacuum", "compact"),
        (_cls_mod, f"{_cls}.reader", "read"),
    ]
_STORE_VERBS += [
    ("operators.postings_store", "PostingsStore.ranked_bm25", "read"),
    ("operators.postings_store", "PostingsStore.ranked_bm25_table", "read"),
    ("operators.postings_store", "PostingsStore.phrase", "read"),
    ("operators.pq_store", "IVFPQStore.query", "read"),
]

#: physical operators that cross into Python workers (formatted-mode plan
#: lines are "<Node> (<id>)"); Python data sources show as their BatchScan
_PYTHON_NODE = re.compile(
    r"^[\s:+\-|*]*(ArrowEvalPython\w*|BatchEvalPython\w*|\w*InPandas|\w*InArrow|"
    r"ArrowAggregatePython|ArrowWindowPython\w*|FlatMap\w*InPandas|"
    r"BatchScan (paginated_rest|rest_upsert))\b"
)
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_value(text: str | None) -> float:
    """Parse a formatted SQL metric ("4.0 KiB", "688 ms", or the per-task
    breakdown "total (min, med, max ...)\\n3.3 s (...)") to bytes/seconds."""
    if not text:
        return 0.0
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class Tracer:
    """In-memory span recorder. A span is (id, op, layer, name, start, end,
    parent); spans of one operation share ``op``. Disabled, ``span`` costs
    one attribute check."""

    def __init__(self):
        self.enabled = False
        self.op = None
        self.spans: list[dict] = []
        self.counts: dict = defaultdict(float)  # counters of the current op
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def stack(self) -> list:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    def begin(self, layer: str, name: str, parent: int | None = None) -> dict:
        stack = self.stack()
        span = {
            "id": next(self._ids), "op": self.op, "layer": layer, "name": name,
            "parent": parent if parent is not None else (stack[-1]["id"] if stack else None),
            "start": time.perf_counter(), "wall_start": time.time(), "end": None,
        }
        stack.append(span)
        with self._lock:
            self.spans.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        span["wall_end"] = time.time()
        stack = self.stack()
        if stack and stack[-1] is span:
            stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def wrap(self, fn, layer: str, name: str, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            span = tracer.begin(layer, name)
            try:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(span, args, out)
                return out
            finally:
                tracer.end(span)

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _rebind(orig, new) -> None:
    """Point every package module attribute bound to ``orig`` at ``new``."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith(PKG) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points. Call after the registry has imported
    every plans module, so ``from ... import`` bindings are rebound too."""
    import importlib

    def mod(rel):
        return importlib.import_module(f"{PKG}.{rel}")

    def patch_fn(rel, attr, layer, name, on_result=None):
        m = mod(rel)
        orig = getattr(m, attr)
        new = tracer.wrap(orig, layer, name, on_result)
        _rebind(orig, new)

    patch_fn("tables", "load", "tables", "tables.load",
             lambda s, a, o: tracer.count("tables.load_calls"))

    # materialize_once returns the cached frame on a hit, its argument on a miss
    def mat_result(span, args, out):
        hit = out is not args[0]
        span["name"] = "cache.materialize_" + ("hit" if hit else "miss")
        tracer.count("cache.materialize_hits" if hit else "cache.materialize_misses")

    patch_fn("plans.extensions", "materialize_once", "caches", "cache.materialize_once",
             mat_result)

    stores_mod = mod("plans.stores")
    orig_once = stores_mod._once

    def traced_once(key, build):
        def counted_build():
            tracer.count("cache.store_builds")
            span = tracer.begin("caches", f"cache.store_build.{key[0]}")
            try:
                return build()
            finally:
                tracer.end(span)

        return orig_once(key, counted_build if tracer.enabled else build)

    _rebind(orig_once, traced_once)

    conc = mod("operators.concurrency")
    orig_run_jobs = conc.run_jobs

    def traced_run_jobs(thunks):
        if not tracer.enabled:
            return orig_run_jobs(thunks)
        span = tracer.begin("concurrency", "concurrency.run_jobs")

        def timed(thunk):
            def run():
                # its own layer: thunks overlap, so they are not the
                # concurrency layer's self time
                child = tracer.begin("thunk", "concurrency.thunk", parent=span["id"])
                try:
                    return thunk()
                finally:
                    tracer.end(child)
                    tracer.count("concurrency.thunk_s", child["end"] - child["start"])

            return run

        try:
            return orig_run_jobs([timed(t) for t in thunks])
        finally:
            tracer.end(span)
            tracer.count("concurrency.run_jobs_s", span["end"] - span["start"])

    _rebind(orig_run_jobs, traced_run_jobs)

    for rel, attr, verb in _STORE_VERBS:
        m = mod(rel)
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(m, cls_name)
            raw = cls.__dict__[meth]
            if isinstance(raw, classmethod):
                new = classmethod(tracer.wrap(raw.__func__, "stores", f"stores.{verb}"))
            else:
                new = tracer.wrap(raw, "stores", f"stores.{verb}")
            setattr(cls, meth, new)
        else:
            orig = getattr(m, attr)
            _rebind(orig, tracer.wrap(orig, "stores", f"stores.{verb}"))

    patch_fn("pipeline", "run_batch", "pipeline", "pipeline.run_batch")
    patch_fn("operators.upsert", "upsert_parquet", "upsert", "upsert.upsert_parquet")
    patch_fn("sources.rest", "pulses_df", "sources", "sources.rest.pulses_df")


# --------------------------------------------------------------------------
# Spark-side probes
# --------------------------------------------------------------------------


class SparkProbe:
    """Reads job/stage/SQL metrics for one operation's job groups."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.app_store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._seen_execs = self.sql_store.executionsCount()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_metrics(self, job_ids: list[int]) -> dict:
        out = defaultdict(float)
        seen = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.app_store.lastStageAttempt(sid)
                except Py4JJavaError:  # no attempt recorded: the stage was skipped
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += sd.numTasks()
                out["exec.run_s"] += sd.executorRunTime() / 1e3
                out["exec.cpu_s"] += sd.executorCpuTime() / 1e9
                out["exec.gc_s"] += sd.jvmGcTime() / 1e3
                out["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["exec.jobs"] = float(len(job_ids))
        return out

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far, so
        the status stores hold the jobs and executions that have ended."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def skip_executions(self) -> None:
        """Move the cursor of new_executions past every execution so far:
        those of earlier operations, traced or not."""
        self.settle()
        self._seen_execs = self.sql_store.executionsCount()

    def new_executions(self) -> list[dict]:
        """SQL executions since the last call (or skip_executions):
        submission time, Python boundary metrics, bytes written and Python
        plan nodes."""
        self.settle()
        n = self.sql_store.executionsCount()
        if n <= self._seen_execs:
            return []
        execs = self.sql_store.executionsList(self._seen_execs, n - self._seen_execs)
        self._seen_execs = n
        out = []
        it = execs.iterator()
        while it.hasNext():
            e = it.next()
            values = self.sql_store.executionMetrics(e.executionId())
            rec = defaultdict(float)
            rec["submitted"] = e.submissionTime() / 1e3
            seen = set()
            mit = e.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                acc = m.accumulatorId()
                if acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                rec[m.name()] += _metric_value(v.get() if v.isDefined() else None)
            # the operator tree, final plan only under AQE
            tree = e.physicalPlanDescription().split("\n\n", 1)[0]
            tree = tree.split("== Initial Plan ==", 1)[0]
            rec["python_nodes"] = sum(
                1 for line in tree.split("\n") if _PYTHON_NODE.match(line)
            )
            out.append(rec)
        return out


def catalyst_phases(df) -> dict:
    ph = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_s"] = (
            ph.apply(phase).durationMs() / 1e3 if ph.contains(phase) else 0.0
        )
    return out


def self_times(spans: list[dict]) -> dict:
    """Per-layer self time: each span's duration minus the part of its
    interval covered by its child spans (interval union, so children that
    overlap in run_jobs threads are not double-subtracted)."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = defaultdict(float)
    for s in spans:
        if s["end"] is None:
            continue
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            if c["end"] is None:
                continue
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
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
        out[s["layer"]] += (s["end"] - s["start"]) - covered
    return out
