"""Traced-run instrumentation, attached from outside ``dumbo_spark``.

Nothing under ``dumbo_spark/`` is edited. Each layer is timed at the
calls into its public functions: the functions are wrapped and every
module binding of the original is re-pointed at the wrapper (queries
bind ``load_table`` by name at import, so patching the defining module
alone would miss them). Spans (layer, name, job, start, end, parent)
stay in memory; ``Tracer.layer_totals`` folds them into per-pass
metrics and ``Tracer.dump`` writes them out when the run ends.

Spark-side numbers come from public surfaces only: per-job
``setJobGroup`` + the UI REST API (jobs/stages, with
``SPARK_GRAFT_UI=true``), a ``StreamingQueryListener``, JVM management
beans and Spark's own codegen counters, all read through py4j.
"""

from __future__ import annotations

import inspect
import json
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from datetime import datetime

from perfbench import procs

# layer -> modules whose public functions are wrapped
OPERATOR_MODULES = ("graph", "dedup", "similarity", "textstats")
COMPAT_FUNCS = {
    "dumbo_spark.compat.mapred": ("map_only", "map_open", "map_reduce", "join_reduce"),
    "dumbo_spark.compat.run": ("run",),
}


class Tracer:
    def __init__(self) -> None:
        self.enabled = True
        self.spans: list[tuple] = []  # (layer, name, scope, t0, t1, parent)
        self.scope = "setup"  # "<pass>:<job>" while a job runs
        self._local = threading.local()

    # ── spans ──────────────────────────────────────────────────────────

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._stack()
        idx = len(self.spans)
        self.spans.append(None)  # reserve the slot; filled on exit
        parent = stack[-1] if stack else -1
        stack.append(idx)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            self.spans[idx] = (layer, name, self.scope, t0, time.perf_counter(), parent)

    def wrap(self, layer: str, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            return tracer.call(layer, name, fn, *args, **kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    # ── patching ───────────────────────────────────────────────────────

    def _rebind_everywhere(self, orig, wrapper) -> None:
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not (mname.startswith("dumbo_spark") or mname.startswith("perfbench")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)

    def patch_function(self, module, fname: str, layer: str) -> None:
        orig = getattr(module, fname)
        self._rebind_everywhere(orig, self.wrap(layer, f"{module.__name__}.{fname}", orig))

    def patch_method(self, cls, mname: str, layer: str) -> None:
        setattr(cls, mname, self.wrap(layer, f"{cls.__name__}.{mname}", getattr(cls, mname)))

    def install(self) -> None:
        """Wrap every traced layer's public functions (registry already
        imported, so every binding exists)."""
        import importlib

        from pyspark.sql.readwriter import DataFrameWriter

        from dumbo_spark import session
        from dumbo_spark.compat import job as compat_job
        from dumbo_spark.sources import catalog, textio

        self.patch_function(session, "get_session", "session.get_session")
        self.patch_function(session, "release_persistent_rdds", "session.release")
        self.patch_function(catalog, "load_table", "sources.load_table")
        for fname in ("write_parquet",):
            self.patch_function(textio, fname, "sources.write")
        for mname in ("parquet", "csv", "json", "text", "orc", "saveAsTable", "insertInto"):
            self.patch_method(DataFrameWriter, mname, "sources.write")
        for modname in OPERATOR_MODULES:
            mod = importlib.import_module(f"dumbo_spark.operators.{modname}")
            for fname, fn in list(vars(mod).items()):
                if (
                    not fname.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__
                ):
                    self.patch_function(mod, fname, f"operators.{modname}")
        for modname, fnames in COMPAT_FUNCS.items():
            mod = importlib.import_module(modname)
            for fname in fnames:
                self.patch_function(mod, fname, "compat")
        self.patch_method(compat_job.Job, "run", "compat")

    # ── folding spans into metrics ─────────────────────────────────────

    def layer_totals(self, scope_prefix: str) -> dict[str, list[float]]:
        """layer -> [outermost seconds, outermost calls] over spans whose
        scope starts with ``scope_prefix``. A span nested inside another
        span of the same layer is not counted again."""
        out: dict[str, list[float]] = defaultdict(lambda: [0.0, 0])
        for span in self.spans:
            if span is None:
                continue
            layer, _name, scope, t0, t1, parent = span
            if not scope.startswith(scope_prefix):
                continue
            p = parent
            nested = False
            while p >= 0:
                ps = self.spans[p]
                if ps is not None and ps[0] == layer:
                    nested = True
                    break
                p = ps[5] if ps is not None else -1
            if not nested:
                out[layer][0] += t1 - t0
                out[layer][1] += 1
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {"layer": s[0], "name": s[1], "scope": s[2],
                     "start": s[3], "end": s[4], "parent": s[5]}
                    for s in self.spans if s is not None
                ],
                fh,
            )


# ── Spark-side probes ──────────────────────────────────────────────────


class JvmProbe:
    """Cumulative JVM counters read through py4j at pass boundaries."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._cg = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._cm = jvm.org.apache.spark.metrics.source.CodegenMetrics
        mf = jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [
            p for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"
        ]

    def counters(self) -> dict[str, float]:
        return {
            "codegen_compile_s": self._cg.compileTime() / 1e9,
            "codegen_classes": float(self._cm.METRIC_COMPILATION_TIME().getCount()),
            "gc_s": sum(b.getCollectionTime() for b in self._gcs) / 1e3,
        }

    def reset_peak_heap(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()

    def peak_heap_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools) / 2**20


def _ts(s: str | None) -> float:
    if not s:
        return 0.0
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def rest_exec_metrics(spark) -> dict[str, dict[str, float]]:
    """group-prefix ("<pass>") -> summed Spark job/stage metrics, from
    the UI REST API. Job groups are ``<pass>:<job>:<phase>``."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(f"{base}/{path}", timeout=30) as r:
            return json.load(r)

    jobs = get("jobs")
    by_stage: dict[int, list[dict]] = defaultdict(list)  # one entry per attempt
    for s in get("stages"):
        by_stage[s["stageId"]].append(s)

    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    seen: dict[str, set[int]] = defaultdict(set)
    for j in jobs:
        group = j.get("jobGroup") or ""
        if ":" not in group:
            continue
        pass_id, _job, phase = group.rsplit(":", 2)
        m = out[pass_id]
        m["exec.jobs"] += 1
        if phase == "build":
            m["queries.eager_jobs"] += 1
        m["exec.wall_s"] += max(0.0, _ts(j.get("completionTime")) - _ts(j.get("submissionTime")))
        m["exec.stages_skipped"] += j.get("numSkippedStages", 0)
        for sid in j["stageIds"]:
            if sid in seen[pass_id]:
                continue
            seen[pass_id].add(sid)
            for s in by_stage.get(sid, []):
                if s["status"] not in ("COMPLETE", "FAILED"):
                    continue
                m["exec.stages"] += 1
                m["exec.tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
                m["exec.failed_tasks"] += s["numFailedTasks"]
                m["exec.executor_run_s"] += s["executorRunTime"] / 1e3
                m["exec.executor_cpu_s"] += s["executorCpuTime"] / 1e9
                m["exec.shuffle_read_bytes"] += s["shuffleReadBytes"]
                m["exec.shuffle_write_bytes"] += s["shuffleWriteBytes"]
                m["exec.spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                m["sources.input_bytes"] += s["inputBytes"]
                m["sources.output_bytes"] += s["outputBytes"]
    return out


def make_stream_listener(tracer: Tracer):
    """A StreamingQueryListener that files every query's lifetime,
    batches, batch time and state rows under the tracer's scope."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.queries: dict[str, dict] = {}

        def onQueryStarted(self, event) -> None:
            self.queries[str(event.id)] = {
                "scope": tracer.scope, "start": time.perf_counter(), "end": None,
                "batches": 0, "batch_s": 0.0, "state_rows": 0,
                "traced": tracer.enabled,
            }

        def onQueryProgress(self, event) -> None:
            q = self.queries.get(str(event.progress.id))
            if q is None:
                return
            p = event.progress
            q["batches"] += 1
            q["batch_s"] += (p.durationMs or {}).get("triggerExecution", 0) / 1e3
            q["state_rows"] = sum(s.numRowsTotal for s in p.stateOperators)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            q = self.queries.get(str(event.id))
            if q is not None:
                q["end"] = time.perf_counter()

        def totals(self, scope_prefix: str) -> dict[str, float]:
            m = defaultdict(float)
            for q in self.queries.values():
                if not (q["traced"] and q["scope"].startswith(scope_prefix)):
                    continue
                life = (q["end"] or time.perf_counter()) - q["start"]
                m["streaming.queries"] += 1
                m["streaming.batches"] += q["batches"]
                m["streaming.batch_s"] += q["batch_s"]
                m["streaming.idle_s"] += max(0.0, life - q["batch_s"])
                m["streaming.state_rows"] += q["state_rows"]
            return m

    return Listener()


class WorkerSampler(threading.Thread):
    """Polls /proc for PySpark worker processes of this session: how
    many distinct ones appeared and their CPU seconds."""

    def __init__(self, sid: int, period_s: float = 0.05) -> None:
        super().__init__(daemon=True)
        self.sid, self.period_s = sid, period_s
        self.seen: set[int] = set()
        self._cpu_by_pid: dict[int, float] = {}
        self._halt = threading.Event()

    def _poll(self) -> None:
        for pid in procs.session_pids(self.sid):
            if pid in self.seen or "pyspark.daemon" in procs.cmdline(pid):
                self.seen.add(pid)
                # own CPU only: the daemon's reaped-children time would
                # count its workers twice
                self._cpu_by_pid[pid] = procs.cpu_seconds([pid], reaped=False)

    def cpu_s(self) -> float:
        self._poll()
        return sum(self._cpu_by_pid.values())

    def run(self) -> None:
        while not self._halt.wait(self.period_s):
            self._poll()

    def halt(self) -> None:
        self._halt.set()
        self.join()
