#!/usr/bin/env python3
"""Benchmark runner: time one dumbo-style workload end to end.

    python3 perfbench/run.py --workload core_small --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run generates its inputs from the
seed, starts every Spark process in a fresh session of its own (fresh
JVM, own TMPDIR and SPARK_LOCAL_DIRS), checks every job's output
against its DuckDB oracle, stops every process it started and deletes
its scratch directory. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the run's context (seed, nproc, load average, versions).

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. See perfbench/README.md for the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import procs  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# the whole run, leaving time to kill and clean up inside 180 s
RUN_TIMEOUT_S = float(os.environ.get("PERFBENCH_TIMEOUT_S", 160))
DRIVER_MEMORY = "2g"  # fits a 15 GB host shared with other work
RSS_PERIOD_S = 0.1
TRACE_SUBMIT_ARGS = (
    "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
    "pyspark-shell"
)


class RunError(Exception):
    pass


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.cpus = len(os.sched_getaffinity(0))
        self.deadline = time.monotonic() + RUN_TIMEOUT_S
        self.dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
        self.data = os.path.join(self.dir, "data")
        self.out = os.path.join(self.dir, "out")
        self.sid: int | None = None

    def env(self) -> dict[str, str]:
        tmp = os.path.join(self.dir, "tmp")
        env = dict(
            os.environ,
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(self.dir, "spark-local"),
            # PerfDisableSharedMem: no hsperfdata file under /tmp
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
            SPARK_GRAFT_CPUS=str(self.cpus),
            SPARK_GRAFT_UI="true" if self.args.trace else "false",
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        )
        if self.args.trace:
            env["PYSPARK_SUBMIT_ARGS"] = TRACE_SUBMIT_ARGS
        else:
            env.pop("PYSPARK_SUBMIT_ARGS", None)
        return env

    def spawn(self) -> tuple[dict, float]:
        """Run the worker to completion in a new session. Returns its
        result and the peak RSS (bytes) of its process tree."""
        a = self.args
        result_path = os.path.join(self.dir, "worker.json")
        log_path = os.path.join(self.dir, "worker.log")
        env = self.env()
        env["PERFBENCH_SPAWNED_AT"] = repr(time.monotonic())
        with open(log_path, "w") as log:
            p = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"),
                 "--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--sf-dir", self.data, "--out-dir", self.out,
                 "--result", result_path, "--cpus", str(self.cpus)],
                cwd=self.dir, env=env, stdin=subprocess.DEVNULL,
                stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
            )
        self.sid = p.pid
        peak = 0
        while p.poll() is None:
            if time.monotonic() > self.deadline:
                procs.kill_session(p.pid)
                p.wait()
                raise RunError(f"worker timed out after {RUN_TIMEOUT_S:.0f}s")
            peak = max(peak, procs.rss_bytes(procs.session_pids(p.pid)))
            time.sleep(RSS_PERIOD_S)
        # the JVM and the Python workers outlive the Python driver by a moment
        grace = min(30.0, max(1.0, self.deadline - time.monotonic()))
        if not procs.wait_session_empty(p.pid, grace):
            procs.kill_session(p.pid)
        try:
            with open(result_path) as fh:
                res = json.load(fh)
        except (OSError, ValueError):
            res = {"fatal": f"worker exited {p.returncode} without a result"}
        if "fatal" in res:
            with open(log_path, errors="replace") as fh:
                tail = fh.read()[-3000:]
            raise RunError(f"worker failed:\n{res['fatal']}\n--- log tail ---\n{tail}")
        return res, peak

    def cleanup(self) -> None:
        if self.sid is not None:
            procs.kill_session(self.sid)
        shutil.rmtree(self.dir, ignore_errors=True)
        try:  # shared by concurrent runs; the last one out removes it
            os.rmdir(os.path.dirname(self.dir))
        except OSError:
            pass


def end_to_end(res: dict) -> dict[str, float]:
    return {
        "setup_s": res["setup_s"],
        "cold_pass_s": res["cold_pass_s"],
        "warm_pass_s": res["warm_pass_s"],
        "job_p50_s": res["job_p50_s"],
        "job_tail_s": res["job_tail_s"],
        "warm_cpu_s": res["warm_cpu_s"],
    }


UNITS = {"s": "s", "mb": "MB", "bytes": "bytes", "ratio": "ratio"}


def unit(name: str) -> str:
    """Unit from the name's last ``_``/``.`` component; count otherwise."""
    return UNITS.get(name.replace(".", "_").rsplit("_", 1)[-1], "count")


def per_layer(res: dict, cpus: int, peak_rss: float) -> dict[str, float]:
    """Per-layer metrics, each a mean over the traced warm passes unless
    its name says cold (the cold pass) or it is a set-up figure."""
    labels = [p["label"] for p in res["traced_passes"]]

    def mean(get) -> float:
        return statistics.fmean(get(lbl) for lbl in labels)

    def span(layer: str, i: int, label: str) -> float:
        return res["layers"].get(label, {}).get(layer, [0.0, 0])[i]

    def rest(key: str, label: str) -> float:
        return res["rest"].get(label, {}).get(key, 0.0)

    def stream(key: str, label: str) -> float:
        return res["streaming"].get(label, {}).get(key, 0.0)

    passes = {p["label"]: p for p in res["traced_passes"]}
    m: dict[str, float] = {
        "registry.import_s": res["registry.import_s"],
        "session.get_session_s": res["setup_layers"].get("session.get_session", [0.0])[0],
        "session.release_s": mean(lambda lb: span("session.release", 0, lb)),
        "session.released_rdds": mean(lambda lb: res["released"].get(lb, 0)),
        "queries.build_s": mean(lambda lb: span("queries.build", 0, lb)),
        "queries.eager_jobs": mean(lambda lb: rest("queries.eager_jobs", lb)),
        "sources.load_table_calls": mean(lambda lb: span("sources.load_table", 1, lb)),
        "sources.load_table_s": mean(lambda lb: span("sources.load_table", 0, lb)),
        "sources.cold_load_table_calls": float(span("sources.load_table", 1, "cold")),
        "sources.cold_load_table_s": span("sources.load_table", 0, "cold"),
        "sources.input_bytes": mean(lambda lb: rest("sources.input_bytes", lb)),
        "sources.write_s": mean(lambda lb: span("sources.write", 0, lb)),
        "sources.output_bytes": mean(lambda lb: rest("sources.output_bytes", lb)),
        "plans.plan_s": mean(lambda lb: span("plans.plan", 0, lb)),
        "plans.codegen_compile_s": mean(lambda lb: passes[lb]["codegen_compile_s"]),
        "plans.codegen_classes": mean(lambda lb: passes[lb]["codegen_classes"]),
        "plans.cold_plan_s": span("plans.plan", 0, "cold"),
        "plans.cold_codegen_compile_s": res["cold_jvm"]["codegen_compile_s"],
        "plans.cold_codegen_classes": res["cold_jvm"]["codegen_classes"],
    }
    for key in ("exec.wall_s", "exec.jobs", "exec.stages", "exec.stages_skipped",
                "exec.tasks", "exec.failed_tasks", "exec.executor_run_s",
                "exec.executor_cpu_s", "exec.shuffle_read_bytes",
                "exec.shuffle_write_bytes", "exec.spill_bytes"):
        m[key] = mean(lambda lb, k=key: rest(k, lb))
    m["exec.slot_idle_s"] = mean(
        lambda lb: max(0.0, rest("exec.wall_s", lb) * cpus - rest("exec.executor_run_s", lb))
    )
    m["exec.gc_s"] = mean(lambda lb: passes[lb]["gc_s"])
    m["exec.peak_heap_mb"] = mean(lambda lb: passes[lb]["peak_heap_mb"])
    for mod in ("graph", "dedup", "similarity", "textstats"):
        m[f"operators.{mod}.s"] = mean(lambda lb, L=f"operators.{mod}": span(L, 0, lb))
        m[f"operators.{mod}.calls"] = mean(lambda lb, L=f"operators.{mod}": span(L, 1, lb))
    m["compat.calls"] = mean(lambda lb: span("compat", 1, lb))
    m["pyworker.cpu_s"] = mean(lambda lb: passes[lb]["pyworker_cpu_s"])
    m["pyworker.spawned"] = float(res["pyworker_spawned"])
    for key in ("streaming.queries", "streaming.batches", "streaming.batch_s",
                "streaming.idle_s", "streaming.state_rows"):
        m[key] = mean(lambda lb, k=key: stream(k, lb))
    traced = statistics.median(res["traced_walls"])
    untraced = statistics.median(res["untraced_walls"])
    m["trace.warm_pass_s"] = traced
    m["trace.untraced_warm_pass_s"] = untraced
    m["trace.overhead_ratio"] = traced / untraced - 1.0
    # Peak RSS swung 2.0-5.0 GB between heavy_ops runs on a 4-core
    # shared host (JVM heap growth): too wide for an end-to-end bound.
    m["proc.peak_rss_mb"] = peak_rss / 2**20
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: one workload, one run")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "dumbo_spark", "registry.py")):
        print(f"perfbench: no dumbo_spark package under {ROOT}", file=sys.stderr)
        return 2

    procs.become_subreaper()
    run = Run(args)
    # a driver-side SIGTERM must still stop every process and clean up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    load_before, steal_before = os.getloadavg(), procs.host_steal_s()
    try:
        from perfbench import datagen
        from perfbench.workloads import write_documents_text

        t0 = time.monotonic()
        os.makedirs(run.out)
        datagen.generate(run.data, WORKLOADS[args.workload]["sf"], args.seed)
        write_documents_text(run.data)
        t1 = time.monotonic()
        res, peak_rss = run.spawn()
        phases = {"datagen": t1 - t0, "worker": time.monotonic() - t1, **res["phases_s"]}
        if args.trace:
            metrics = per_layer(res, run.cpus, peak_rss)
            traces = os.path.join(ROOT, ".perfbench-traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(run.out, "spans.json"),
                        os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = end_to_end(res)
    except RunError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        run.cleanup()

    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": run.cpus, "driver_memory": DRIVER_MEMORY,
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "host_steal_s": procs.host_steal_s() - steal_before,
        "java": res.get("java_version"), "pyspark": res.get("pyspark_version"),
        "phases_s": phases,
        "peak_rss_mb": peak_rss / 2**20,
        "warm_passes": res["warm_passes"], "job_median_s": res["job_median_s"],
        "job_tail_pct": res["job_tail_pct"],
        "fail_ratio": res["failed"] / res["attempted"],
        "check": res["check"], "errors": res["errors"][:20],
    }
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
