"""The benchmark child process. Started by ``run.py`` as the leader of
its own session, it writes its numbers to ``--result``:

1. set-up: import the registry, build the session, answer a trivial
   action (``setup_s``);
2. one cold pass, the workload's fixed warm-up passes, then
   round(seconds / pass_s) timed warm passes;
3. one untimed output check;
4. teardown: stop streaming queries, stop the session.

With ``--trace 1`` the layers are instrumented from outside
(perfbench/trace.py) and warm passes alternate traced and untraced, so
the tracing overhead is measured in the same process.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback

# the checkout root, so that dumbo_spark and perfbench import from it
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procs  # noqa: E402
from perfbench.workloads import WORKLOADS, jobs_for, warm_pass_count  # noqa: E402


def _tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile of ``samples``
    that still has at least ten samples beyond it; the maximum when
    there are too few samples for that."""
    s = sorted(samples)
    rank = len(s) - 10 if len(s) > 10 else len(s)
    return s[rank - 1], 100.0 * rank / len(s)


class Runner:
    def __init__(self, args, spark, tracer=None, probe=None, sampler=None) -> None:
        from dumbo_spark import session

        self.args = args
        self.spark = spark
        self.session = session
        self.tracer = tracer  # these three are set in a traced run only
        self.probe = probe
        self.sampler = sampler
        self.jobs = jobs_for(args.workload)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.released: dict[str, int] = {}  # pass label -> RDDs unpersisted
        self.sid = os.getsid(0)

    def order(self, pass_idx: int) -> list:
        """The cold pass (0) runs the roster as listed, so the job that
        pays the session's first-use costs (class loading, JIT) is the
        same on every run; the seed orders every later pass."""
        jobs = list(self.jobs)
        if pass_idx:
            random.Random(f"{self.args.seed}:{pass_idx}").shuffle(jobs)
        return jobs

    def _run_job(self, job, label: str, traced: bool) -> None:
        a, sc, tr = self.args, self.spark.sparkContext, self.tracer
        if tr is not None:
            tr.scope = f"{label}:{job.name}"
            sc.setJobGroup(f"{label}:{job.name}:build", job.name)
        if traced:
            df = tr.call("queries.build", job.name, job.build, self.spark, a.sf_dir, a.out_dir)
        else:
            df = job.build(self.spark, a.sf_dir, a.out_dir)
        if df is None:
            return
        if traced:
            tr.call("plans.plan", job.name, lambda: df._jdf.queryExecution().executedPlan())
        if tr is not None:
            sc.setJobGroup(f"{label}:{job.name}:exec", job.name)
        df.write.format("noop").mode("overwrite").save()

    def run_pass(self, pass_idx: int, label: str, traced: bool = False):
        """One pass over every job, in ``order(pass_idx)``. Returns
        (wall seconds, {job: latency seconds})."""
        if self.tracer is not None:
            self.tracer.enabled = traced
        lat: dict[str, float] = {}
        t_pass = time.perf_counter()
        for job in self.order(pass_idx):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                self._run_job(job, label, traced)
                lat[job.name] = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 — counted, reported
                self.failed += 1
                self.errors.append(f"{label}:{job.name}: {exc!r}"[:500])
            self.spark.catalog.clearCache()
            n = self.session.release_persistent_rdds(self.spark)
            self.released[label] = self.released.get(label, 0) + n
        if self.tracer is not None:
            self.tracer.enabled = True
            self.tracer.scope = "between"
        return time.perf_counter() - t_pass, lat

    def check_outputs(self) -> dict[str, str]:
        """Run every job once more and compare its result with its DuckDB
        oracle (rows-only for sketch jobs). Untimed."""
        from dumbo_spark.testing import compare_frames, duckdb_connect

        alter = os.environ.get("PERFBENCH_ALTER_JOB")
        status: dict[str, str] = {}
        con = duckdb_connect(self.args.sf_dir)
        try:
            for job in sorted(self.jobs, key=lambda j: j.name):
                self.attempted += 1
                try:
                    pdf = job.result(self.spark, self.args.sf_dir, self.args.out_dir).toPandas()
                    if job.name == alter:  # fault injection for the self-test
                        pdf = pdf.iloc[1:] if len(pdf) else pdf.iloc[:0]
                    if job.oracle is None:
                        ok, why = len(pdf) > 0, f"rows-only: {len(pdf)} rows"
                    else:
                        res = compare_frames(job.name, pdf, con.execute(job.oracle).fetch_df())
                        ok, why = res.ok, res.report()
                except Exception as exc:  # noqa: BLE001
                    ok, why = False, f"error: {exc!r}"[:500]
                status[job.name] = "ok" if ok else why
                if not ok:
                    self.failed += 1
                    self.errors.append(f"check:{job.name}: {why}"[:500])
                self.spark.catalog.clearCache()
                self.session.release_persistent_rdds(self.spark)
        finally:
            con.close()
        return status

    def measure(self) -> dict:
        a, spec = self.args, WORKLOADS[self.args.workload]
        traced = self.tracer is not None
        out: dict = {}
        t_start = time.perf_counter()
        if traced:
            c0 = self.probe.counters()
        out["cold_pass_s"], _ = self.run_pass(0, "cold", traced)
        if traced:
            c1 = self.probe.counters()
            out["cold_jvm"] = {k: c1[k] - c0[k] for k in c1}
        for i in range(spec["warmup_passes"]):
            self.run_pass(1 + i, f"warmup{i}", traced)
        t_warm = time.perf_counter()

        warm, cpu, lat_samples, traced_passes = [], [], [], []
        per_job: dict[str, list[float]] = {}
        traced_walls, untraced_walls = [], []
        n_warm = warm_pass_count(a.workload, a.seconds)
        if traced:  # alternate traced / untraced passes
            n_warm += n_warm % 2
        for k in range(n_warm):
            trace_this = traced and k % 2 == 0
            if trace_this:
                self.probe.reset_peak_heap()
                c0 = self.probe.counters()
                w0 = self.sampler.cpu_s()
            cpu0 = procs.cpu_seconds(procs.session_pids(self.sid))
            wall, lat = self.run_pass(1 + spec["warmup_passes"] + k, f"warm{k}", trace_this)
            cpu.append(procs.cpu_seconds(procs.session_pids(self.sid)) - cpu0)
            warm.append(wall)
            lat_samples.extend(lat.values())
            for name, v in lat.items():
                per_job.setdefault(name, []).append(v)
            if trace_this:
                c1 = self.probe.counters()
                d = {n: c1[n] - c0[n] for n in c1}
                d["peak_heap_mb"] = self.probe.peak_heap_mb()
                d["pyworker_cpu_s"] = self.sampler.cpu_s() - w0
                d["label"] = f"warm{k}"
                traced_passes.append(d)
                traced_walls.append(wall)
            elif traced:
                untraced_walls.append(wall)

        out["warm_passes"] = len(warm)
        out["warm_pass_s"] = statistics.median(warm)
        out["warm_cpu_s"] = statistics.median(cpu)
        out["job_p50_s"] = statistics.median(lat_samples)
        out["job_tail_s"], out["job_tail_pct"] = _tail(lat_samples)
        out["job_median_s"] = {n: statistics.median(v) for n, v in sorted(per_job.items())}
        if traced:
            out["traced_walls"], out["untraced_walls"] = traced_walls, untraced_walls
            out["traced_passes"] = traced_passes
        t_check = time.perf_counter()
        out["check"] = self.check_outputs()
        out["phases_s"] = {"cold_and_warmup": t_warm - t_start, "warm": t_check - t_warm,
                           "check": time.perf_counter() - t_check}
        return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    args = ap.parse_args()
    spawned_at = float(os.environ["PERFBENCH_SPAWNED_AT"])  # parent's monotonic clock

    result: dict = {}
    tracer = probe = sampler = listener = spark = None
    try:
        t0 = time.perf_counter()
        import dumbo_spark.registry  # noqa: F401 — the import being timed

        result["registry.import_s"] = time.perf_counter() - t0
        if args.trace:
            from perfbench import trace

            tracer = trace.Tracer()
            tracer.install()
            sampler = trace.WorkerSampler(os.getsid(0))
            sampler.start()
        from dumbo_spark import session

        spark = session.get_session("perfbench", args.cpus)
        spark.range(1).count()
        result["setup_s"] = time.monotonic() - spawned_at
        if args.trace:
            probe = trace.JvmProbe(spark)
            listener = trace.make_stream_listener(tracer)
            spark.streams.addListener(listener)
        runner = Runner(args, spark, tracer, probe, sampler)
        result.update(runner.measure())
        result["attempted"], result["failed"] = runner.attempted, runner.failed
        result["errors"] = runner.errors
        result["released"] = runner.released
        result["java_version"] = spark._jvm.java.lang.System.getProperty("java.version")
        result["pyspark_version"] = spark.version
        if args.trace:
            labels = ["cold"] + [p["label"] for p in result["traced_passes"]]
            result["layers"] = {lb: dict(tracer.layer_totals(lb + ":")) for lb in labels}
            result["setup_layers"] = dict(tracer.layer_totals("setup"))
            result["streaming"] = {lb: dict(listener.totals(lb + ":")) for lb in labels}
            result["rest"] = {k: dict(v) for k, v in trace.rest_exec_metrics(spark).items()}
            result["pyworker_spawned"] = len(sampler.seen)
            tracer.dump(os.path.join(args.out_dir, "spans.json"))
    except BaseException:  # noqa: BLE001 — reported to the parent
        result["fatal"] = traceback.format_exc()[-4000:]
    finally:
        try:
            if sampler is not None:
                sampler.halt()
            if spark is not None:
                for q in spark.streams.active:
                    q.stop()
                spark.stop()
        except BaseException:  # noqa: BLE001
            result["fatal"] = traceback.format_exc()[-4000:]
        with open(args.result, "w") as fh:
            json.dump(result, fh)


if __name__ == "__main__":
    main()
