"""Per-query measurement and session-conf A/B harness for the
optimization rounds.

For each named query: N timed noop-sink runs (median), each starting
from a cleared cache, plus Spark job/stage counts for the last run
(statusTracker deltas) — the job-count signal distinguishes "many tiny
actions" (iterative loops, eager checkpoints) from "one slow plan",
which decides where to optimize (guide §1: measure first; §2.4: remove
shuffles/passes). With no query names it runs a representative SUBSET.

A ``KEY=VALUE`` argument is a runtime SQL conf override applied to the
session before any query runs; a static conf (one that needs a JVM
restart) exits 2. Each invocation is a fresh JVM, so an A/B is one
invocation per variant, compared by the closing TOTAL line.

    python tools/profile_query.py name1 name2 ...
    BENCH_RUNS=3 python tools/profile_query.py dedup_recall_checked
    python tools/profile_query.py                       # SUBSET baseline
    python tools/profile_query.py spark.sql.join.preferSortMergeJoin=false
"""

from __future__ import annotations

import os
import statistics
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SUBSET = [
    "wordcount", "ngram_count", "group_sum", "group_stats", "join_inner",
    "pricing_summary", "top_revenue_nations", "product_profit",
    "events_sessionized", "moving_avg", "dedup_fuzzy", "knn_cosine",
    "weighted_median_price", "theil_sen_trend", "dedup_jaccard",
    "posting_lists", "basket_rules", "item_similarity",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    runs = int(os.environ.get("BENCH_RUNS", "3"))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    overrides = dict(a.split("=", 1) for a in sys.argv[1:] if "=" in a)
    names = [a for a in sys.argv[1:] if "=" not in a] or SUBSET

    from dumbo_spark.registry import QUERIES
    from dumbo_spark.session import get_session, time_noop

    spark = get_session("dumbo_spark_profile", cpus=cpus)
    for k, v in overrides.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            print(f"static conf {k} needs restart: {exc}", file=sys.stderr)
            sys.exit(2)
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm up

    tracker = spark.sparkContext.statusTracker()
    total = 0.0
    print(f"{'query':38s} {'median':>7s} {'runs':>24s} {'jobs':>5s} {'stages':>6s}")
    for name in names:
        if name not in QUERIES:
            print(f"{name:38s}  -- not registered --")
            continue
        build = partial(QUERIES[name].fn, spark, sf_dir)
        samples = [time_noop(spark, build) for _ in range(runs - 1)]
        j0 = set(tracker.getJobIdsForGroup(None))
        samples.append(time_noop(spark, build))
        new_jobs = set(tracker.getJobIdsForGroup(None)) - j0
        stages = sum(
            len(ji.stageIds)
            for ji in map(tracker.getJobInfo, new_jobs)
            if ji is not None
        )
        med = statistics.median(samples)
        total += med
        rstr = "/".join(f"{s:.2f}" for s in samples)
        print(f"{name:38s} {med:7.2f} {rstr:>24s} {len(new_jobs):5d} {stages:6d}")
    print(f"TOTAL {total:.3f}  overrides={overrides}")
    spark.stop()


if __name__ == "__main__":
    main()
