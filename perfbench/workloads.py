"""Workload rosters: which dumbo-style jobs a pass runs, and how each
job's output is checked.

A timed job runs the way a user runs it: build the result and drive it
to completion. Registered queries end in the noop sink; the compat
program writes its own parquet output. ``result`` returns the
DataFrame the output check compares against the job's DuckDB oracle;
``oracle`` is None for sketch jobs, which get a rows-only check.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

# Sub-second dumbo-library jobs: per-job fixed cost dominates
# (plan build, Catalyst, codegen, task scheduling).
CORE_SMALL = (
    "group_multi_sum",        # lib.sumsreducer
    "bottomk_per_group",      # lib.nsmallestreducer
    "join_left",              # lib.JoinReducer
    "except_keys",            # set ops
    "ntile_quartiles_by_segment",  # windows
    "events_session_window",  # event time
    "parse_props_json",       # schema-on-read
    "doc_token_stats",        # text
    "nation_trade_volume",    # TPC-H-style aggregate
    "approx_percentiles",     # sketch, rows-only check
)

# Eager-driver, executor-heavy and Python-boundary jobs: LSH dedup, ANN
# through an Arrow UDF, graph, a true streaming replay and a classic
# dumbo program run through the compat veneer that writes parquet
# output. The IVF/PQ ANN jobs are left out: their DuckDB oracles take
# 4-14 s each at sf0.01, longer than the rest of the output check.
HEAVY_OPS = (
    "dedup_jaccard",
    "knn_cosine_lsh",
    "copurchase_triangles",
    "streaming_dedup_keys",
    "compat_run_wordcount",
)

# sf: input scale. warmup_passes: untimed passes after the cold one.
# pass_s: nominal warm-pass seconds; a run makes round(seconds / pass_s)
# warm passes, a count fixed by the arguments alone so that every run
# of a workload samples the same number of jobs.
WORKLOADS = {
    "core_small": {"sf": 0.01, "jobs": CORE_SMALL, "warmup_passes": 1, "pass_s": 3.3},
    "heavy_ops": {"sf": 0.01, "jobs": HEAVY_OPS, "warmup_passes": 0, "pass_s": 5.0},
}


def warm_pass_count(workload: str, seconds: float) -> int:
    return max(2, round(seconds / WORKLOADS[workload]["pass_s"]))


@dataclass(frozen=True)
class Job:
    name: str
    # (spark, sf_dir, out_dir) -> DataFrame to drive into the noop sink,
    # or None when the job completed on its own (it wrote its output)
    build: Callable
    # (spark, sf_dir, out_dir) -> DataFrame the output check compares
    result: Callable
    oracle: str | None


# ── the classic dumbo wordcount, launched through compat.run ─────────────


def _wc_mapper(key, value):
    for word in value.split():
        yield word, 1.0


def _wc_reducer(key, values):
    yield key, float(sum(values))


def documents_text_path(sf_dir: str) -> str:
    return os.path.join(sf_dir, "documents.txt")


def write_documents_text(sf_dir: str) -> None:
    """One document per line: the compat program's text input."""
    import pyarrow.parquet as pq

    texts = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["text"])
    with open(documents_text_path(sf_dir), "w") as fh:
        for t in texts.column("text").to_pylist():
            fh.write(t + "\n")


def _compat_run(spark, sf_dir: str, out_dir: str) -> None:
    from dumbo_spark.compat.run import run

    run(
        _wc_mapper, _wc_reducer, combiner=_wc_reducer,
        output_schema="word string, cnt double",
        argv=["-input", documents_text_path(sf_dir), "-inputformat", "text",
              "-output", os.path.join(out_dir, "compat_run_wordcount")],
    )


def _compat_run_result(spark, sf_dir: str, out_dir: str):
    _compat_run(spark, sf_dir, out_dir)
    return spark.read.parquet(os.path.join(out_dir, "compat_run_wordcount"))


_COMPAT_RUN_ORACLE = """
SELECT word, CAST(COUNT(*) AS DOUBLE) AS cnt
FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
"""


def jobs_for(workload: str) -> list[Job]:
    from dumbo_spark.registry import QUERIES

    out = []
    for name in WORKLOADS[workload]["jobs"]:
        if name == "compat_run_wordcount":
            out.append(Job(name, _compat_run, _compat_run_result, _COMPAT_RUN_ORACLE))
            continue
        q = QUERIES[name]
        query = lambda spark, sf, _out, fn=q.fn: fn(spark, sf)  # noqa: E731
        out.append(Job(name, query, query, q.oracle))
    return out
