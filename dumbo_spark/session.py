"""SparkSession construction tuned for this engine.

Dumbo's equivalent is backend selection (dumbo/backends/__init__.py
``get_backend``: -hadoop => StreamingBackend else UnixBackend). Here a
single builder covers local test mode and cluster mode; scale posture
comes from AQE + Arrow + sane shuffle-partition defaults rather than
hand-set reducer counts (dumbo's -numreducetasks).
"""

from __future__ import annotations

import os
import tempfile
import time
import zipfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# Runtime SQL confs every query assumes. Applied both at session build
# time and defensively per-catalog-load (the driver harness hands us a
# session we didn't build).
RUNTIME_CONFS = {
    # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
    # parquet reader rejects; read as long and convert explicitly
    # (sources/catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic calendar math, matches DuckDB's naive timestamps
    "spark.sql.session.timeZone": "UTC",
    # parquet TIMESTAMP with isAdjustedToUTC=false (the round-3+
    # fixtures) reads natively as session-tz TimestampType instead of
    # TIMESTAMP_NTZ when NTZ inference is disabled. With the session tz
    # pinned to UTC above this is value-identical to a post-read cast,
    # but it keeps ts a plain scan column with native predicate pushdown
    # (row-group pruning). catalog.py keeps a cast fallback for sessions
    # where this conf wasn't applied before first read.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def get_session(app_name: str = "dumbo_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    local[...] for tests/bench; on a real cluster the master comes from
    spark-submit and this builder only contributes confs. All confs here
    are scale-posture, not correctness: AQE re-plans skewed shuffles at
    runtime, Arrow makes the Python boundary columnar, shuffle
    partitions sized for the local core count instead of the 200
    default.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # off by default (headless test/bench runs); tools/scale_class.py
        # sets SPARK_GRAFT_UI=true to read per-stage shuffle metrics from
        # the UI's REST API (the stable public surface for stage metrics
        # — AppStatusStore's scala signatures aren't py4j-callable)
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # A multi-hundred-query sweep in ONE JVM generates thousands of
        # whole-stage-codegen classes; at the default ~240m
        # ReservedCodeCacheSize the JIT code cache fills mid-sweep,
        # compilation is DISABLED, and every later query runs
        # interpreted — measured as a 3-10x cliff on the compute-heavy
        # tail of the closing bench (473s vs 205s total; the same tail
        # re-run in a fresh JVM was flat). Spark itself warns and asks
        # for exactly this pair of flags. Harmless for short sessions.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing",
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_shipped_apps: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make dumbo_spark importable on executor Python workers.

    UDF closures (compat veneer, multimodal extractors) pickle by
    reference to this package. The PYTHONPATH export in __init__ only
    helps if the package was imported before the JVM started — a host
    application that builds its SparkSession first would still get
    ModuleNotFoundError on workers. addPyFile is ordering-independent:
    it propagates to already-running executors with the next task set.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _shipped_apps:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(tempfile.gettempdir(), "dumbo_spark_pyfiles.zip")
    tmp = f"{zpath}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)
    _shipped_apps.add(app_id)


def release_persistent_rdds(spark: SparkSession) -> int:
    """Unpersist EVERY persisted RDD in the session — including
    localCheckpoint blocks, which ``spark.catalog.clearCache()`` does
    NOT touch (it drops cached plans only). The iterative operators
    (connected_components, pagerank, k-core/k-truss) leave their
    per-round label checkpoints pinned until the lazy py4j detach +
    JVM GC get around to them; in a long shared-session sweep those
    blocks accumulate executor memory and inflate later queries
    (measured: an iterative query ran 4x its fresh-process time after
    two others in the same session). Returns the number released.
    Call between queries whose timing or memory should be isolated.

    Lives here (not dumbo_spark.testing) so bench-only environments
    without duckdb/pandas can import it — it is a runtime utility, not
    an oracle-harness helper (ADVICE r12).
    """
    jrdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for jrdd in jrdds:
        jrdd.unpersist()
    return len(jrdds)


def time_noop(spark: SparkSession, build: Callable[[], DataFrame]) -> float:
    """Seconds to run one job from input to complete result: ``build()``
    (including any eager driver work inside it) plus a write to the
    ``noop`` sink, which executes the whole plan and discards the rows.
    Unlike ``count()``, the noop write cannot let Catalyst prune the
    final steps (a left join to a unique-keyed, unreferenced right side
    vanishes under count). Take a row count in the same pass with
    ``df.observe(Observation(), F.count(F.lit(1)))`` inside ``build``.

    Afterwards, untimed and even if the run failed, the cache is
    cleared and every persistent RDD released, so each timed run starts
    cold: without the reset, runs 2-3 of a median read run 1's cache
    (it hid containment_join's O(tokens^2) cache build for a round).
    """
    try:
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    finally:
        spark.catalog.clearCache()
        release_persistent_rdds(spark)


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Apply runtime-settable confs + package shipping to a session we
    didn't build (the driver harness hands us one)."""
    for k, v in RUNTIME_CONFS.items():
        spark.conf.set(k, v)
    _ship_package(spark)
