"""Lineage truncation for the iterative operators: one staging object
and one round loop.

connected_components and pagerank (operators/dedup.py) and ktruss_edges
(operators/graph.py) replace a per-round table every iteration — dumbo's
repeated ``Job.additer`` passes, each writing a temp path the next pass
reads (SURVEY P6). :class:`Staging` makes the one decision of where the
frames an operator reuses across rounds live, and
:meth:`Staging.iterate` is the round loop they all share.

STAGING AND LOOP CONTRACT.

- **Local (``durable_dir=None``).** ``stage`` is a ``localCheckpoint`` —
  lazy, so the first full action over the frame materializes it in the
  same job. ``stage_partitioned`` (the loop-invariant adjacency) is
  ``repartition(n, key).persist()`` plus a count: the cached plan keeps
  its hash partitioning, which a checkpoint's LogicalRDD loses under
  AQE (the per-round join would re-shuffle the edge side every round).
  Executor-memory blocks: fast, but an executor loss fails the query.
- **Durable (``durable_dir`` set).** The run claims a private ``run-N``
  directory under ``durable_dir`` (:func:`_claim_run_dir`, so two runs
  sharing it never collide), and every staged frame is a parquet write
  and read-back at ``run-N/<name>``. Rounds alternate between
  ``<name>_0`` and ``<name>_1``; ``result(..., name=...)`` writes the
  returned frame to its own ``run-N/<name>`` so no later round
  overwrites its files. The run survives executor loss.
- **Lifetime.** ``Staging`` is a context manager that tracks every
  frame it pinned. The loop releases each stale round as soon as the
  next one is materialized, and leaving the ``with`` block releases the
  rest on every exit path — normal return, early return on empty input,
  a raised error — except the backing of the frame handed to
  :meth:`Staging.result`, which lives as long as the caller holds the
  result (or until ``session.release_persistent_rdds``).
- **Rounds.** ``iterate`` fuses ``rounds_per_job`` lazy rounds into one
  plan per staged frame, so the driver pays one staging action per
  ``rounds_per_job`` rounds (locally, the optional convergence probe
  materializes the lazy checkpoint in that same job). ``max_iter``
  counts rounds, not jobs; the short final chunk applies the
  remainder. The caller keeps its own non-convergence policy.

Promoted out of dedup.py in r13 (ADVICE r12: graph.py importing an
underscore-private symbol from dedup.py coupled the modules and would
break silently on a rename).

LAZY CORPUS-WIDTH CHECKPOINT CONTRACT (ADVICE r15). Many multi-branch
operators pin a shared subtree with ``localCheckpoint(eager=False)``
so N consuming branches evaluate the tokenize/fingerprint pass once
instead of N times (guide §2.4). Two caveats apply to EVERY such site,
not just the iterative ones above:

- **Storage lifetime.** The checkpoint's blocks live in executor
  storage until the returned DataFrame is garbage-collected (or the
  caller runs ``session.release_persistent_rdds``, which the bench and
  the test harness both do between queries). A long-lived host
  application that holds many results should release explicitly;
  within one query's evaluation the pin is exactly the point.
- **Fault tolerance.** ``localCheckpoint`` has NO recompute path: an
  executor loss after materialization fails the query (it cannot be
  rebuilt from lineage). That is the right local-mode/bench trade —
  one evaluation instead of N full corpus passes — but a cluster run
  where executor loss must be survivable should use reliable
  checkpoints (``spark.checkpoint.dir``) or persist-to-storage
  instead; the operators take DataFrames, so callers can materialize
  upstream and pass the re-read frame if they need durability.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Callable

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)

#: Set after the first failed eager-release attempt so the warning
#: fires once per process, not once per iteration round.
_release_fallback_warned = False


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint'd DataFrame's storage blocks NOW.

    The iterative loops replace their label/rank table every round;
    the previous round's checkpoint becomes garbage the moment the new
    one is materialized, but its blocks stay pinned until the lazy
    py4j detach + JVM GC get around to them — in a long shared session
    (the driver's correctness harness, a user notebook) those stale
    rounds accumulate executor memory (measured: a 4× slowdown of an
    iterative query after two others ran in the same session).
    Best-effort by design: it reaches the plan's LogicalRDD through
    internal accessors, so any API drift just falls back to GC-timed
    release rather than failing the query — but that fallback is now
    OBSERVABLE (VERDICT r12 Next #6): the first failure logs a warning
    so a Spark upgrade that silently degrades every iterative operator
    back to GC-timed release shows up in bench logs instead of only as
    unexplained memory inflation.
    """
    global _release_fallback_warned
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as exc:  # noqa: BLE001 — documented best-effort path
        if not _release_fallback_warned:
            _release_fallback_warned = True
            _log.warning(
                "eager localCheckpoint release failed (%s: %s); iterative "
                "operators fall back to GC-timed block release for this "
                "process — expect shared-session memory inflation",
                type(exc).__name__,
                exc,
            )
        else:
            _log.debug("eager localCheckpoint release failed again: %s", exc)


def _claim_run_dir(durable_dir: str) -> str:
    """Reserve a fresh ``run-N`` subdirectory under ``durable_dir``.

    Atomic via ``os.makedirs(exist_ok=False)`` for local/posix paths;
    two invocations sharing a durable_dir get disjoint scratch trees,
    so one run can never overwrite files backing another run's lazily
    evaluated result.

    Local filesystems only: for URI paths (hdfs://, s3a://, ...) a
    driver-local makedirs would create a stray ``./hdfs:/...`` dir and
    provide zero mutual exclusion on the real filesystem, so those are
    rejected — callers on shared storage must pass distinct
    durable_dirs per run (directory-create is not a lock on object
    stores, and multi-driver HDFS setups need a real coordinator).
    """
    if "://" in durable_dir:
        raise ValueError(
            f"_claim_run_dir requires a local path, got {durable_dir!r}; "
            "on shared filesystems pass a distinct durable_dir per run"
        )
    base = durable_dir.rstrip("/")
    n = 0
    while True:
        candidate = f"{base}/run-{n}"
        try:
            os.makedirs(candidate, exist_ok=False)
            return candidate
        except FileExistsError:
            n += 1


class Staging:
    """Where an iterative operator keeps the frames it reuses across
    rounds: executor-local when ``durable_dir`` is None, parquet under a
    claimed ``run-N`` directory otherwise. The contract (lifetime,
    durable layout, release on every exit path) is the module
    docstring's."""

    def __init__(self, durable_dir: str | None = None) -> None:
        self._run_dir = None if durable_dir is None else _claim_run_dir(durable_dir)
        # (frame, how to free it) for everything pinned and not yet freed
        self._pinned: list[tuple[DataFrame, Callable[[DataFrame], object]]] = []

    def __enter__(self) -> Staging:
        return self

    def __exit__(self, *exc_info) -> None:
        while self._pinned:
            df, free = self._pinned.pop()
            free(df)

    def stage(self, df: DataFrame, name: str, eager: bool = False) -> DataFrame:
        """Truncate ``df``'s lineage: a (lazy unless ``eager``)
        localCheckpoint, or ``run-N/<name>`` parquet."""
        if self._run_dir is None:
            return self._pin(df.localCheckpoint(eager=eager), _release_local_checkpoint)
        return self._round_trip(df, name)

    def stage_partitioned(self, df: DataFrame, name: str, key: str) -> DataFrame:
        """Materialize a loop-invariant frame hash-partitioned by the
        per-round lookup ``key`` (local), or as ``run-N/<name>`` parquet."""
        if self._run_dir is None:
            n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
            out = self._pin(df.repartition(n, key).persist(), DataFrame.unpersist)
            out.count()
            return out
        return self._round_trip(df, name)

    def release(self, df: DataFrame | None) -> None:
        """Free a frame this object pinned now (no-op for anything else)."""
        for i, (pinned, free) in enumerate(self._pinned):
            if pinned is df:
                del self._pinned[i]
                free(pinned)
                return

    def result(
        self, df: DataFrame, backing: DataFrame, name: str | None = None
    ) -> DataFrame:
        """Hand ``df`` out as the operator's result: ``backing`` (the
        staged frame it reads) stays pinned past exit; a durable run
        given ``name`` re-materializes ``df`` at ``run-N/<name>``."""
        self._pinned = [p for p in self._pinned if p[0] is not backing]
        if self._run_dir is None or name is None:
            return df
        return self._round_trip(df, name)

    def iterate(
        self,
        step: Callable[[DataFrame | None], DataFrame],
        state: DataFrame | None,
        *,
        max_iter: int,
        rounds_per_job: int,
        name: str,
        probe: Callable[[DataFrame], bool] | None = None,
    ) -> tuple[DataFrame | None, bool]:
        """Apply ``step`` ``max_iter`` times, staging every
        ``rounds_per_job`` lazy rounds as ``<name>_0``/``<name>_1``.

        ``probe(staged)`` returns True at the fixpoint and must be a
        full action over the frame: it is what materializes the lazy
        checkpoint. With no probe each round is checkpointed eagerly.
        Returns ``(state, converged)``; ``state`` is ``None`` only when
        the initial state was ``None`` and ``max_iter`` is 0.
        """
        rounds = jobs = 0
        while rounds < max_iter:
            frame = state
            for _ in range(min(rounds_per_job, max_iter - rounds)):
                frame = step(frame)
                rounds += 1
            staged = self.stage(frame, f"{name}_{jobs % 2}", eager=probe is None)
            jobs += 1
            converged = probe is not None and probe(staged)
            self.release(state)  # the staged round replaced it
            state = staged
            if converged:
                return state, True
        return state, False

    def _pin(self, df: DataFrame, free: Callable[[DataFrame], object]) -> DataFrame:
        self._pinned.append((df, free))
        return df

    def _round_trip(self, df: DataFrame, name: str) -> DataFrame:
        path = f"{self._run_dir}/{name}"
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)
