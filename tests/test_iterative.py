"""The iterative graph operators (connected_components, pagerank) and
the staging-and-round loop they share (operators/_checkpoint.py):
fused rounds per job leave values unchanged, the max_iter valve counts
rounds, and every exit path releases what the loop pinned."""

import pytest

from dumbo_spark.operators import _checkpoint, dedup
from dumbo_spark.session import release_persistent_rdds
from tests.test_extensions import _py_pagerank


def test_checkpoint_helpers_shared_not_duplicated():
    """graph.py and dedup.py must use the SAME helper objects (promoted
    to operators/_checkpoint.py) — not a cross-module private import or
    a copy that could drift."""
    from dumbo_spark.operators import graph

    assert graph._release_local_checkpoint is _checkpoint._release_local_checkpoint
    assert graph.Staging is _checkpoint.Staging
    assert dedup.Staging is _checkpoint.Staging


def test_connected_components_chain_values_identical(spark):
    """Rounds fused per staging job are a pure scheduling change: on a
    graph with a deep path (multi-job convergence), a triangle, and an
    isolated island every label is its component's minimum."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),  # path, diam 6
         (20, 21), (21, 22), (22, 20),                     # triangle
         (30, 31)],                                        # island
        "doc_a long, doc_b long",
    )
    got = {(r.doc_id, r.cluster_id) for r in dedup.connected_components(edges).collect()}
    assert got == (
        {(i, 1) for i in range(1, 8)}
        | {(20, 20), (21, 20), (22, 20)}
        | {(30, 30), (31, 30)}
    )


def test_connected_components_chain_keeps_nonconvergence_raise(spark):
    """The max_iter safety valve counts PROPAGATION ROUNDS, not jobs:
    a diameter-8 path still raises at max_iter=3 (3 rounds applied:
    jobs of 2+1), and converges with the default. The raise releases
    every checkpoint the run pinned."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "doc_a long, doc_b long"
    )
    release_persistent_rdds(spark)  # isolate from other tests' blocks
    pinned_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(edges, max_iter=3)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == pinned_before
    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(edges).collect()
    }
    assert got == {(i, 1) for i in range(1, 10)}


def test_pagerank_chain_values_identical(spark):
    """pagerank fuses iterations into one lazy plan per staging job;
    the IEEE arithmetic sequence is the pure-Python reference's, so
    ranks match it (odd max_iter exercises the short final job). The
    tolerance only covers partial-agg summation order."""
    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (10, 11)]
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    for iters in (1, 5):
        got = {r.doc_id: r.rank for r in dedup.pagerank(edges, max_iter=iters).collect()}
        want = _py_pagerank(pairs, max_iter=iters)
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] - want[v]) < 1e-12, (iters, v)
