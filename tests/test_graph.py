"""Connected-components operator (operators/graph.py): correctness on
known topologies, multi-round convergence on chains, and the cluster
assignment surface used by the ``dedup_clusters`` registry query."""

from __future__ import annotations

import pytest

from web_scraper_v1_spark.operators.graph import (
    cluster_assignments,
    connected_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_two_components_and_star(spark):
    # component {1,2,3} (star around 1) and {10, 11}
    e = _edges(spark, [(1, 2), (1, 3), (10, 11)])
    got = {
        (r.id, r.label) for r in connected_components(e).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_chain_needs_multiple_rounds(spark):
    # a path 9-8-7-...-1: min-label propagation moves the min one hop per
    # round, so this exercises the iteration + convergence logic hard
    e = _edges(spark, [(i, i + 1) for i in range(1, 10)])
    got = {(r.id, r.label) for r in connected_components(e).collect()}
    assert got == {(i, 1) for i in range(1, 11)}


def test_edge_direction_irrelevant(spark):
    # same component regardless of (src, dst) orientation / duplicates
    got = {
        (r.id, r.label)
        for r in connected_components(
            _edges(spark, [(5, 2), (2, 5), (2, 9)])
        ).collect()
    }
    assert got == {(2, 2), (5, 2), (9, 2)}


def test_int64_wrapping_label_sum_does_not_fake_convergence(spark):
    # Crafted so the ROUND-1 label-sum decrease is exactly 2^64: an int64
    # convergence sum would wrap to the same value as the pre-round sum
    # (initial sum = 2^64 + 11 wraps to 11; round-1 sum = 11) and declare
    # convergence while node (2^63 - 1) still carries label 5, not 0.
    # The decimal(38,0) sum sees 2^64 + 11 != 11 and keeps iterating.
    big1, big2 = (1 << 63) - 1, (1 << 63) - 2
    e = _edges(spark, [(0, 5), (5, big1), (1, big2), (2, 6)])
    got = {(r.id, r.label) for r in connected_components(e).collect()}
    assert got == {
        (0, 0), (5, 0), (big1, 0),
        (1, 1), (big2, 1),
        (2, 2), (6, 2),
    }


def test_max_iter_raises(spark):
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            _edges(spark, [(i, i + 1) for i in range(1, 8)]), max_iter=2
        )


def test_cluster_assignments_sizes_and_keep(spark):
    e = _edges(spark, [(1, 2), (2, 3), (10, 11)])
    rows = {r.doc_id: r for r in cluster_assignments(e).collect()}
    assert {d: r.cluster_id for d, r in rows.items()} == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
    }
    assert {d: r.cluster_size for d, r in rows.items()} == {
        1: 3, 2: 3, 3: 3, 10: 2, 11: 2,
    }
    assert {d for d, r in rows.items() if r.keep} == {1, 10}
