"""Contracts of the graph-prep functions in ``operators/edges.py``.

One fixture covers every case the contracts distinguish: a duplicate
edge (1, 2), its reverse (2, 1), a self-loop on the connected vertex 3
and a vertex 9 whose only edge is a self-loop."""

from __future__ import annotations

import re

import pytest

from cim_framework_graph_partitioning_spark.operators.edges import (
    probe_edges, undirected_pairs, vertex_set, weighted_pairs,
)

EDGES = [(1, 2, 1.0), (1, 2, 2.0), (2, 1, 4.0), (2, 3, 1.0), (3, 3, 5.0), (9, 9, 1.0)]
PAIRS = [(1, 2), (2, 1), (2, 3), (3, 2)]


@pytest.fixture
def edges(spark):
    return spark.createDataFrame(EDGES, "src_id long, dst_id long, weight double")


def test_vertex_set_keeps_self_loop_only_vertices(edges):
    # MIS and SCC emit a self-loop-only vertex as isolated
    assert vertex_set(edges).columns == ["id"]
    assert sorted(r.id for r in vertex_set(edges).collect()) == [1, 2, 3, 9]


def test_undirected_pairs_collapse_duplicates_and_drop_self_loops(edges):
    und = undirected_pairs(edges)
    assert und.columns == ["src_id", "dst_id"]
    assert sorted(tuple(r) for r in und.collect()) == PAIRS


def test_probe_edges_hold_the_same_pairs(edges):
    probe = probe_edges(edges, 3)
    assert probe.columns == ["e_v", "e_u"]
    assert sorted(tuple(r) for r in probe.collect()) == PAIRS


def test_weighted_pairs_sum_both_directions(edges):
    got = sorted(tuple(r) for r in weighted_pairs(edges).collect())
    assert got == [(1, 2, 7.0), (2, 1, 7.0), (2, 3, 1.0), (3, 2, 1.0)]


def test_probe_edges_take_one_exchange_by_the_probe_key(edges):
    plan = probe_edges(edges, 3)._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"\bExchange (\w+\([^)]*\))", plan)
    assert len(exchanges) == 1, plan
    assert re.fullmatch(r"hashpartitioning\(e_u#\d+L?, 3\)", exchanges[0]), plan
