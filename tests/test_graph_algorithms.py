from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from cim_framework_graph_partitioning_spark.operators.components import (
    connected_components,
)
from cim_framework_graph_partitioning_spark.operators.edges import derive_edges
from cim_framework_graph_partitioning_spark.operators.labelprop import (
    label_propagation,
)
from cim_framework_graph_partitioning_spark.operators.pagerank import pagerank
from cim_framework_graph_partitioning_spark.operators.triangles import (
    triangle_count,
    triangles_per_vertex,
)
from cim_framework_graph_partitioning_spark.sources.corpus import synthesize_corpus

from .util_oracles import cc_oracle, lpa_oracle, pagerank_oracle, triangle_oracle


def _edges_df(spark, triples):
    return spark.createDataFrame(
        [(int(u), int(v), float(w)) for u, v, w in triples],
        "src_id long, dst_id long, weight double",
    )


def _random_edges(seed, n=40, m=120, weighted=True):
    rng = random.Random(seed)
    out = set()
    while len(out) < m:
        u, v = rng.randrange(n), rng.randrange(n)
        if u != v:
            out.add((u, v))
    return [(u, v, float(rng.randint(1, 3)) if weighted else 1.0) for u, v in sorted(out)]


@pytest.mark.parametrize(
    "mode,tol", [("dataframe", 1e-6), ("csr", 1e-4)]
)
def test_pagerank_matches_numpy_oracle(spark, mode, tol):
    """north-rule parity: per-vertex scores allclose 1e-6 (dataframe path
    runs the full 1e-6 convergence; CSR path same semantics at 1e-4 to
    keep the suite fast — both compare against the identical oracle)."""
    triples = _random_edges(1)
    ranks, steps = pagerank(spark, _edges_df(spark, triples), tol=tol, mode=mode)
    got = {r.id: r.rank for r in ranks.collect()}
    want = pagerank_oracle(triples, tol=tol)
    assert set(got) == set(want)
    assert steps > 1
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-6, abs_tol=1e-6), k
    # rank mass conservation
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)


def test_pagerank_salted_matches_plain(spark):
    triples = _random_edges(3)
    r1, _ = pagerank(spark, _edges_df(spark, triples), salted=False, tol=1e-4)
    r2, _ = pagerank(spark, _edges_df(spark, triples), salted=True, tol=1e-4)
    g1 = {r.id: r.rank for r in r1.collect()}
    g2 = {r.id: r.rank for r in r2.collect()}
    for k in g1:
        assert math.isclose(g1[k], g2[k], abs_tol=1e-9)


def test_pagerank_corpus_scale_matches_numpy_oracle(spark):
    """Per-vertex parity at a LARGER fixture (5k-file synthesized corpus,
    power-law hubs) against the dense numpy oracle — north rule allclose
    1e-6 beyond toy graphs (NOTES_ROUND2 #5)."""
    from cim_framework_graph_partitioning_spark.sources.corpus import (
        synthesize_corpus,
    )

    files = synthesize_corpus(spark, n_files=5000, n_repos=50, seed=42)
    edges = derive_edges(files).edges.persist()
    triples = [(r.src_id, r.dst_id, r.weight) for r in edges.collect()]
    ranks, _ = pagerank(spark, edges, tol=1e-8, max_iter=100)
    got = {r.id: r.rank for r in ranks.collect()}
    want = pagerank_oracle(triples, tol=1e-8, max_iter=100)
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=0, abs_tol=1e-6), k
    edges.unpersist()


def test_pagerank_csr_sliced_blocks_match_plain(spark, monkeypatch):
    """CSR adjacency rows split into bounded slices (the row-size bound:
    at most csr_slice_edges entries per (src_id, slice) row) — with a
    pathological 7-edge bound every source of degree > 7 spans several
    rows, a 25-out-edge hub packs into ceil(25/7) = 4 of them, and the
    ranks must still equal the dataframe path exactly."""
    from cim_framework_graph_partitioning_spark.plans.superstep import LoopScope

    cached = []
    cache = LoopScope.cache

    def spy(self, df):
        cached.append(df)
        return cache(self, df)

    monkeypatch.setattr(LoopScope, "cache", spy)
    hub = (
        [(0, i, float(1 + i % 3)) for i in range(1, 26)]
        + [(i, i % 25 + 1, 1.0) for i in range(1, 26)]
        + [(i, 0, 1.0) for i in range(1, 26, 5)]
    )
    for triples in (_random_edges(11, n=30, m=90), hub):
        cached.clear()
        r_df, _ = pagerank(spark, _edges_df(spark, triples), tol=1e-8, max_iter=50)
        r_csr, _ = pagerank(
            spark, _edges_df(spark, triples), tol=1e-8, max_iter=50,
            mode="csr", csr_slice_edges=7,
        )
        a = {r.id: r.rank for r in r_df.collect()}
        b = {r.id: r.rank for r in r_csr.collect()}
        assert set(a) == set(b)
        for k in a:
            assert math.isclose(a[k], b[k], abs_tol=1e-9), k

    (adj,) = [df for df in cached if "adj" in df.columns]
    rows = adj.filter(F.col("src_id") == 0).collect()
    assert len(rows) == math.ceil(25 / 7)
    assert all(len(r.adj) <= 7 for r in rows)
    assert sorted(e.dst_id for r in rows for e in r.adj) == list(range(1, 26))


def test_anchored_lpa_absorbs_satellites(spark):
    """Reference graph.py:30-123 semantics: anchors keep fixed labels,
    satellites adopt the min labeled-neighbor label until coverage."""
    from pyspark.sql import functions as F

    from cim_framework_graph_partitioning_spark.operators.labelprop import (
        anchored_label_propagation,
    )

    # path 0-1-2-3-4, anchors 0 and 4; isolated pair 8-9 (never covered)
    e = _edges_df(spark, [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (8, 9, 1.0)])
    anchors = spark.createDataFrame([(0, 0), (4, 4)], "id long, label long")
    labels, steps = anchored_label_propagation(spark, e, anchors)
    got = {r.id: r.label for r in labels.collect()}
    # 1 absorbed by 0, 3 by 4; 2 sees labeled {1:0, 3:4} in step 2 → min 0
    assert got == {0: 0, 1: 0, 2: 0, 3: 4, 4: 4, 8: -1, 9: -1}
    assert steps >= 2
    # coverage assert ports graph.py:121
    with pytest.raises(AssertionError, match="coverage"):
        anchored_label_propagation(spark, e, anchors, require_total=True)


def test_anchored_lpa_wave_priority(spark):
    """Wave order matters: a satellite absorbed in wave 1 keeps that
    label even if wave 2 would have offered a smaller one."""
    from pyspark.sql import functions as F

    from cim_framework_graph_partitioning_spark.operators.labelprop import (
        anchored_label_propagation,
    )

    # satellite 5 touches anchor 0 (weight 1) and anchor 10 (weight 3)
    e = _edges_df(spark, [(0, 5, 1.0), (10, 5, 3.0)])
    anchors = spark.createDataFrame([(0, 0), (10, 10)], "id long, label long")
    # wave 1 restricted to heavy edges → 5 absorbed by 10 first
    labels, _ = anchored_label_propagation(
        spark, e, anchors, waves=[F.col("weight") >= 2, F.lit(True)]
    )
    assert {r.id: r.label for r in labels.collect()}[5] == 10
    # unrestricted single wave → min label 0 wins
    labels2, _ = anchored_label_propagation(spark, e, anchors)
    assert {r.id: r.label for r in labels2.collect()}[5] == 0


def test_pagerank_salt_buckets_balanced_on_planted_hub(spark):
    """The salt must spread a hub's in-edges across buckets even when
    every in-edge carries an IDENTICAL contribution (uniform early ranks
    x equal frac) — a value-keyed salt would put them all in one bucket
    and the skew protection would silently evaporate."""
    from pyspark.sql import functions as F

    from cim_framework_graph_partitioning_spark.operators.pagerank import (
        pagerank_salt_col,
    )

    n_src, buckets = 1024, 16
    # planted hub: every source has out-degree 1 into vertex 0 with the
    # same weight → frac = 1.0 and identical contribs on every in-edge.
    hub_edges = _edges_df(spark, [(i, 0, 1.0) for i in range(1, n_src + 1)])
    counts = {
        r._salt: r.n
        for r in hub_edges.groupBy(pagerank_salt_col(buckets))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert len(counts) == buckets, "hub in-edges collapsed into few salt buckets"
    expected = n_src / buckets
    assert max(counts.values()) < 2 * expected, counts


def test_pagerank_dangling_vertices(spark):
    # vertex 2 is dangling (no out-edges)
    triples = [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0)]
    ranks, _ = pagerank(spark, _edges_df(spark, triples))
    got = {r.id: r.rank for r in ranks.collect()}
    want = pagerank_oracle(triples)
    for k in want:
        assert math.isclose(got[k], want[k], abs_tol=1e-6)
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)


@pytest.mark.parametrize("seed", [5])
@pytest.mark.parametrize("algorithm", ["star", "minlabel"])
def test_connected_components_exact(spark, seed, algorithm):
    rng = random.Random(seed)
    # several small clusters + isolated pair
    triples = []
    base = 0
    for csize in [5, 8, 3, 2]:
        for _ in range(csize * 2):
            u, v = base + rng.randrange(csize), base + rng.randrange(csize)
            if u != v:
                triples.append((u, v, 1.0))
        base += 100
    labels, _ = connected_components(
        spark, _edges_df(spark, triples), algorithm=algorithm
    )
    got = {r.id: r.component for r in labels.collect()}
    want = cc_oracle([(u, v) for u, v, _ in triples])
    assert got == want


def test_connected_components_star_beats_diameter(spark):
    """Two-phase star CC converges in O(log^2 n) supersteps regardless of
    diameter — on a 200-vertex path it must finish in far fewer steps
    than the 200 min-label propagation would need, with exact labels."""
    path = [(i, i + 1, 1.0) for i in range(200)]
    labels, steps = connected_components(
        spark, _edges_df(spark, path), algorithm="star", max_iter=60
    )
    got = {r.id: r.component for r in labels.collect()}
    assert got == {i: 0 for i in range(201)}
    assert steps <= 15, f"star CC took {steps} supersteps on a 200-path"


def test_connected_components_truncated_run_is_well_formed(spark):
    """If max_iter exhausts before the star fixpoint, the labels table
    must still be one row per vertex (no duplicate ids from multi-center
    satellites) and a warning must surface the truncation (r2 ADVICE)."""
    import warnings

    path = [(i, i + 1, 1.0) for i in range(200)]
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        labels, steps = connected_components(
            spark, _edges_df(spark, path), algorithm="star", max_iter=1
        )
        rows = labels.collect()
    assert steps == 1
    assert any("fixpoint not reached" in str(x.message) for x in w)
    ids = [r.id for r in rows]
    assert len(ids) == len(set(ids)) == 201  # exactly one row per vertex


def test_lpa_matches_oracle(spark):
    triples = _random_edges(9, n=20, m=50)
    labels, _ = label_propagation(spark, _edges_df(spark, triples), max_iter=5)
    got = {r.id: r.label for r in labels.collect()}
    want = lpa_oracle(triples, max_iter=5)
    assert got == want


def test_lpa_deterministic_across_partitioning(spark):
    triples = _random_edges(11, n=30, m=90)
    df = _edges_df(spark, triples)
    l1, _ = label_propagation(spark, df.repartition(2), max_iter=4)
    l2, _ = label_propagation(spark, df.repartition(7), max_iter=4)
    assert {(r.id, r.label) for r in l1.collect()} == {
        (r.id, r.label) for r in l2.collect()
    }


@pytest.mark.parametrize("seed", [13])
def test_triangle_count_matches_bruteforce(spark, seed):
    triples = _random_edges(seed, n=25, m=140)
    n = triangle_count(_edges_df(spark, triples)).collect()[0].n_triangles
    assert n == triangle_oracle([(u, v) for u, v, _ in triples])


def test_triangles_per_vertex_sums_to_3x_global(spark):
    triples = _random_edges(15, n=20, m=100)
    df = _edges_df(spark, triples)
    total = triangle_count(df).collect()[0].n_triangles
    per_v = triangles_per_vertex(df).agg({"n_triangles": "sum"}).collect()[0][0]
    assert per_v == 3 * total


def test_pagerank_on_derived_corpus_graph(spark):
    """End-to-end: corpus → edges → PageRank; hub outranks the median."""
    files = synthesize_corpus(spark, n_files=300, n_repos=3, seed=42)
    g = derive_edges(files)
    ranks, steps = pagerank(spark, g.edges, tol=1e-3, max_iter=60)
    rows = sorted(ranks.collect(), key=lambda r: -r.rank)
    assert steps < 60  # converged
    assert rows[0].rank > 20 * rows[len(rows) // 2].rank  # hub dominates


def test_pagerank_warm_start_same_fixpoint_fewer_steps(spark):
    # init_ranks (incremental recompute): fixpoint is unique, so a warm
    # start must land on the cold result — and starting FROM the cold
    # result must converge immediately
    triples = _random_edges(21, n=30, m=90)
    df = _edges_df(spark, triples)
    cold, cold_steps = pagerank(spark, df, tol=1e-10)
    warm, warm_steps = pagerank(spark, df, tol=1e-10, init_ranks=cold)
    cr = {r.id: r.rank for r in cold.collect()}
    wr = {r.id: r.rank for r in warm.collect()}
    assert max(abs(cr[k] - wr[k]) for k in cr) < 1e-8
    assert warm_steps < cold_steps
    # skewed-but-valid init also reaches the same fixpoint
    skew = df.select(F.col("src_id").alias("id")).union(
        df.select("dst_id")).distinct().select(
        "id", (1.0 + F.pmod(F.col("id"), F.lit(5))).alias("rank"))
    got, _ = pagerank(spark, df, tol=1e-10, init_ranks=skew)
    gr = {r.id: r.rank for r in got.collect()}
    assert max(abs(cr[k] - gr[k]) for k in cr) < 1e-8


def test_pagerank_warm_start_zero_init_falls_back_uniform(spark):
    triples = _random_edges(22, n=15, m=40)
    df = _edges_df(spark, triples)
    zeros = df.select(F.col("src_id").alias("id")).union(
        df.select("dst_id")).distinct().select("id", F.lit(0.0).alias("rank"))
    a, sa = pagerank(spark, df, tol=0.0, max_iter=2, init_ranks=zeros)
    b, sb = pagerank(spark, df, tol=0.0, max_iter=2)
    ar = {r.id: r.rank for r in a.collect()}
    br = {r.id: r.rank for r in b.collect()}
    assert ar == br


def test_approx_triangles_exact_at_p1_and_deterministic(spark):
    from cim_framework_graph_partitioning_spark.operators.triangles import (
        approx_triangle_count,
        triangle_count,
    )
    triples = _random_edges(31, n=30, m=150)
    df = _edges_df(spark, triples)
    exact = triangle_count(df).collect()[0].n_triangles
    full = approx_triangle_count(df, p_num=1, p_den=1).collect()[0]
    assert full.n_sampled_triangles == exact
    assert full.est_triangles == float(exact)
    a = approx_triangle_count(df, p_num=1, p_den=2, seed=9).collect()[0]
    b = approx_triangle_count(
        df.repartition(13), p_num=1, p_den=2, seed=9).collect()[0]
    assert tuple(a) == tuple(b)  # deterministic + partitioning-invariant


def test_approx_triangles_matches_python_sample_replay(spark):
    import hashlib
    from cim_framework_graph_partitioning_spark.operators.triangles import (
        approx_triangle_count,
    )
    triples = _random_edges(32, n=25, m=120)
    df = _edges_df(spark, triples)
    got = approx_triangle_count(
        df, p_num=1, p_den=3, seed=4, hash_family="md5").collect()[0]
    kept = set()
    for u, v, _ in triples:
        a, b = min(u, v), max(u, v)
        h = int(hashlib.md5(f"4:{a}:{b}".encode()).hexdigest()[:15], 16)
        if h % 3 < 1:
            kept.add((a, b))
    nbrs = {}
    for a, b in kept:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    tri = 0
    for a, b in kept:
        tri += len(nbrs[a] & nbrs[b])
    tri //= 3  # each triangle counted once per edge
    assert got.n_sampled_triangles == tri
    assert got.est_triangles == pytest.approx(tri * 27.0)
