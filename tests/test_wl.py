"""Weisfeiler-Leman refinement: python hash replay + the classic
1-WL expressiveness facts."""

from __future__ import annotations

import hashlib
import random

import pytest

from cim_framework_graph_partitioning_spark.operators.wl import wl_refinement

_MOD = 1 << 60


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(u), int(v), 1.0) for u, v in pairs],
        "src_id long, dst_id long, weight double",
    )


def _dig(*parts):
    s = ":".join(str(p) for p in parts)
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _wl_replay(pairs, rounds):
    nbrs = {}
    for u, v in pairs:
        if u != v:
            nbrs.setdefault(u, set()).add(v)
            nbrs.setdefault(v, set()).add(u)
    color = {v: _dig(len(nbrs[v])) for v in nbrs}
    for _ in range(rounds):
        color = {
            v: _dig(color[v], sum(_dig(color[u]) for u in nbrs[v]) % _MOD)
            for v in nbrs
        }
    return color


@pytest.mark.parametrize("seed,rounds", [(11, 3), (12, 2)])
def test_wl_matches_python_replay(spark, seed, rounds):
    rng = random.Random(seed)
    pairs = sorted({(rng.randrange(25), rng.randrange(25)) for _ in range(60)}
                   - {(i, i) for i in range(25)})
    got, steps = wl_refinement(spark, _edges_df(spark, pairs), rounds=rounds)
    assert steps == rounds
    assert {r.id: r.color for r in got.collect()} == _wl_replay(pairs, rounds)


def test_wl_cannot_distinguish_c6_from_two_c3(spark):
    # the canonical 1-WL blind spot: C6 and C3+C3 are both 2-regular,
    # so every vertex keeps one shared color forever
    c6 = [(i, (i + 1) % 6) for i in range(6)]
    cc = [(10, 11), (11, 12), (12, 10), (20, 21), (21, 22), (22, 20)]
    got, steps = wl_refinement(spark, _edges_df(spark, c6 + cc))
    colors = [r.color for r in got.collect()]
    assert len(set(colors)) == 1
    assert steps <= 3  # stabilizes immediately (count never grows)


def test_wl_path_refines_symmetrically(spark):
    # P5: classes = distance-to-nearer-end (3 classes), mirror-symmetric
    p5 = [(i, i + 1) for i in range(4)]
    got, _ = wl_refinement(spark, _edges_df(spark, p5))
    c = {r.id: r.color for r in got.collect()}
    assert len(set(c.values())) == 3
    assert c[0] == c[4] and c[1] == c[3] and c[2] not in (c[0], c[1])


def test_wl_distinguishes_star_from_path(spark):
    # same vertex count, different degree profile: colors differ from
    # round 0 — a structural fingerprint use case (compare color
    # multisets of two graphs)
    star = [(0, i) for i in range(1, 5)]
    path = [(10 + i, 11 + i) for i in range(4)]
    got, _ = wl_refinement(spark, _edges_df(spark, star + path), rounds=2)
    c = {r.id: r.color for r in got.collect()}
    star_set = sorted(c[v] for v in range(5))
    path_set = sorted(c[v] for v in range(10, 15))
    assert star_set != path_set


def test_wl_partitioning_invariant(spark):
    rng = random.Random(4)
    pairs = sorted({(rng.randrange(20), rng.randrange(20)) for _ in range(50)}
                   - {(i, i) for i in range(20)})
    df = _edges_df(spark, pairs)
    a = {r.id: r.color for r in wl_refinement(spark, df, rounds=3)[0].collect()}
    b = {r.id: r.color
         for r in wl_refinement(spark, df.repartition(13), rounds=3)[0]
         .collect()}
    assert a == b


def test_wl_resume_takes_the_uninterrupted_steps(spark, tmp_path):
    # P9 gains one class per round until its 5 distance classes, so the
    # count first repeats at round 4. A run stopped after round 3 and
    # resumed must compare round 4 against round 3's committed count.
    df = _edges_df(spark, [(i, i + 1) for i in range(8)])
    want, want_steps = wl_refinement(spark, df)
    assert want_steps == 4
    ck = str(tmp_path / "wl")
    wl_refinement(spark, df, max_iter=want_steps - 1, checkpoint_dir=ck)
    got, steps = wl_refinement(spark, df, checkpoint_dir=ck, resume=True)
    assert steps == want_steps
    assert {r.id: r.color for r in got.collect()} == {r.id: r.color for r in want.collect()}
