"""Tests of the benchmark's own collectors and checks, on tiny fixtures.

  python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import subprocess
import sys
from operator import add

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pytest  # noqa: E402

from checks import Reference, frame_digest  # noqa: E402
from collect import StatusStore, hygiene, session_state, stop_tree, tree_cpu  # noqa: E402
from corpus import corpus_rows, digest, edge_shape, ensure_corpus, import_targets  # noqa: E402
from spans import Tracer, duration  # noqa: E402

# a triangle (1, 2, 3) with a tail 3 -> 4 -> 5, and a self-loop on 5
EDGES = pd.DataFrame({"src_id": [1, 2, 3, 3, 4, 5], "dst_id": [2, 3, 1, 4, 5, 5],
                      "weight": [1.0, 2.0, 1.0, 1.0, 1.0, 1.0]})


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_LOCAL_DIRS", str(tmp_path_factory.mktemp("spark-local")))
    from cim_framework_graph_partitioning_spark.session import get_spark

    return get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
                     driver_memory="1g")


# -- corpus -------------------------------------------------------------------


def _degrees(cols):
    out = sorted(c.count("\n") - 1 for c in cols["content"])  # import lines per file
    inn = {}
    for c in cols["content"]:
        for line in c.split("\n")[1:-1]:
            mod = line.split("mod_")[1][:7]
            inn[mod] = inn.get(mod, 0) + 1
    return out, sorted(inn.values())


def test_corpus_is_deterministic_and_seed_relabels_one_shape():
    a, b, c = corpus_rows(300, 5, 1), corpus_rows(300, 5, 1), corpus_rows(300, 5, 2)
    assert digest(a) == digest(b) != digest(c)
    assert _degrees(a) == _degrees(c)  # same graph shape under another labeling
    assert a["content"] != c["content"]
    assert sum(len(t) for t in import_targets(300, 5)) == sum(_degrees(a)[0])


def test_workload_corpus_is_pinned():
    # both workloads read the 2,000-file graph of shape seed 3; a change to
    # the generator (or to numpy's streams) must show here, not in timings
    from workloads import WORKLOADS

    for w in WORKLOADS.values():
        assert (w.files, w.shape_seed) == (2_000, 3)
    assert digest(corpus_rows(2_000, 3, 1)) == \
        "8349f4c0434c17f792f47cc65b2ebfc09a7137685bc4d03d373c3f6e53cba35c"


def test_corpus_on_disk_must_match_the_generator(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "corpus")
    want = ensure_corpus(path, 200, 5, 1)
    assert ensure_corpus(path, 200, 5, 1) == want  # reuses what is there
    part = os.path.join(path, "part-00000.parquet")
    t = pq.read_table(part).to_pydict()
    t["content"][0] += "\nimport mod_0000001"
    pq.write_table(pa.table(t), part)
    with pytest.raises(RuntimeError, match="digest"):
        ensure_corpus(path, 200, 5, 1)


# -- reference checks ------------------------------------------------------------


def test_edge_shape_check_sees_a_lost_edge():
    pairs = {}
    for v, targets in enumerate(import_targets(300, 5)):
        for t in targets.tolist():
            pairs[1000 + v, 1000 + t] = pairs.get((1000 + v, 1000 + t), 0) + 1
    edges = pd.DataFrame([(s, d, float(w)) for (s, d), w in pairs.items()],
                         columns=["src_id", "dst_id", "weight"])
    assert Reference(edges).check_shape(edge_shape(300, 5), 300) is None
    assert "edges" in Reference(edges.iloc[1:]).check_shape(edge_shape(300, 5), 300)


def test_reference_answers_match_networkx():
    ref = Reference(EDGES)
    assert ref.n == 5
    assert ref.coreness == {1: 2, 2: 2, 3: 2, 4: 1, 5: 1}
    ranks, steps = ref.pagerank(0.85, 1e-12, 500)
    # the fixpoint in closed form: r = (1 - d) / n + d * P^T r, P row-stochastic
    n, d = ref.n, 0.85
    p = np.zeros((n, n))
    np.add.at(p, (ref.src, ref.dst), ref.w)
    p /= p.sum(axis=1, keepdims=True)
    want = np.linalg.solve(np.eye(n) - d * p.T, np.full(n, (1 - d) / n))
    assert np.allclose(ranks, want, atol=1e-9)
    assert abs(ranks.sum() - 1.0) < 1e-12 and 1 < steps < 500


def test_checks_reject_wrong_outputs():
    ref = Reference(EDGES)
    ids = ref.ids.tolist()
    cores = pd.DataFrame({"id": ids, "core": [2, 2, 2, 1, 1]})
    assert ref.check_labels(cores, "core", ref.coreness) is None
    assert "1 vertices" in ref.check_labels(cores.assign(core=[2, 2, 2, 2, 1]), "core", ref.coreness)
    assert "rows" in ref.check_labels(cores.iloc[1:], "core", ref.coreness)
    part = pd.DataFrame({"id": ids, "part": [0, 0, 0, 1, 1]})
    obj = 1.0 + 0.05 * (9 + 4)  # edge 3 -> 4 is cut
    assert ref.check_partition(part, [{"objective": obj + 1}, {"objective": obj}], 2, 0.05) is None
    assert "scores" in ref.check_partition(part, [{"objective": obj + 1}], 2, 0.05)
    assert "rose" in ref.check_partition(part, [{"objective": obj}, {"objective": obj + 1}], 2, 0.05)
    assert frame_digest(part) == frame_digest(part.iloc[::-1])


# -- process tree -----------------------------------------------------------------


def test_process_tree_cpu_and_stop():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(0.3)"])
    cpu = tree_cpu()
    assert set(cpu) == {"driver", "jvm", "pyworker"} and cpu["driver"] > 0
    stop_tree()
    assert child.poll() is not None


# -- status store, spans, one op ------------------------------------------------------


def test_status_store_counts_a_known_job(spark):
    sc = spark.sparkContext
    status = StatusStore(spark)
    for group in ("known.a", "known.b"):
        sc.setJobGroup(group, group)
        sc.parallelize(range(100), 3).map(lambda x: (x % 7, x)).reduceByKey(add, 2).collect()
    sc.setJobGroup("known.idle", "idle")
    a, b = status.collect("known.a"), status.collect("known.b")
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 2, 5)
    assert a["shuffle_write_mb"] > 0 and a["shuffle_read_mb"] > 0
    assert {k: a[k] for k in ("jobs", "stages", "tasks", "shuffle_write_mb")} == \
           {k: b[k] for k in ("jobs", "stages", "tasks", "shuffle_write_mb")}
    assert status.collect("known.none")["jobs"] == 0


def test_tracer_spans_a_superstep_loop(spark):
    from pyspark.sql import functions as F

    from cim_framework_graph_partitioning_spark.plans.superstep import SuperstepRunner

    original = SuperstepRunner.run
    tracer = Tracer("test")
    tracer.install({})
    try:
        def step(state, k):
            new = state.select((F.col("x") + 1).alias("x"))
            return new, {"changed": 1.0}

        _, steps = SuperstepRunner(spark, run_id="t").run(
            spark.range(4).select(F.col("id").alias("x")), step, lambda m: False, max_iter=3)
    finally:
        tracer.uninstall()
    assert SuperstepRunner.run is original
    names = [s["name"] for s in tracer.spans]
    assert steps == 3
    assert names.count("superstep.run") == 1
    assert names.count("superstep.step_fn") == 3 and names.count("superstep.converged") == 3
    cuts = [s for s in tracer.spans if s["name"] == "barrier.cut"]
    assert len(cuts) == 3 and not any(s["hard"] for s in cuts)
    run = next(s for s in tracer.spans if s["name"] == "superstep.run")
    for s in tracer.spans:
        if s["name"] in ("superstep.step_fn", "barrier.cut"):
            assert s["parent"] == run["id"] and duration(s) >= 0
    assert [s["step"] for s in tracer.spans if s["name"] == "superstep.step_fn"] == [1, 2, 3]


def test_an_op_pass_is_checked_and_its_counters_repeat(spark, tmp_path):
    import run as bench
    from workloads import OPS, Context

    edges = spark.createDataFrame(EDGES).persist()
    edges.count()  # cached before the passes, as in a run
    ctx = Context(spark=spark, edges=edges, scratch=str(tmp_path))
    ops = [OPS["kcore"]]
    status = StatusStore(spark)
    passes = [bench.run_pass(ctx, ops, i, status, hygiene_on=True) for i in range(2)]
    ctx.ref = Reference(EDGES)
    assert bench.check_passes(ctx, ops, passes, str(tmp_path / "d.json"), "t") == []
    assert bench.counter_mismatches(ops, passes) == []
    r = passes[1]["ops"]["kcore"]
    assert r["supersteps"] == 2  # one step to reach the fixpoint, one to see no change
    assert r["counters"]["jobs"] >= r["supersteps"] and r["hygiene"]["conf_changed"] == 0
    before = session_state(spark)
    assert hygiene(before, session_state(spark)) == {"leaked_rdds": 0, "conf_changed": 0}
