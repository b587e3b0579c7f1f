"""K-core decomposition (per-vertex coreness) via h-index fixpoint.

The coreness of a vertex is the largest k such that it belongs to a
subgraph where every vertex has degree >= k. The classic peel is
inherently sequential; the distributed formulation (Lu, Zhang, Zhou
2016, "k-core decomposition on giraph-like systems") iterates the
h-operator instead:

    c_0(v)     = degree(v)
    c_{t+1}(v) = h-index of { c_t(u) : u is a neighbor of v }

which converges monotonically DOWN to the exact coreness. Every value
is an integer, so the DuckDB oracle replays bit-exactly with no
floating-point concerns, and over-unrolling the oracle past the
fixpoint is harmless (a fixpoint stays put).

h-index from the neighbor-value HISTOGRAM, not the multiset (r4
VERDICT #6 — a mega-hub must not land degree-many rows in one task):

    h( multiset M ) = max over distinct values d of min(d, f(d)),
    f(d) = #{ m in M : m >= d }

Proof: (>=) among the h := h-index(M) neighbors with value >= h, let m
be their minimum value; all h of them have value >= m, so f(m) >= h
and m >= h, giving min(m, f(m)) >= h at the distinct value m.
(<=) if min(d, f(d)) = s then f(s) >= f(d) >= s (f non-increasing,
s <= d), i.e. s neighbors have value >= s, so h >= s. Hence the max
over distinct values equals h exactly — integer arithmetic throughout.

Execution: groupBy(v, value).count() builds the histogram with Spark's
map-side partial combine (a 10^8-degree hub's rows are pre-reduced per
map task and the (v, value) shuffle keys spread across reducers), then
a per-vertex window ordered by value DESC takes the running f and one
aggregation takes max(min(value, f)). The only per-vertex-serial piece
is the histogram window: #distinct neighbor VALUES rows, <= max
possible coreness + 1, not degree.

Scale shape:

* The undirected edge list is symmetrized + deduped once, cached
  hash-partitioned by the probe key (``edges.probe_edges``): the
  per-step join (neighbor values onto edges) reuses that exchange and
  only the (vertex, value) table shuffles.
* Per superstep: the histogram aggregation exchange on (v, value) and
  the window exchange on v — both over histogram-sized data after the
  map-side combine.
* Convergence is a driver scalar: count of changed vertices == 0.
  Values only decrease, so the metric is monotone and the loop is
  resumable from any checkpointed state (SuperstepRunner).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.scale import auto_blocks
from ..plans.superstep import SuperstepRunner, loop_scope, observed_checkpoint
from .edges import probe_edges


def coreness(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 200,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 4,
    resume: bool = False,
    run_id: str = "kcore",
    metrics_sink: list | None = None,
) -> tuple[DataFrame, int]:
    """Returns (cores(id, core), supersteps_run) — exact coreness.

    The input is treated as undirected: edges are symmetrized and
    deduplicated before the fixpoint iteration, and self-loops dropped
    (a self-loop never changes coreness under the h-operator and the
    peel convention excludes it).
    """
    p = num_blocks or auto_blocks(
        edges.count(), spark.sparkContext.defaultParallelism
    )

    # loop conf BEFORE setup so the cached static table and the init
    # aggregation land on hash(key, p) partitioning directly
    with loop_scope(spark, p) as scope:
        und = scope.cache(probe_edges(edges, p))  # one exchange: see probe_edges
        und.count()

        # degree init: groupBy lands on hash(id, p) under the pinned
        # conf — no extra repartition needed
        init = und.groupBy(F.col("e_v").alias("id")).agg(
            F.count("*").cast("long").alias("core")
        )

        def step_fn(state: DataFrame, step: int):
            # neighbor values ride to the dst-partitioned static edges
            c = state.hint("shuffle_hash")
            nbr = c.join(und, c.id == und.e_u).select(
                F.col("e_v").alias("v"), F.col("core").alias("nc")
            )
            # histogram h-index (module docstring): per-(v, value) counts
            # with map-side combine, running f(d) over values DESC, then
            # h = max(min(d, f(d))) — no degree-sized window anywhere
            hist = nbr.groupBy("v", "nc").agg(F.count("*").cast("long").alias("cnt"))
            w = (
                Window.partitionBy("v")
                .orderBy(F.col("nc").desc())
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            hidx = (
                hist.withColumn("f", F.sum("cnt").over(w))
                .groupBy("v")
                .agg(F.max(F.least(F.col("nc"), F.col("f"))).cast("long").alias("h"))
            )
            prev = state.select("id", F.col("core").alias("prev"))
            # ONE job per superstep: the changed-count rides the
            # checkpoint materialization, which drops the prev column
            return observed_checkpoint(
                prev.join(hidx.hint("shuffle_hash"), prev.id == hidx.v, "left")
                .select(
                    "id",
                    F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("core"),
                    "prev",
                ),
                select=("id", "core"),
                changed=F.sum(F.when(F.col("core") != F.col("prev"), 1).otherwise(0)),
            )

        runner = SuperstepRunner(
            spark, checkpoint_dir=checkpoint_dir, run_id=run_id,
            checkpoint_every=checkpoint_every, metrics_sink=metrics_sink,
        )
        cores, steps = runner.run(
            init,
            step_fn,
            converged=lambda m: m["changed"] == 0.0,
            max_iter=max_iter,
            resume=resume,
            pre_truncated=True,
        )
    return cores.select("id", "core"), steps
