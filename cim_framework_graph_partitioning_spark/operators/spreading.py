"""Label spreading (semi-supervised node classification) as iterative
DataFrame supersteps.

Zhou et al. 2004 ("Learning with local and global consistency"):
F_{t+1} = alpha * S @ F_t + (1 - alpha) * Y, with S the symmetrically
normalized adjacency D^{-1/2} W D^{-1/2} and Y the one-hot seed
matrix. Converges to the closed form (I - alpha*S)^{-1} (1-alpha) Y
(alpha < 1 guarantees contraction); the per-class stationary scores
rank how strongly each unlabeled vertex associates with each seeded
class. The LPA next door (labelprop.py) is the hard-assignment mode
variant; spreading keeps SOFT per-class mass — the standard
"propagate labels from 1% seeds over the similarity/link graph" tool
in training-data pipelines.

State is LONG-FORMAT (id, label, score) — a row only exists once a
class's mass reaches a vertex, so the per-superstep width is
(reachable vertex, class) pairs, not |V| x |classes| dense columns.
Multi-class propagation is therefore ONE joined pass per superstep
regardless of how many classes exist (class id is just another group
key), and the plan is PageRank's §B shape: the normalized edge cache
is exchanged once; only the state shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.scale import auto_blocks
from ..plans.superstep import SuperstepRunner, local_rows, loop_scope, observed_checkpoint


def label_spreading(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float = 0.8,
    tol: float = 1e-6,
    max_iter: int = 100,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 8,
    resume: bool = False,
    run_id: str = "spreading",
    metrics_sink: list | None = None,
) -> tuple[DataFrame, int]:
    """Returns (scores(id, label, score), supersteps_run) — long-format
    per-class association mass for every (vertex, class) the spread has
    reached (seeds included). ``seeds``: (id, label) — the labeled
    subset; ids absent from the graph are ignored. ``tol=0.0`` runs
    exactly ``max_iter`` supersteps (the SQL-oracle truncation);
    otherwise stops when the L-inf score delta falls below tol.

    The graph is treated as undirected (symmetrized); weights
    contribute to both D and W.
    """
    sc = spark.sparkContext
    p = num_blocks or auto_blocks(edges.count(), sc.defaultParallelism)

    # loop conf BEFORE setup
    with loop_scope(spark, p) as scope:
        return _label_spreading_inner(
            scope, edges, seeds, alpha, tol, max_iter, p, checkpoint_dir,
            checkpoint_every, resume, run_id, metrics_sink,
        )


def _label_spreading_inner(
    scope, edges, seeds, alpha, tol, max_iter, p, checkpoint_dir,
    checkpoint_every, resume, run_id, metrics_sink,
):
    spark = scope.spark
    e = edges.filter(F.col("src_id") != F.col("dst_id")).select(
        F.least("src_id", "dst_id").alias("a"),
        F.greatest("src_id", "dst_id").alias("b"),
        "weight",
    ).groupBy("a", "b").agg(F.sum("weight").alias("w"))
    und = e.select(
        F.col("a").alias("src_id"), F.col("b").alias("dst_id"), "w"
    ).unionByName(
        e.select(F.col("b").alias("src_id"), F.col("a").alias("dst_id"), "w")
    )
    deg = und.groupBy(F.col("src_id").alias("id")).agg(
        F.sum("w").alias("d")
    )
    # S = D^-1/2 W D^-1/2, cached partitioned by src (the join key of
    # the propagation half-step) — built once, never re-exchanged
    norm = scope.cache(
        und.join(deg.select(F.col("id").alias("src_id"),
                            F.col("d").alias("d_src")), "src_id")
        .join(deg.select(F.col("id").alias("dst_id"),
                         F.col("d").alias("d_dst")), "dst_id")
        .select(
            "src_id", "dst_id",
            (F.col("w") / F.sqrt(F.col("d_src") * F.col("d_dst"))).alias("s"),
        )
        .repartition(p, "src_id")
    )
    norm.count()

    verts = (
        edges.select(F.col("src_id").alias("id"))
        .unionByName(edges.select(F.col("dst_id").alias("id")))
        .distinct()
    )
    y = scope.cache(
        seeds.select(
            F.col(seeds.columns[0]).alias("id"),
            F.col(seeds.columns[1]).alias("label"),
        )
        .distinct()
        .join(verts, "id", "left_semi")
        .select("id", "label", F.lit(1.0).alias("y"))
        .repartition(p, "id")
    )
    if y.count() == 0:
        return (
            local_rows(spark, [], "id long, label long, score double"),
            0,
        )
    init = y.select("id", "label", F.col("y").alias("score"))

    def step_fn(state: DataFrame, step: int):
        st = state.select("id", "label", "score").hint("shuffle_hash")
        prop = (
            st.join(norm, st.id == norm.src_id)
            .select(
                F.col("dst_id").alias("id"), "label",
                (F.col("score") * F.col("s")).alias("c"),
            )
            .groupBy("id", "label")
            .agg(F.sum("c").alias("prop"))
        )
        # delta rides the checkpoint as an observed metric — the former
        # separate stats job per superstep is gone (pagerank pattern)
        return observed_checkpoint(
            prop.join(y.hint("shuffle_hash"), ["id", "label"], "full_outer")
            .select(
                "id", "label",
                (
                    F.lit(alpha) * F.coalesce(F.col("prop"), F.lit(0.0))
                    + F.lit(1.0 - alpha) * F.coalesce(F.col("y"), F.lit(0.0))
                ).alias("score"),
            )
            .join(
                state.select(
                    "id", "label", F.col("score").alias("prev")
                ).hint("shuffle_hash"),
                ["id", "label"], "left",
            ),
            select=("id", "label", "score"),
            max_delta=F.max(
                F.abs(F.col("score") - F.coalesce(F.col("prev"), F.lit(0.0)))
            ),
        )

    runner = SuperstepRunner(
        spark, checkpoint_dir=checkpoint_dir, run_id=run_id,
        checkpoint_every=checkpoint_every, metrics_sink=metrics_sink,
    )
    scores, steps = runner.run(
        init,
        step_fn,
        converged=lambda m: m["max_delta"] < tol,
        max_iter=max_iter,
        resume=resume,
        pre_truncated=True,
    )
    return scores.select("id", "label", "score"), steps
