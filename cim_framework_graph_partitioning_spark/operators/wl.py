"""Weisfeiler-Leman (1-WL) color refinement as DataFrame supersteps.

The classic graph-canonical-form / graph-isomorphism primitive
(Weisfeiler & Leman 1968; the exact expressive class of message-
passing GNNs, Xu et al. 2019): starting from degree colors, each round
recolors every vertex by an injective-enough hash of (own color, the
MULTISET of neighbor colors). Two vertices keep equal colors iff no
round of neighborhood structure distinguishes them; the partition
stabilizes in at most |V| rounds (in practice a handful). Uses:
structural vertex roles on a link graph, graph fingerprints for
dedup-by-structure, GNN feature init.

Multiset hashing is done with a COMMUTATIVE hash-sum instead of
sorting the neighbor color list (the standard trick, e.g. "hashing
multisets" in k-WL implementations): each neighbor color c
contributes g(c) = md5-prefix(c), and the round digest is

    new_color(v) = H(old_color(v), sum of g(old_color(u)) mod 2^60)

Commutativity makes the aggregation a plain SUM — map-side combinable,
partitioning-invariant by algebra (not by sort), and a degree-10^8
mega-hub never materializes a degree-sized list in one row (the
collect_list formulation would — same caveat the k-core h-index fixed
with its histogram). The modular sum rides DECIMAL(38,0) so no
overflow below ~10^18 neighbors. Collisions: g is 60-bit; a multiset
collision needs two different color multisets with equal sums of
60-bit hashes — vanishing at any realistic scale, identical on both
engines (the md5 bridge), and irrelevant to the determinism contract.

Scale shape: the symmetrized edge table is cached hash-partitioned by
e_u once; per round only the (id, color) state shuffles onto it —
PageRank's exact discipline. Refinement progress (distinct-color
count) is one scalar agg per round; the loop stops when the count
stops growing (1-WL's standard stability criterion: once no round
splits any class, none ever will).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.scale import auto_blocks
from ..plans.superstep import SuperstepRunner, loop_scope
from .edges import probe_edges, vertex_set

_MOD = 1 << 60


def _digest(*cols: F.Column) -> F.Column:
    """60-bit md5-prefix of ':'-joined string forms (the cross-engine
    hash bridge — DuckDB computes the identical value)."""
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", *cols)), 1, 15), 16, 10
    ).cast("long")


def wl_refinement(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int | None = None,
    max_iter: int = 100,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 4,
    resume: bool = False,
    run_id: str = "wl",
) -> tuple[DataFrame, int]:
    """Returns (colors(id, color), rounds_run): the 1-WL vertex colors
    on the UNDIRECTED simple graph (self-loops dropped, MIS/coloring
    convention). ``rounds``: run exactly that many refinement rounds
    (the SQL-replayable truncation); None runs to stability (distinct
    color count stops growing) bounded by ``max_iter``."""
    p = num_blocks or auto_blocks(
        edges.count(), spark.sparkContext.defaultParallelism
    )
    with loop_scope(spark, p) as scope:
        und = scope.cache(probe_edges(edges, p))  # one exchange: see probe_edges
        und.count()

        deg = und.groupBy(F.col("e_v").alias("id")).agg(
            F.count("*").cast("long").alias("_d")
        )
        init = vertex_set(edges).join(deg, "id", "left").select(
            "id",
            _digest(F.coalesce(F.col("_d"), F.lit(0)).cast("string"))
            .alias("color"),
        )

        fixed = rounds is not None
        bound = rounds if fixed else max_iter

        def step_fn(state: DataFrame, step: int):
            s = state.select("id", "color").hint("shuffle_hash")
            # commutative multiset digest: SUM of per-neighbor g(color)
            # mod 2^60, carried in decimal(38) — map-side combinable
            sums = (
                s.join(und, s.id == und.e_u)
                .select(
                    F.col("e_v").alias("id"),
                    _digest(F.col("color").cast("string"))
                    .cast("decimal(38,0)")
                    .alias("g"),
                )
                .groupBy("id")
                .agg(F.pmod(F.sum("g"), F.lit(_MOD)).cast("long").alias("msum"))
            )
            new = (
                state.join(sums.hint("shuffle_hash"), "id", "left")
                .select(
                    "id",
                    _digest(
                        F.col("color").cast("string"),
                        F.coalesce(F.col("msum"), F.lit(0)).cast("string"),
                    ).alias("color"),
                )
                .localCheckpoint(eager=True)
            )
            if fixed:
                # fixed-round mode never consults the stability metric —
                # computing the distinct-color count here was a full
                # extra exchange+count job per round for nothing
                return new, {}
            n_colors = new.select("color").distinct().count()
            return new, {"n_colors": float(n_colors)}

        runner = SuperstepRunner(
            spark, checkpoint_dir=checkpoint_dir, run_id=run_id,
            checkpoint_every=checkpoint_every,
        )
        seen = {"prev": -1.0}
        if resume and not fixed and (last := runner.latest_step()) is not None:
            # the resumed first step must compare against the committed
            # step's count, as it would have in an uninterrupted run
            seen["prev"] = runner.logged_metrics(last).get("n_colors", -1.0)

        def stable(m: dict) -> bool:
            if fixed:
                return False  # run exactly `rounds` (max_iter bound below)
            done = m["n_colors"] == seen["prev"]
            seen["prev"] = m["n_colors"]
            return done

        state, steps = runner.run(
            init, step_fn, converged=stable, max_iter=bound, resume=resume,
            pre_truncated=True,  # step_fn checkpoints its own state
        )
    return state.select("id", "color"), steps
