"""Mergeable cardinality sketches: KMV (k-minimum-values) distinct
count estimation.

Bar-Yossef et al. 2002 / Beyer et al. 2007 ("Distinct-value synopses"):
hash every value to (0, 1]; keep the k smallest distinct hashes; the
unbiased estimate is (k-1) / u_k where u_k is the k-th smallest
normalized hash. Groups with fewer than k distinct values fall back to
the exact count (their full hash set IS the synopsis). Standard error
~ 1/sqrt(k-2).

Unlike HyperLogLog, KMV on a FIXED hash is fully deterministic — the
same (seed, value) always produces the same synopsis, so the estimate
is a pure function of the data and replays bit-exactly in another
engine (the md5-prefix bridge, same as walks/mis/minhash). That is the
point here: approximate counting whose result is still exactly
verifiable, the engine's discipline for every 'approximate' operator
(sampled betweenness, IVF probes, LSH candidates — deterministic
given their knobs).

Scale shape: one distinct-shuffle on (group, hash), then the min-k
selection in TWO phases because the sketch is mergeable (union of
min-k sets = min-k of union): a per-(group, salt) partial min-k —
each task sorts at most group_size / salt_buckets rows — then a final
per-group min-k over the <= salt_buckets * k survivors. No task ever
holds a whole mega-group's hash set (the same salted two-phase shape
as the PageRank hub aggregation).

No reference precedent (the reference counts nothing approximately);
training-data-pipeline extension alongside dedup/sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# md5-prefix hashes are 15 hex digits = 60 bits; normalize by 2^60 so
# u in (0, 1] (the +1 shifts 0 away from the open endpoint)
_HASH_SPACE = float(1 << 60)


def _value_hash(col: F.Column, seed: int, hash_family: str) -> F.Column:
    if hash_family == "xxhash64":
        # fold onto the same 60-bit non-negative space as the md5 path
        return F.pmod(F.xxhash64(F.lit(seed), col), F.lit(1 << 60))
    if hash_family == "md5":
        s = F.concat_ws(":", F.lit(str(seed)), col.cast("string"))
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_family {hash_family!r}")


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
    seed: int = 42,
    hash_family: str = "xxhash64",
    salt_buckets: int = 16,
) -> DataFrame:
    """Per-group KMV distinct-count estimate. Returns
    (group_cols..., n_hashes, kth_hash, est_distinct):

    * n_hashes — min(k, true distinct count) synopsis size
    * kth_hash — the k-th smallest 60-bit hash (the synopsis boundary;
      NULL when the group has fewer than k distinct values)
    * est_distinct — (k-1) / (kth_hash+1 / 2^60), or the exact distinct
      count for under-k groups

    Deterministic given (seed, hash_family); hash collisions under-count
    by construction (two colliding values contribute one hash) — at
    60 bits that is ~n²/2^61, negligible below billions of distinct
    values per group, and both engines collide identically.
    """
    g = [F.col(c) for c in group_cols]
    hashed = df.select(
        *g, _value_hash(F.col(value_col), seed, hash_family).alias("_h")
    ).distinct()
    # phase 1: partial min-k per (group, salt) — bounds any single
    # task's sort at group_size / salt_buckets rows even for mega-groups
    w1 = Window.partitionBy(
        *group_cols, F.pmod(F.col("_h"), F.lit(salt_buckets))
    ).orderBy("_h")
    partial = hashed.withColumn("_r1", F.row_number().over(w1)).filter(
        F.col("_r1") <= k
    )
    # phase 2: merge the <= salt_buckets * k survivors per group
    w = Window.partitionBy(*group_cols).orderBy("_h")
    ranked = partial.withColumn("_r", F.row_number().over(w)).filter(
        F.col("_r") <= k
    )
    return (
        ranked.groupBy(*group_cols)
        .agg(
            F.count("*").cast("long").alias("n_hashes"),
            F.max(F.when(F.col("_r") == k, F.col("_h"))).alias("kth_hash"),
        )
        .select(
            *group_cols,
            "n_hashes",
            "kth_hash",
            F.when(
                F.col("kth_hash").isNotNull(),
                F.lit(float(k - 1))
                / ((F.col("kth_hash") + F.lit(1)).cast("double")
                   / F.lit(_HASH_SPACE)),
            )
            .otherwise(F.col("n_hashes").cast("double"))
            .alias("est_distinct"),
        )
    )


def _id_hash(col: F.Column, seed: int, hash_family: str) -> F.Column:
    return _value_hash(col, seed, hash_family)


def neighborhood_sketches(
    spark,
    edges: DataFrame,
    t: int,
    k: int = 32,
    seed: int = 42,
    hash_family: str = "xxhash64",
    num_blocks: int | None = None,
    salt_buckets: int = 16,
) -> DataFrame:
    """HyperBall-style neighborhood function via KMV sketches (Boldi,
    Rosa & Vigna 2011 — with the deterministic k-minimum-values synopsis
    in place of HyperLogLog, keeping the engine's exact-replay
    discipline): after round i, each vertex holds the min-k hash
    synopsis of its distance-<=i ball on the UNDIRECTED graph, giving
    |Ball(v, t)| estimates for every vertex at once — the building
    block for effective-diameter / median-distance estimation, at a
    cost of t supersteps instead of |V| BFS runs.

    Per round, sketch(v) <- min-k over {sketch(v)} union
    {sketch(u): u in N(v)} — min-k union is associative/commutative
    (the KMV merge property), so the aggregation runs as a TWO-PHASE
    salted merge: partial min-k per (vertex, salt-of-neighbor), final
    min-k per vertex over <= salt_buckets partials. A degree-10^6 hub
    therefore merges 10^6 k-arrays in salt_buckets-bounded pieces,
    never in one task; each phase is flatten -> sort -> distinct ->
    slice(k) on arrays of <= (group size) * k longs.

    Returns (id, n_sk, kth_hash, est_ball) — ball-size estimate per
    vertex, exact (n_sk) when the true ball has < k vertices. Every
    value is a pure function of (graph, seed): bit-replayable.
    """
    from ..plans.barrier import release_checkpoint
    from ..plans.scale import auto_blocks
    from ..plans.superstep import loop_scope
    from .kcore import undirected_edges

    p = num_blocks or auto_blocks(
        edges.count(), spark.sparkContext.defaultParallelism
    )

    def merge_col(col: F.Column) -> F.Column:
        return F.slice(
            F.array_distinct(F.array_sort(F.flatten(col))), 1, k
        )

    with loop_scope(spark) as scope:
        und = scope.cache(
            undirected_edges(edges)
            .select(F.col("src_id").alias("e_v"), F.col("dst_id").alias("e_u"))
            .repartition(p, "e_u")
        )
        und.count()
        verts = (
            edges.select(F.col("src_id").alias("id"))
            .unionByName(edges.select(F.col("dst_id").alias("id")))
            .distinct()
        )
        state = (
            verts.select(
                "id",
                F.array(_id_hash(F.col("id"), seed, hash_family)).alias("sk"),
            )
            .repartition(p, "id")
            .localCheckpoint(eager=True)
        )
        scope.pin(p, pin_aqe=False)
        for _round in range(t):
            s = state.hint("shuffle_hash")
            nbr = s.join(und, s.id == und.e_u).select(
                F.col("e_v").alias("id"),
                "sk",
                F.pmod(F.xxhash64(F.col("e_u")), F.lit(salt_buckets)).alias(
                    "_salt"
                ),
            )
            partial = nbr.groupBy("id", "_salt").agg(
                merge_col(F.collect_list("sk")).alias("sk")
            )
            merged = (
                partial.select("id", "sk")
                .unionByName(state.select("id", "sk"))
                .groupBy("id")
                .agg(merge_col(F.collect_list("sk")).alias("sk"))
            )
            new_state = merged.localCheckpoint(eager=True)
            release_checkpoint(state)
            state = new_state

    n_sk = F.size("sk")
    kth = F.when(n_sk >= k, F.element_at("sk", k))
    return state.select(
        "id",
        n_sk.cast("long").alias("n_sk"),
        kth.alias("kth_hash"),
        F.when(
            kth.isNotNull(),
            F.lit(float(k - 1))
            / ((kth + F.lit(1)).cast("double") / F.lit(_HASH_SPACE)),
        )
        .otherwise(n_sk.cast("double"))
        .alias("est_ball"),
    )
