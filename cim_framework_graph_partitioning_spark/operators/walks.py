"""Deterministic random-walk corpus generation (DeepWalk-style).

Embedding pipelines (DeepWalk, node2vec, GraphSAGE samplers) train on
walk sequences; at 100 TB the walk generator IS the data pipeline, so
it must be restartable and reproducible — a crash-and-resume must not
resample different walks. Hence HASH-seeded walks, not RNG walks: the
neighbor chosen at step t of walk (v0, w) is

    rank = H(seed, t, cur, w, v0)  mod  deg(cur)

over the adjacency ranked by dst id. Every step is a pure function of
(edge table, seed), so walks are reproducible across runs,
partitionings, AND engines: the same hash-family parameterization as
minhash (dedup.py:115-134) — engine default xxhash64 (JVM, fastest),
``hash_family="md5"`` bit-reproducible in DuckDB
(conv(substr(md5(...), 1, 15)) ≡ CAST('0x' || substr(md5(...), 1, 15)
AS BIGINT)), which is what the driver oracle uses.

Scale shape:

* The ranked adjacency (src_id, dst_id, rank, deg) is built with ONE
  window pass, then cached hash-partitioned by src_id; each step
  equi-joins the walk frontier against it on cur == src_id with the
  rank == H mod deg selection evaluated at probe time (a per-matched-
  row condition, NOT a second shuffle key — keying on (src, rank)
  would re-exchange the whole cached adjacency every step). A step
  therefore costs one frontier-sized shuffle plus O(deg) probe work
  per walker, emitting exactly one row per surviving walk.
* Walk state is long-format (start_id, walk_no, step, vertex_id) and
  frontier-only: step t joins only the walks still alive at t-1
  (dead-ended walks drop out of the inner join and simply end, the
  standard DeepWalk convention).
* walk_length is a small constant (5-80 in practice), so the loop is
  a bounded plan chain; lineage is cut per step via localCheckpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.scale import auto_blocks
from ..plans.superstep import observed_checkpoint


def _step_hash(step: int, seed: int, hash_family: str) -> F.Column:
    """Non-negative long hash of (seed, step, cur, walk_no, start_id).

    start_id is part of the key (r4 ADVICE): without it, two walks with
    the same walk_no that meet at the same vertex at the same step would
    coalesce and share their entire suffix, correlating the corpus
    versus DeepWalk-style independent sampling."""
    if hash_family == "xxhash64":
        return F.xxhash64(
            F.lit(seed), F.lit(step), F.col("cur"), F.col("walk_no"),
            F.col("start_id"),
        )
    if hash_family == "md5":
        s = F.concat_ws(
            ":",
            F.lit(str(seed)),
            F.lit(str(step)),
            F.col("cur").cast("string"),
            F.col("walk_no").cast("string"),
            F.col("start_id").cast("string"),
        )
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_family {hash_family!r}")


def ranked_adjacency(edges: DataFrame) -> DataFrame:
    """(src_id, dst_id) → (src_id, dst_id, rank, deg) with rank in
    [0, deg) ordered by dst_id (deterministic, engine-replicable)."""
    e = edges.select("src_id", "dst_id").distinct()
    w = Window.partitionBy("src_id").orderBy("dst_id")
    ranked = e.withColumn("rank", F.row_number().over(w) - F.lit(1))
    deg = e.groupBy("src_id").agg(F.count("*").cast("long").alias("deg"))
    return ranked.join(deg, "src_id")


def random_walks(
    spark: SparkSession,
    edges: DataFrame,
    walk_length: int = 5,
    num_walks: int = 1,
    starts: DataFrame | None = None,
    seed: int = 0,
    hash_family: str = "xxhash64",
    num_blocks: int | None = None,
) -> DataFrame:
    """Returns long-format walks: (start_id, walk_no, step, vertex_id)
    with step 0 = the start vertex. ``starts`` (one id column)
    defaults to every vertex with at least one out-edge. Walks that
    reach a vertex with no out-edges end early."""
    p = num_blocks or auto_blocks(
        edges.count(), spark.sparkContext.defaultParallelism
    )

    adj = ranked_adjacency(edges).repartition(p, "src_id").persist()
    adj.count()

    if starts is None:
        s = adj.select(F.col("src_id").alias("id")).distinct()
    else:
        s = starts.select(F.col(starts.columns[0]).alias("id")).distinct()
    walk_nos = spark.range(num_walks).select(F.col("id").alias("walk_no"))
    cur = (
        s.crossJoin(walk_nos)
        .select(
            F.col("id").alias("start_id"),
            "walk_no",
            F.col("id").alias("cur"),
        )
        .repartition(p, "cur")
        .localCheckpoint(eager=True)
    )
    out = cur.select(
        "start_id", "walk_no", F.lit(0).alias("step"),
        F.col("cur").alias("vertex_id"),
    )

    for step in range(1, walk_length + 1):
        pick = F.pmod(_step_hash(step, seed, hash_family), F.col("deg"))
        # live-walk count rides the checkpoint as an observed metric —
        # the former limit(1).count() early-exit probe job is gone
        nxt, m = observed_checkpoint(
            cur.hint("shuffle_hash")
            .join(adj, cur.cur == adj.src_id)
            .filter(F.col("rank") == pick)
            .select("start_id", "walk_no", F.col("dst_id").alias("cur")),
            n=F.count(F.lit(1)),
        )
        out = out.unionByName(
            nxt.select(
                "start_id", "walk_no", F.lit(step).alias("step"),
                F.col("cur").alias("vertex_id"),
            )
        )
        cur = nxt
        if m["n"] == 0:
            break

    adj.unpersist()
    return out


def _step_hash2(step: int, seed: int, hash_family: str) -> F.Column:
    """Second-order variant of _step_hash: keys additionally on ``prev``
    (the node2vec transition distribution is a function of the LAST
    EDGE, not just the current vertex)."""
    if hash_family == "xxhash64":
        return F.xxhash64(
            F.lit(seed), F.lit(step), F.col("cur"), F.col("prev"),
            F.col("walk_no"), F.col("start_id"),
        )
    if hash_family == "md5":
        s = F.concat_ws(
            ":",
            F.lit(str(seed)),
            F.lit(str(step)),
            F.col("cur").cast("string"),
            F.col("prev").cast("string"),
            F.col("walk_no").cast("string"),
            F.col("start_id").cast("string"),
        )
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_family {hash_family!r}")


def biased_walks(
    spark: SparkSession,
    edges: DataFrame,
    walk_length: int = 5,
    num_walks: int = 1,
    starts: DataFrame | None = None,
    seed: int = 0,
    return_weight: int = 1,
    common_weight: int = 1,
    far_weight: int = 1,
    hash_family: str = "xxhash64",
    num_blocks: int | None = None,
) -> DataFrame:
    """node2vec-style second-order biased walks (Grover & Leskovec 2016),
    deterministic by the same hash-seeding contract as ``random_walks``.

    From (prev → cur), candidate x gets INTEGER weight

        return_weight  if x == prev           (node2vec 1/p)
        common_weight  if edge(prev, x)       (distance 1 from prev)
        far_weight     otherwise              (node2vec 1/q)

    and step t of walk (v0, w) picks the candidate (candidates ordered
    by dst id) whose cumulative-weight interval contains
    ``H(seed, t, cur, prev, w, v0) mod total_weight``. Integer weights
    make every cumulative sum and threshold EXACT — no IEEE summation-
    order hazard — so the walk is bit-reproducible across runs,
    partitionings, and engines (md5 family replays in DuckDB, exactly
    like random_walks). Express node2vec's (p, q) as the integer ratio
    (k/p, k, k/q); the distribution only depends on the ratios.

    Step 1 has no prev and is the uniform first-order rank selection.

    Scale shape: on top of random_walks' frontier discipline, each step
    adds (a) a per-walker scan of deg(cur) candidates inside ONE window
    partition — bounded by max out-degree, the documented hub contract —
    and (b) one equi-join of those candidates against the edge-pair set
    on (prev, x), which is cached hash-partitioned by (src_id, dst_id)
    once so only the candidate side shuffles per step.
    """
    for name, v in (("return_weight", return_weight),
                    ("common_weight", common_weight),
                    ("far_weight", far_weight)):
        if not isinstance(v, int) or v < 0:
            raise ValueError(f"{name} must be a non-negative int, got {v!r}")
    if return_weight + common_weight + far_weight == 0:
        raise ValueError("at least one weight must be positive")
    p = num_blocks or auto_blocks(
        edges.count(), spark.sparkContext.defaultParallelism
    )

    adj = ranked_adjacency(edges).repartition(p, "src_id").persist()
    adj.count()
    pairs = (
        adj.select(
            F.col("src_id").alias("p_src"), F.col("dst_id").alias("p_dst")
        )
        .withColumn("_common", F.lit(True))
        .repartition(p, "p_src", "p_dst")
        .persist()
    )
    pairs.count()

    if starts is None:
        s = adj.select(F.col("src_id").alias("id")).distinct()
    else:
        s = starts.select(F.col(starts.columns[0]).alias("id")).distinct()
    walk_nos = spark.range(num_walks).select(F.col("id").alias("walk_no"))
    cur = (
        s.crossJoin(walk_nos)
        .select(
            F.col("id").alias("start_id"),
            "walk_no",
            F.lit(None).cast("long").alias("prev"),
            F.col("id").alias("cur"),
        )
        .repartition(p, "cur")
        .localCheckpoint(eager=True)
    )
    out = cur.select(
        "start_id", "walk_no", F.lit(0).alias("step"),
        F.col("cur").alias("vertex_id"),
    )

    w_cum = Window.partitionBy("start_id", "walk_no").orderBy("dst_id")
    w_tot = Window.partitionBy("start_id", "walk_no")

    for step in range(1, walk_length + 1):
        if step == 1:
            # no prev yet: uniform first-order rank selection
            pick = F.pmod(_step_hash(step, seed, hash_family), F.col("deg"))
            nxt, m = observed_checkpoint(
                cur.hint("shuffle_hash")
                .join(adj, cur.cur == adj.src_id)
                .filter(F.col("rank") == pick)
                .select(
                    "start_id", "walk_no",
                    F.col("cur").alias("prev"),
                    F.col("dst_id").alias("cur"),
                ),
                n=F.count(F.lit(1)),
            )
        else:
            cand = (
                cur.hint("shuffle_hash")
                .join(adj, cur.cur == adj.src_id)
                .join(
                    pairs,
                    (F.col("prev") == F.col("p_src"))
                    & (F.col("dst_id") == F.col("p_dst")),
                    "left",
                )
                .select(
                    "start_id", "walk_no", "prev", "cur", "dst_id",
                    F.when(F.col("dst_id") == F.col("prev"),
                           F.lit(return_weight))
                    .when(F.col("_common").isNotNull(), F.lit(common_weight))
                    .otherwise(F.lit(far_weight))
                    .cast("long")
                    .alias("wgt"),
                )
            )
            # tot == 0 (every candidate weight zero) ends the walk: the
            # when() guard keeps pmod off the zero modulus regardless of
            # predicate evaluation order (NULL r fails both comparisons)
            r = F.when(
                F.col("tot") > 0,
                F.pmod(_step_hash2(step, seed, hash_family), F.col("tot")),
            )
            nxt, m = observed_checkpoint(
                cand.withColumn("cum", F.sum("wgt").over(w_cum))
                .withColumn("tot", F.sum("wgt").over(w_tot))
                .filter((F.col("cum") - F.col("wgt") <= r) & (r < F.col("cum")))
                .select(
                    "start_id", "walk_no",
                    F.col("cur").alias("prev"),
                    F.col("dst_id").alias("cur"),
                ),
                n=F.count(F.lit(1)),
            )
        out = out.unionByName(
            nxt.select(
                "start_id", "walk_no", F.lit(step).alias("step"),
                F.col("cur").alias("vertex_id"),
            )
        )
        cur = nxt
        # live-walk count observed on the checkpoint (no probe job)
        if m["n"] == 0:
            break

    adj.unpersist()
    pairs.unpersist()
    return out
