"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k (exact, correct at any k). Scale
path: random-hyperplane LSH bucketing — queries probe only their own
bucket (plus optional multi-probe neighbors), turning the O(N·Q) cross
product into per-bucket joins; and a numpy-batched Pandas-UDF kernel
for the dot products when the corpus partition fits a batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine
from ..plans.superstep import local_rows


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query. The query side is
    broadcast (queries are small relative to the corpus); ties broken
    deterministically by neighbor id. Returns
    (query_id, neighbor_id, cos, rank)."""
    q = queries.select(
        F.col(q_id).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    c = corpus.select(
        F.col(c_id).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket(vec_col: F.Column, planes: list[list[float]]) -> F.Column:
    """Random-hyperplane signature → integer bucket (sign bits)."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        d = F.aggregate(
            F.zip_with(vec_col, F.array(*[F.lit(x) for x in plane]), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(d > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's hyperplane
    bucket. Recall grows with fewer planes / multi-probing; the bucket
    join replaces the full cross product (the 100 TB path)."""
    planes = _hyperplanes(dim, n_planes, seed)
    q = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("bucket", lsh_bucket(F.col("qv"), planes))
    c = corpus.select(
        F.col(c_id).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("bucket", lsh_bucket(F.col("cv"), planes))
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 10,
    n_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs (cosine ≥ threshold) via multi-table
    random-hyperplane LSH — the bucketed scale path that replaces the
    all-pairs cross join.

    ``n_tables`` independent tables of ``n_planes`` sign bits each:
    a pair is a candidate iff it collides in ANY table (recall
    1-(1-p^b)^L with p = 1-θ/π), then candidates are verified by exact
    cosine. Every join is an equi-join on (table, bucket) — no
    BroadcastNestedLoopJoin anywhere in the plan. Deterministic given
    (seed, n_planes, n_tables): the SQL oracle replicates the identical
    plane constants, so results are exactly reproducible.

    Returns (id_a, id_b, cos) with id_a < id_b.
    """
    if dim is None:
        # single-row probe: one narrow job reading one row(-group) —
        # O(1) in corpus size, so acceptable at any scale; pass ``dim``
        # to skip the extra job entirely in production pipelines.
        dim = len(embeddings.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes * n_tables, seed)
    v = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("ev")
    )
    per_table = [
        v.select(
            "vid",
            F.lit(t).alias("t"),
            lsh_bucket(F.col("ev"), planes[t * n_planes : (t + 1) * n_planes]).alias(
                "bucket"
            ),
        )
        for t in range(n_tables)
    ]
    buckets = per_table[0]
    for b in per_table[1:]:
        buckets = buckets.unionByName(b)
    a = buckets.select(F.col("vid").alias("id_a"), "t", "bucket")
    b = buckets.select(F.col("vid").alias("id_b"), "t", "bucket")
    cands = (
        a.join(b, ["t", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = v.select(F.col("vid").alias("id_a"), F.col("ev").alias("va"))
    vb = v.select(F.col("vid").alias("id_b"), F.col("ev").alias("vb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def numpy_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact top-k with a numpy-batched kernel: the (small) query matrix
    is broadcast to every corpus partition; each Arrow batch computes a
    dense Q×B cosine block and emits per-batch partial top-k, reduced by
    a final window. Same results as brute_force_topk, far fewer JVM⇄
    expression ops per element — the vectorized Pandas-UDF path.

    The query side is a documented SMALL-SIDE: it is collected to the
    driver and broadcast, so its size is enforced mechanically via
    ``max_queries`` (same contract pattern as dag._assert_contracted_
    size) — above the cap, partition the query set or use lsh_topk/
    ivf_topk, whose query sides stay distributed."""
    spark = queries.sparkSession
    qrows = queries.select(q_id, vec_col).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"numpy_topk broadcasts the query side to every partition: "
            f"input has > {max_queries} queries; chunk the query set or "
            f"raise max_queries explicitly"
        )
    q_ids = np.array([r[0] for r in qrows], dtype="int64")
    q_mat = np.array([r[1] for r in qrows], dtype="float64")
    q_norm = np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_norm[q_norm == 0] = 1.0
    qn = q_mat / q_norm
    bq_ids = spark.sparkContext.broadcast(q_ids)
    bq = spark.sparkContext.broadcast(qn)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qi = bq_ids.value
        qm = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["neighbor_id"].to_numpy()
            c_mat = np.vstack(pdf["cv"].to_numpy()).astype("float64")
            c_norm = np.linalg.norm(c_mat, axis=1, keepdims=True)
            c_norm[c_norm == 0] = 1.0
            sims = qm @ (c_mat / c_norm).T  # Q x B
            # k+1: self-matches are dropped after selection, so keep one
            # spare candidate per batch or a query could come up short.
            kk = min(k + 1, sims.shape[1])
            idx = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            rows = {
                "query_id": np.repeat(qi, kk),
                "neighbor_id": c_ids[idx].ravel(),
                "cos": np.take_along_axis(sims, idx, axis=1).ravel(),
            }
            out = pd.DataFrame(rows)
            yield out[out["query_id"] != out["neighbor_id"]]

    c = corpus.select(
        F.col(c_id).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    partial = c.mapInPandas(kernel, "query_id long, neighbor_id long, cos double")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return partial.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    seed: int = 42,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_rows: int = 100_000,
) -> DataFrame:
    """IVF (inverted-file) ANN — the coarse-quantizer scale path next to
    LSH: a KMeans codebook over the corpus assigns every vector to its
    nearest of ``n_cells`` centroid cells (one fit + one transform);
    each query probes only its ``n_probe`` nearest cells, so the scored
    join touches ~n_probe/n_cells of the corpus instead of all of it,
    via a plain equi-join on cell id. ``n_probe == n_cells`` degrades
    to exact brute force over a partitioned corpus (tested property).
    Returns (query_id, neighbor_id, cos, rank).

    Scale shape: the codebook is tiny (n_cells × dim) and rides a
    broadcast; the KMeans coarse quantizer is fit on a SEEDED BOUNDED
    SAMPLE of the corpus (``fit_sample_rows``, standard IVF practice —
    centroid quality converges long before the sample does, and fitting
    on the full corpus would cost O(N·k·iters) full passes at 100 TB);
    corpus assignment is one ML transform over everything (no shuffle
    beyond the fit); the probe join shuffles on cell id with per-cell
    fan-out bounded by cell population — the standard IVF sharding.
    Guidance: n_cells ~ sqrt(N) at scale, fit_sample_rows >= 100 ×
    n_cells."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(c_id).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    feat = c.withColumn("_fv", array_to_vector("cv"))
    # sampled-fit contract: deterministic given (seed, corpus) —
    # independent of partitioning (r4 ADVICE: sample(...).limit(...) is
    # partition-order dependent). The sample is the fit_sample_rows
    # corpus rows with the LOWEST pmod(xxhash64(id, seed), 2^31): a pure
    # function of row identity, so repartitioned/re-read corpora fit the
    # identical codebook. Two phases so no corpus-sized sort exists:
    # a hash-threshold FILTER keeps ~1.5x the target (uniform hash =>
    # binomial concentration; shortfall odds are negligible at 1.5x and
    # a short sample would only perturb centroid quality, not
    # correctness), then an exact bounded rank over that small survivor
    # set. One count() pass sizes the branch (the fit itself is
    # multi-pass, so this is not the dominant cost); below the cap the
    # sample IS the full corpus, so the exactness tests (probe-all ==
    # brute force) are unaffected.
    n_corpus = feat.count()
    if n_corpus > fit_sample_rows:
        mod = 1 << 31
        thresh = int(min(1.0, 1.5 * fit_sample_rows / n_corpus) * mod)
        hcol = F.pmod(F.xxhash64(F.col("neighbor_id"), F.lit(seed)), F.lit(mod))
        w_fit = Window.orderBy(F.col("_fh").asc(), F.col("neighbor_id").asc())
        fit_input = (
            feat.withColumn("_fh", hcol)
            .filter(F.col("_fh") < thresh)
            .withColumn("_fr", F.row_number().over(w_fit))
            .filter(F.col("_fr") <= fit_sample_rows)
            .drop("_fh", "_fr")
        )
    else:
        fit_input = feat
    model = KMeans(k=n_cells, seed=seed, featuresCol="_fv", predictionCol="cell").fit(fit_input)
    assigned = model.transform(feat).select("neighbor_id", "cv", "cell")

    centers = [
        (int(i), [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())
    ]
    spark = corpus.sparkSession
    cdf = local_rows(spark, centers, "cell int, centroid array<double>")

    q = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    # squared L2 distance to every centroid (n_cells rows per query — a
    # broadcast fan-out of a tiny table), keep the n_probe nearest cells
    d2 = F.aggregate(
        F.zip_with("qv", "centroid", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w_cell = Window.partitionBy("query_id").orderBy(F.col("_d2").asc(), F.col("cell").asc())
    probes = (
        q.crossJoin(F.broadcast(cdf))
        .withColumn("_d2", d2)
        .withColumn("_pr", F.row_number().over(w_cell))
        .filter(F.col("_pr") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    scored = (
        probes.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
