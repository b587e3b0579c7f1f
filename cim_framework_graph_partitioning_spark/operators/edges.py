"""Edge-table derivation: corpus → (vertices, edges), and the graph prep
every operator shares.

The reference builds its dependency DAG by hashing producers on output
tensor name and probing with consumer input names — an equi-join on name
(reference: graph.py:7-24; uniqueness assert graph.py:14). Here the same
semantics run as a distributed Spark join:

  defs(symbol → file)   — JVM regexp on the module header
  refs(file → symbol)   — vectorized pandas-UDF extraction, exploded
  edges = refs ⋈ defs on symbol, grouped to (src_id, dst_id, weight)

Unlike the reference we do NOT assert single-consumer/single-output
(SURVEY §4.5#6): a module imported by many files yields many edges.

Vertex ids are ``xxhash64(repo, path)`` — deterministic, assignable with
zero shuffle at any scale (no global row_number bottleneck). At 10^12
files the 64-bit birthday collision probability is ~2.7%; no dense-id
path exists, and tests verify the hash path collision-free at test
sizes.

Graph prep: every operator takes its vertex set, undirected pairs,
probe-keyed edge table and loop-free weighted pairs from ``vertex_set``,
``undirected_pairs``, ``probe_edges`` and ``weighted_pairs`` below, each
with one fixed contract. ``symmetrize`` keeps self-loops for the callers
that count them.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import content_sha256, defined_symbol, extract_refs


def vertex_id(repo: str = "repo", path: str = "path") -> F.Column:
    return F.xxhash64(F.col(repo), F.col(path))


@dataclass
class Graph:
    """Derived graph: vertices(id, repo, path, content_sha256),
    edges(src_id, dst_id, weight), out_degrees(id, out_degree)."""

    vertices: DataFrame
    edges: DataFrame

    def out_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("src_id").alias("id")).agg(
            F.sum("weight").alias("out_weight"), F.count("*").alias("out_degree")
        )

    def in_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("dst_id").alias("id")).agg(
            F.sum("weight").alias("in_weight"), F.count("*").alias("in_degree")
        )


def derive_vertices(files: DataFrame) -> DataFrame:
    return files.select(
        vertex_id().alias("id"),
        "repo",
        "path",
        content_sha256().alias("content_sha256"),
    )


def derive_edges(files: DataFrame) -> Graph:
    """files(repo, path, commit, lang, content) → Graph.

    Plan shape (checked via .explain in tests/bench): one shuffle for the
    symbol equi-join, one for the (src,dst) aggregation; the pandas UDF
    runs inside the scan stage (Arrow exchange), filters/pruning pushed
    to parquet when files comes from disk.
    """
    vertices = derive_vertices(files)

    defs = files.select(
        vertex_id().alias("dst_id"),
        defined_symbol().alias("symbol"),
    ).filter(F.col("symbol") != "")

    refs = files.select(
        vertex_id().alias("src_id"),
        F.explode(extract_refs(F.col("content"), F.col("lang"))).alias("symbol"),
    )

    edges = (
        refs.join(defs, "symbol", "inner")
        .filter(F.col("src_id") != F.col("dst_id"))
        .groupBy("src_id", "dst_id")
        .agg(F.count("*").cast("double").alias("weight"))
    )
    return Graph(vertices=vertices, edges=edges)


def assert_content_integrity(files: DataFrame, vertices: DataFrame) -> None:
    """Per-row sha256(content) equality between source and derived table
    (end-to-end invariant, BASELINE.json input_hint). Raises on mismatch."""
    src = files.select(
        vertex_id().alias("id"), content_sha256().alias("sha_src")
    )
    joined = src.join(vertices.select("id", "content_sha256"), "id", "full_outer")
    bad = joined.filter(
        F.col("sha_src").isNull()
        | F.col("content_sha256").isNull()
        | (F.col("sha_src") != F.col("content_sha256"))
    ).count()
    if bad:
        raise AssertionError(f"content sha256 integrity violated for {bad} rows")


def vertex_set(edges: DataFrame) -> DataFrame:
    """(id): the distinct endpoints of ``edges``. A vertex whose only
    edge is a self-loop is in it (MIS and SCC emit it as isolated)."""
    return (
        edges.select(F.col("src_id").alias("id"))
        .unionByName(edges.select(F.col("dst_id").alias("id")))
        .distinct()
    )


def _loop_free(edges: DataFrame) -> DataFrame:
    return edges.select("src_id", "dst_id").filter(F.col("src_id") != F.col("dst_id"))


def undirected_pairs(edges: DataFrame) -> DataFrame:
    """(src_id, dst_id): the simple undirected graph, each pair in both
    orientations once, self-loops dropped. Lazy: a caller that scans it
    from several subtrees checkpoints it."""
    e = _loop_free(edges)
    return e.unionByName(
        e.select(F.col("dst_id").alias("src_id"), F.col("src_id").alias("dst_id"))
    ).distinct()


def probe_edges(edges: DataFrame, p: int) -> DataFrame:
    """(e_v, e_u): the pairs of ``undirected_pairs``, hash-partitioned
    by the probe key ``e_u`` into ``p`` partitions, for a loop that
    joins its (id, ...) state on ``id == e_u`` and aggregates per
    ``e_v``.

    ONE exchange: repartition by e_u, then dedup in place. hash(e_u)
    already clusters every (e_v, e_u) group, so the dedup needs no
    second exchange; deduplicating first and repartitioning after
    costs two. Renamed columns also keep a loop whose init state
    derives from the same edge plan free of an ambiguous self-join."""
    e = _loop_free(edges)
    return (
        e.select(F.col("src_id").alias("e_v"), F.col("dst_id").alias("e_u"))
        .unionByName(
            e.select(F.col("dst_id").alias("e_v"), F.col("src_id").alias("e_u"))
        )
        .repartition(p, "e_u")
        .dropDuplicates(["e_v", "e_u"])
    )


def weighted_pairs(edges: DataFrame) -> DataFrame:
    """(src_id, dst_id, w): the simple undirected weighted graph.
    Self-loops dropped; the weights of (a, b) and (b, a) are summed
    into one canonical (least, greatest) pair, emitted in both
    orientations."""
    canon = (
        edges.filter(F.col("src_id") != F.col("dst_id"))
        .select(
            F.least("src_id", "dst_id").alias("a"),
            F.greatest("src_id", "dst_id").alias("b"),
            "weight",
        )
        .groupBy("a", "b")
        .agg(F.sum("weight").alias("w"))
    )
    return canon.select(
        F.col("a").alias("src_id"), F.col("b").alias("dst_id"), "w"
    ).unionByName(
        canon.select(F.col("b").alias("src_id"), F.col("a").alias("dst_id"), "w")
    )


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view: both orientations, weights summed per pair."""
    fwd = edges.select("src_id", "dst_id", "weight")
    rev = edges.select(
        F.col("dst_id").alias("src_id"),
        F.col("src_id").alias("dst_id"),
        "weight",
    )
    return (
        fwd.unionByName(rev)
        .groupBy("src_id", "dst_id")
        .agg(F.sum("weight").alias("weight"))
    )
