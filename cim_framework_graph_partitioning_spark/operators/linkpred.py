"""Link prediction over the undirected graph: Adamic-Adar and
common-neighbor scores for non-adjacent vertex pairs.

AA(a, b) = sum over common neighbors z of 1 / ln(deg(z)) — the classic
wedge-weighted score (Adamic & Adar 2003). The reference has no link
prediction; this is a standard next-ask on a dependency/link graph
("what SHOULD probably be connected"), and it composes entirely from
relational ops: one wedge self-join keyed on the shared neighbor, one
anti-join against the existing edge set, one aggregation.

Scale shape:

* The wedge join is keyed on the CENTER vertex z, so its cost is
  sum(deg(z)^2) — dominated by hubs. ``max_degree`` drops centers
  above the cap BEFORE the self-join (hub wedges carry near-zero AA
  weight anyway: 1/ln(deg) vanishes as deg grows, and a 100-TB graph's
  top hubs would otherwise contribute quadratic work for epsilon
  score). Same df-cap discipline as ngram_jaccard_pairs' stop-shingle
  cap (dedup.py).
* Candidate pairs never materialize beyond the aggregated (a, b)
  space; the existing-edge anti-join is a broadcast-free equi-join on
  the pair key.
* Determinism: the score sum's addend ORDER is partition-dependent
  (doubles), so callers round before comparing across engines; ties in
  top-k are broken by (a, b).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .edges import undirected_pairs


def adamic_adar_pairs(
    edges: DataFrame,
    max_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """Returns (src_id, dst_id, common_neighbors, aa_score) for every
    NON-adjacent pair src_id < dst_id with >= ``min_common`` common
    neighbors (centers above ``max_degree`` excluded from wedges)."""
    # Materialize the symmetrized edge table ONCE: the returned plan
    # scans it three times (wedge join x2 + the anti-join), and it must
    # still be materialized when the CALLER executes that plan — a
    # persist/unpersist pair inside this function would be released
    # before the first action (r4 VERDICT #5). localCheckpoint ties the
    # cached RDD's lifetime to the returned plan: the context cleaner
    # frees it when the caller drops the result.
    und = undirected_pairs(edges).localCheckpoint(eager=True)
    deg = und.groupBy(F.col("src_id").alias("z")).agg(
        F.count("*").cast("long").alias("deg")
    )
    if max_degree is not None:
        deg = deg.filter(F.col("deg") <= max_degree)
    # half-edges annotated with the center's degree weight
    half = und.select(F.col("src_id").alias("z"), F.col("dst_id").alias("v")).join(
        deg, "z"
    )
    a = half.select("z", F.col("v").alias("src_id"), "deg")
    b = half.select("z", F.col("v").alias("dst_id"))
    wedges = a.join(b, "z").filter(F.col("src_id") < F.col("dst_id"))
    scored = wedges.groupBy("src_id", "dst_id").agg(
        F.count("*").cast("long").alias("common_neighbors"),
        F.sum(1.0 / F.log(F.col("deg").cast("double"))).alias("aa_score"),
    )
    return scored.join(und, ["src_id", "dst_id"], "left_anti").filter(
        F.col("common_neighbors") >= min_common
    )


def neighbor_overlap_pairs(
    edges: DataFrame,
    max_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """The full classical neighbor-overlap score family for
    NON-adjacent pairs src_id < dst_id (Liben-Nowell & Kleinberg 2007
    survey): common_neighbors, Jaccard |N(a) ∩ N(b)| / |N(a) ∪ N(b)|,
    resource-allocation sum 1/deg(z) (Zhou et al. 2009), and
    preferential attachment deg(a) * deg(b).

    Same wedge plan + hub-cap discipline as ``adamic_adar_pairs``;
    the cap applies to wedge CENTERS only — endpoint degrees for
    Jaccard/PA are always the full uncapped degrees (a capped
    denominator would silently change the score definition).
    """
    und = undirected_pairs(edges).localCheckpoint(eager=True)
    deg_full = und.groupBy(F.col("src_id").alias("z")).agg(
        F.count("*").cast("long").alias("deg")
    )
    centers = deg_full
    if max_degree is not None:
        centers = deg_full.filter(F.col("deg") <= max_degree)
    half = und.select(F.col("src_id").alias("z"), F.col("dst_id").alias("v")).join(
        centers, "z"
    )
    a = half.select("z", F.col("v").alias("src_id"), "deg")
    b = half.select("z", F.col("v").alias("dst_id"))
    wedges = a.join(b, "z").filter(F.col("src_id") < F.col("dst_id"))
    scored = wedges.groupBy("src_id", "dst_id").agg(
        F.count("*").cast("long").alias("common_neighbors"),
        F.sum(1.0 / F.col("deg").cast("double")).alias("ra_score"),
    )
    da = deg_full.select(F.col("z").alias("src_id"), F.col("deg").alias("deg_a"))
    db = deg_full.select(F.col("z").alias("dst_id"), F.col("deg").alias("deg_b"))
    return (
        scored.join(und, ["src_id", "dst_id"], "left_anti")
        .filter(F.col("common_neighbors") >= min_common)
        .join(da, "src_id")
        .join(db, "dst_id")
        .select(
            "src_id",
            "dst_id",
            "common_neighbors",
            (
                F.col("common_neighbors").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common_neighbors"))
            ).alias("jaccard"),
            "ra_score",
            (F.col("deg_a") * F.col("deg_b")).cast("long").alias("pref_attach"),
        )
    )
