"""Whole-graph summary metrics: degree assortativity and modularity.

Both are one-shot aggregates engineered so every SUM is over INTEGERS
(degrees, counts) — long arithmetic is exact and order-free, so the
final scalar is bit-reproducible across engines and partitionings; the
only floating-point happens in a fixed handful of terminal ops
(multiply/divide/sqrt — all IEEE-exact given exact inputs). The
integer sums fit a long for any graph with < ~3e9 edges of degree
< ~1e9 per the products below; beyond that, swap the sum columns to
DECIMAL(38,0) (documented contract, asserted nowhere hot).

Scale shape: one groupBy(degree) or join+aggregate pass over the edge
table each — single shuffle, map-side combined, no driver-side data
beyond the scalar row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .edges import undirected_pairs


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Pearson correlation of endpoint degrees over the undirected
    simple graph (Newman 2002). Returns one row
    (n_edges long, assortativity double); assortativity is NULL for
    degree-regular graphs (zero variance — 0/0 in the formula).

    Both edge directions of each undirected edge enter the sums
    (the standard convention: the correlation is over ordered endpoint
    pairs, making it symmetric without a half-weight correction)."""
    und = undirected_pairs(edges).localCheckpoint(eager=True)
    deg = und.groupBy(F.col("src_id").alias("id")).agg(
        F.count("*").cast("long").alias("deg")
    )
    pairs = (
        und.join(deg.select(F.col("id").alias("src_id"),
                            F.col("deg").alias("dx")), "src_id")
        .join(deg.select(F.col("id").alias("dst_id"),
                         F.col("deg").alias("dy")), "dst_id")
    )
    s = pairs.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    m = F.col("m").cast("double")
    num = m * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    varx = m * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vary = m * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    return s.select(
        (F.col("m") / 2).cast("long").alias("n_edges"),
        F.when(
            (varx > 0) & (vary > 0), num / F.sqrt(varx * vary)
        ).alias("assortativity"),
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a vertex partition over the undirected
    simple graph: Q = sum over communities c of
    (within_c / m  -  (deg_c / (2m))^2), with m = undirected edge
    count, within_c = undirected edges with both endpoints in c,
    deg_c = total degree of c's vertices. Returns one row
    (n_edges long, n_communities long, modularity double).

    ``labels``: (id, label). Vertices missing a label are treated as
    their own singleton community (matching how LPA emits isolated
    vertices). All sums are integral; the Q fold happens over the
    community-sorted array so the floating addition order is pinned
    (same discipline as BM25)."""
    und = (
        undirected_pairs(edges)
        .filter(F.col("src_id") < F.col("dst_id"))
        .localCheckpoint(eager=True)
    )
    lab = labels.select("id", "label")
    e_lab = (
        und.join(lab.select(F.col("id").alias("src_id"),
                            F.col("label").alias("lx")), "src_id", "left")
        .join(lab.select(F.col("id").alias("dst_id"),
                         F.col("label").alias("ly")), "dst_id", "left")
        .select(
            F.coalesce(F.col("lx"), F.col("src_id")).alias("lx"),
            F.coalesce(F.col("ly"), F.col("dst_id")).alias("ly"),
        )
    )
    m_row = e_lab.agg(F.count("*").cast("long").alias("m"))
    within = (
        e_lab.filter(F.col("lx") == F.col("ly"))
        .groupBy(F.col("lx").alias("c"))
        .agg(F.count("*").cast("long").alias("within"))
    )
    # community degree: each undirected edge adds 1 to both endpoints
    ends = e_lab.select(F.col("lx").alias("c")).unionByName(
        e_lab.select(F.col("ly").alias("c"))
    )
    cdeg = ends.groupBy("c").agg(F.count("*").cast("long").alias("cdeg"))
    per_c = cdeg.join(within, "c", "left").select(
        "c", "cdeg", F.coalesce(F.col("within"), F.lit(0)).alias("within")
    )
    return (
        per_c.crossJoin(F.broadcast(m_row))
        .select(
            "m",
            F.struct(
                "c",
                (
                    F.col("within").cast("double") / F.col("m")
                    # explicit t*t, not pow(t, 2): Math.pow carries no
                    # bit-exactness guarantee, multiplication does
                    - (F.col("cdeg").cast("double") / (2.0 * F.col("m")))
                    * (F.col("cdeg").cast("double") / (2.0 * F.col("m")))
                ).alias("q"),
            ).alias("cq"),
        )
        .groupBy("m")
        .agg(
            F.count("*").cast("long").alias("n_communities"),
            F.aggregate(
                F.sort_array(F.collect_list("cq")),
                F.lit(0.0),
                lambda acc, x: acc + x["q"],
            ).alias("modularity"),
        )
        .select(
            F.col("m").alias("n_edges"), "n_communities", "modularity"
        )
    )
