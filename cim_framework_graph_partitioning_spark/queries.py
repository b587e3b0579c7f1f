"""Driver-contract query catalog: every implemented operator exposed as
(spark_fn, oracle_sql) over the shared testdata tables.

Each Spark callable takes (spark, sf_dir) → DataFrame; the oracle is the
equivalent ANSI SQL DuckDB runs on the same parquet (views pre-registered
by the driver). Column names/aliases match exactly; floats are rounded
identically on both sides so the value-hash comparison is stable.

Operators with no SQL-expressible equivalent (iterative-to-convergence,
LSH internals) carry ``oracle=None`` → the driver records a rows-only
check (documented per entry).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.text import lang_id, punct_ratio, quality_score, token_count
from .operators.components import connected_components
from .operators.dedup import (
    exact_duplicates,
    minhash_near_duplicates,
    near_dup_clusters,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from .operators.edges import derive_edges
from .operators.hits import hits
from .operators.kcore import coreness
from .operators.truss import trussness
from .operators.labelprop import label_propagation
from .operators.linkpred import adamic_adar_pairs
from .operators.pagerank import pagerank
from .operators.partitioner import balanced_partition
from .operators.paths import shortest_paths
from .operators.scc import strongly_connected_components
from .operators.walks import biased_walks, random_walks
from .operators.similarity import brute_force_topk
from .operators.triangles import local_clustering_coefficient, triangle_count
from .plans.superstep import local_rows
from .sources.corpus import synthesize_corpus_modular
from .sources.fk_graphs import (
    ORDER_OFFSET,
    PART_OFFSET,
    co_part_edges,
    co_supplier_edges,
    order_chain_edges,
    order_cycle_edges,
    supplier_part_edges,
)

QueryFn = Callable[[SparkSession, str], DataFrame]


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# graph queries (edge tables from FKs; SURVEY §2.1 #6-#9, §2.3)
# --------------------------------------------------------------------------

def q_top_depended_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: top-10 most depended-on vertices (in-weight) — the
    minimum end-to-end slice from SURVEY §7.1#3."""
    e = supplier_part_edges(spark, sf_dir)
    return (
        e.groupBy(F.col("dst_id").alias("part_vertex"))
        .agg(
            F.sum("weight").alias("in_weight"),
            F.count("*").cast("long").alias("in_degree"),
        )
        .orderBy(F.col("in_weight").desc(), F.col("part_vertex").asc())
        .limit(10)
    )


_SQL_EDGES = f"""
  SELECT l_suppkey AS src_id, {PART_OFFSET} + l_partkey AS dst_id,
         CAST(count(*) AS DOUBLE) AS weight
  FROM lineitem GROUP BY 1, 2
"""

_ORACLE_TOP_DEPENDED = f"""
WITH edges AS ({_SQL_EDGES})
SELECT dst_id AS part_vertex, sum(weight) AS in_weight,
       CAST(count(*) AS BIGINT) AS in_degree
FROM edges GROUP BY 1
ORDER BY in_weight DESC, part_vertex ASC LIMIT 10
"""


def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree histogram over the supplier→part graph."""
    e = supplier_part_edges(spark, sf_dir)
    deg = e.groupBy("dst_id").agg(F.count("*").alias("in_degree"))
    return (
        deg.groupBy("in_degree")
        .agg(F.count("*").cast("long").alias("n_vertices"))
        .orderBy("in_degree")
    )


_ORACLE_DEGREE_DIST = f"""
WITH edges AS ({_SQL_EDGES}),
deg AS (SELECT dst_id, count(*) AS in_degree FROM edges GROUP BY 1)
SELECT in_degree, CAST(count(*) AS BIGINT) AS n_vertices
FROM deg GROUP BY 1 ORDER BY 1
"""


def q_pagerank_3steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three exact PageRank supersteps on the bipartite supplier→part
    graph (every part vertex is dangling — exercises the dangling-mass
    path). Oracle = hand-unrolled SQL of the identical update rule."""
    e = supplier_part_edges(spark, sf_dir)
    ranks, _ = pagerank(spark, e, damping=0.85, tol=0.0, max_iter=3)
    return ranks.select("id", F.round("rank", 10).alias("rank")).orderBy("id")


def _pagerank_sql(steps: int) -> str:
    # edges/norm MATERIALIZED: referenced once per unrolled step
    # (DuckDB inlines CTEs by default → the lineitem aggregation would
    # re-execute per step).
    pre = f"""
WITH edges AS MATERIALIZED ({_SQL_EDGES}),
verts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src_id AS id FROM edges
                                   UNION ALL SELECT dst_id FROM edges)),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM verts),
outw AS (SELECT src_id, sum(weight) AS wo FROM edges GROUP BY 1),
norm AS MATERIALIZED (SELECT src_id, dst_id, weight / wo AS frac
         FROM edges JOIN outw USING (src_id)),
r0 AS (SELECT id, 1.0 / (SELECT c FROM nn) AS rank FROM verts)"""
    body = ""
    for i in range(1, steps + 1):
        p = i - 1
        body += f""",
d{i} AS (SELECT coalesce(sum(rank), 0) AS dm FROM r{p}
        WHERE id NOT IN (SELECT src_id FROM outw)),
s{i} AS (SELECT dst_id, sum(r{p}.rank * frac) AS s
        FROM norm JOIN r{p} ON r{p}.id = norm.src_id GROUP BY 1),
r{i} AS (SELECT v.id,
               0.15 / (SELECT c FROM nn)
               + 0.85 * ((SELECT dm FROM d{i}) / (SELECT c FROM nn)
                         + coalesce(s.s, 0)) AS rank
        FROM verts v LEFT JOIN s{i} s ON v.id = s.dst_id)"""
    return pre + body + f"\nSELECT id, round(rank, 10) AS rank FROM r{steps} ORDER BY id"


def _pagerank_dynamic_sql(
    edges_sql: str,
    max_steps: int,
    tol: str = "1e-6",
    tail: str = "SELECT id, round(rank, 10) AS rank FROM final ORDER BY id",
) -> str:
    """Power iteration with a DYNAMIC stop — iterate-to-convergence IS
    SQL-expressible once the instance's step count is bounded: unroll
    ``max_steps`` exact supersteps (same update rule as _pagerank_sql),
    compute every step's L-inf delta alongside, let K = the first step
    with delta < tol (the runner's strict-< rule, the exact
    ``converged=lambda m: m["max_delta"] < tol`` check pagerank passes
    to SuperstepRunner.run), and emit r_K. If no step converges inside
    the unroll the query emits r_{max_steps}, which mismatches the
    Spark result LOUDLY instead of passing silently — so the bound is
    self-policing. Step CTEs are MATERIALIZED: each r_i is referenced
    by r_{i+1}, by two deltas, and by the final union, and DuckDB's
    default inlining would otherwise replicate the whole prefix per
    reference (exponential blowup)."""
    pre = f"""
WITH edges AS MATERIALIZED ({edges_sql}),
verts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src_id AS id FROM edges
                                   UNION ALL SELECT dst_id FROM edges)),
nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS c FROM verts),
outw AS MATERIALIZED (SELECT src_id, sum(weight) AS wo FROM edges GROUP BY 1),
norm AS MATERIALIZED (SELECT src_id, dst_id, weight / wo AS frac
         FROM edges JOIN outw USING (src_id)),
r0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT c FROM nn) AS rank FROM verts)"""
    body = ""
    for i in range(1, max_steps + 1):
        p = i - 1
        body += f""",
d{i} AS (SELECT coalesce(sum(rank), 0) AS dm FROM r{p}
        WHERE id NOT IN (SELECT src_id FROM outw)),
s{i} AS (SELECT dst_id, sum(r{p}.rank * frac) AS s
        FROM norm JOIN r{p} ON r{p}.id = norm.src_id GROUP BY 1),
r{i} AS MATERIALIZED (SELECT v.id,
               0.15 / (SELECT c FROM nn)
               + 0.85 * ((SELECT dm FROM d{i}) / (SELECT c FROM nn)
                         + coalesce(s.s, 0)) AS rank
        FROM verts v LEFT JOIN s{i} s ON v.id = s.dst_id),
dl{i} AS (SELECT max(abs(a.rank - b.rank)) AS d
        FROM r{i} a JOIN r{p} b USING (id))"""
    dls = "\nUNION ALL ".join(
        f"SELECT {i} AS i, (SELECT d FROM dl{i}) AS d"
        for i in range(1, max_steps + 1)
    )
    allr = "\nUNION ALL ".join(
        f"SELECT {i} AS i, id, rank FROM r{i}" for i in range(1, max_steps + 1)
    )
    return pre + body + f""",
dls AS ({dls}),
kk AS (SELECT coalesce(min(i), {max_steps}) AS k FROM dls WHERE d < {tol}),
final AS (SELECT id, rank FROM ({allr}) u WHERE i = (SELECT k FROM kk))
{tail}"""


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC on the co-supplier graph, exact at convergence; the oracle
    unrolls 4 min-label steps (graph diameter is tiny)."""
    e = co_supplier_edges(spark, sf_dir)
    labels, _ = connected_components(spark, e)
    return labels.orderBy("id")


_SQL_CO_SUPPLIER = """
  SELECT a.l_suppkey AS src_id, b.l_suppkey AS dst_id
  FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem) b
    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
"""


def _cc_sql(steps: int) -> str:
    # e0/und MATERIALIZED: DuckDB inlines CTEs by default, and und is
    # referenced once per unrolled step — without the hint the
    # lineitem self-join re-executes ``steps`` times (~13s → ~2s).
    pre = f"""
WITH e0 AS MATERIALIZED ({_SQL_CO_SUPPLIER}),
und AS MATERIALIZED (SELECT src_id, dst_id FROM e0
        UNION SELECT dst_id, src_id FROM e0),
verts AS (SELECT DISTINCT src_id AS id FROM und),
l0 AS (SELECT id, id AS component FROM verts)"""
    body = ""
    for i in range(1, steps + 1):
        p = i - 1
        body += f""",
m{i} AS (SELECT und.dst_id AS id, min(l{p}.component) AS nc
        FROM l{p} JOIN und ON l{p}.id = und.src_id GROUP BY 1),
l{i} AS (SELECT l{p}.id, least(l{p}.component, coalesce(m{i}.nc, l{p}.component)) AS component
        FROM l{p} LEFT JOIN m{i} ON l{p}.id = m{i}.id)"""
    return pre + body + f"\nSELECT id, component FROM l{steps} ORDER BY id"


def q_lpa_1step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synchronous LPA superstep (deterministic tie-break) on the
    co-supplier graph."""
    e = co_supplier_edges(spark, sf_dir)
    labels, _ = label_propagation(spark, e, max_iter=1)
    return labels.orderBy("id")


def _lpa_sql(steps: int) -> str:
    """Unrolled synchronous-LPA SQL (weighted votes, deterministic
    min-label tie-break), mirroring label_propagation exactly."""
    pre = f"""
WITH e0 AS ({_SQL_CO_SUPPLIER}),
und0 AS (SELECT src_id, dst_id, 1.0 AS weight FROM e0
         UNION ALL SELECT dst_id, src_id, 1.0 FROM e0),
und AS (SELECT src_id, dst_id, sum(weight) AS weight FROM und0 GROUP BY 1, 2),
verts AS (SELECT DISTINCT src_id AS id FROM und),
l0 AS (SELECT id, id AS label FROM verts)"""
    body = ""
    for i in range(1, steps + 1):
        p = i - 1
        body += f""",
votes{i} AS (SELECT und.dst_id, l{p}.label, sum(und.weight) AS wsum
          FROM l{p} JOIN und ON l{p}.id = und.src_id GROUP BY 1, 2),
ranked{i} AS (SELECT dst_id, label,
                  row_number() OVER (PARTITION BY dst_id
                                     ORDER BY wsum DESC, label ASC) AS rn
           FROM votes{i}),
l{i} AS (SELECT l{p}.id, coalesce(r.label, l{p}.label) AS label
       FROM l{p} LEFT JOIN (SELECT dst_id, label FROM ranked{i} WHERE rn = 1) r
         ON l{p}.id = r.dst_id)"""
    return pre + body + f"\nSELECT id, label FROM l{steps} ORDER BY id"


def q_lpa_2steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous LPA supersteps — exercises the cross-step label
    carry (coalesce against the PREVIOUS step's labels, not l0)."""
    e = co_supplier_edges(spark, sf_dir)
    labels, _ = label_propagation(spark, e, max_iter=2)
    return labels.orderBy("id")


def q_lpa_anchored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-constrained multi-wave LPA (the reference's signature
    routine, graph.py:30-123) on the co-supplier graph: anchors are the
    id%7==0 vertices, wave 1 may only absorb even-id satellites, wave 2
    absorbs the rest; one step per wave so the oracle unrolls exactly."""
    from .operators.labelprop import anchored_label_propagation

    e = co_supplier_edges(spark, sf_dir)
    vs = (
        e.select(F.col("src_id").alias("id"))
        .unionByName(e.select(F.col("dst_id").alias("id")))
        .distinct()
    )
    anchors = vs.filter(F.col("id") % 7 == 0).select("id", F.col("id").alias("label"))
    labels, _ = anchored_label_propagation(
        spark,
        e,
        anchors=anchors,
        waves=[F.col("dst_id") % 2 == 0, F.lit(True)],
        steps_per_wave=1,
    )
    return labels.orderBy("id")


_ORACLE_LPA_ANCHORED = f"""
WITH e0 AS ({_SQL_CO_SUPPLIER}),
und0 AS (SELECT src_id, dst_id, 1.0 AS weight FROM e0
         UNION ALL SELECT dst_id, src_id, 1.0 FROM e0),
und AS (SELECT src_id, dst_id, sum(weight) AS weight FROM und0 GROUP BY 1, 2),
verts AS (SELECT DISTINCT src_id AS id FROM und),
l0 AS (SELECT id, CASE WHEN id % 7 = 0 THEN id END AS label FROM verts),
m1 AS (SELECT und.dst_id AS id, min(l0.label) AS cand
       FROM l0 JOIN und ON l0.id = und.src_id
       WHERE l0.label IS NOT NULL AND und.dst_id % 2 = 0
       GROUP BY 1),
l1 AS (SELECT l0.id, coalesce(l0.label, m1.cand) AS label
       FROM l0 LEFT JOIN m1 USING (id)),
m2 AS (SELECT und.dst_id AS id, min(l1.label) AS cand
       FROM l1 JOIN und ON l1.id = und.src_id
       WHERE l1.label IS NOT NULL
       GROUP BY 1),
l2 AS (SELECT l1.id, coalesce(l1.label, m2.cand) AS label
       FROM l1 LEFT JOIN m2 USING (id))
SELECT id, CAST(coalesce(label, -1) AS BIGINT) AS label FROM l2 ORDER BY id
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = co_supplier_edges(spark, sf_dir)
    return triangle_count(e)


_ORACLE_TRIANGLES = f"""
WITH e AS ({_SQL_CO_SUPPLIER})
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM e a JOIN e b ON a.dst_id = b.src_id
JOIN e c ON c.src_id = a.src_id AND c.dst_id = b.dst_id
"""


def q_graph_contraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarsen the customer→supplier purchase graph by nation (the
    reference's contraction, process.py:34-88: two label joins + agg)."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    s = _read(spark, sf_dir, "supplier")
    g = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
    )
    return (
        g.groupBy(
            F.col("c_nationkey").cast("long").alias("src_nation"),
            F.col("s_nationkey").cast("long").alias("dst_nation"),
        )
        .agg(F.round(F.sum("l_quantity"), 6).alias("weight"))
        .filter(F.col("src_nation") != F.col("dst_nation"))
        .orderBy("src_nation", "dst_nation")
    )


_ORACLE_CONTRACTION = """
SELECT CAST(c.c_nationkey AS BIGINT) AS src_nation,
       CAST(s.s_nationkey AS BIGINT) AS dst_nation,
       round(sum(l.l_quantity), 6) AS weight
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY 1, 2
HAVING CAST(c.c_nationkey AS BIGINT) <> CAST(s.s_nationkey AS BIGINT)
ORDER BY 1, 2
"""


def q_frontier_indegree0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree-0 frontier (the reference's Kahn peel seed,
    graph.py:33): parts never purchased, via anti-join."""
    p = _read(spark, sf_dir, "part")
    li = _read(spark, sf_dir, "lineitem")
    return (
        p.join(li.select(F.col("l_partkey").alias("p_partkey")), "p_partkey", "left_anti")
        .select("p_partkey")
        .orderBy("p_partkey")
    )


_ORACLE_FRONTIER = """
SELECT p_partkey FROM part
WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)
ORDER BY p_partkey
"""


def q_longest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-path DP (reference graph.py:32-58, the main-chain DP) on
    the customer→order-chain DAG (depth = max orders per customer, so
    the iterative relaxation runs ~25 supersteps at sf0.01). Oracle =
    the identical relaxation hand-unrolled to fixed depth in SQL."""
    from .operators.dag import longest_path_lengths

    e = order_chain_edges(spark, sf_dir)
    dist = longest_path_lengths(spark, e)
    return dist.select("id", F.col("dist").cast("long").alias("dist")).orderBy("id")


def _longest_path_sql(steps: int) -> str:
    """Fixed-depth unrolled relaxation: d_i(v) = max(d_{i-1}(v),
    1 + max over in-neighbors d_{i-1}(u)). ``steps`` must exceed the
    DAG depth (25 at sf0.01; 32 leaves margin). Every CTE is
    MATERIALIZED: DuckDB inlines CTEs by default, and d_i referencing
    d_{i-1} twice would otherwise expand 2^steps."""
    pre = f"""
WITH r AS MATERIALIZED (SELECT o_custkey, o_orderkey,
        row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) AS rn,
        lead(o_orderkey) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS nk
        FROM orders),
edges AS MATERIALIZED (SELECT o_custkey AS src_id, o_orderkey + {ORDER_OFFSET} AS dst_id
          FROM r WHERE rn = 1
          UNION ALL
          SELECT o_orderkey + {ORDER_OFFSET}, nk + {ORDER_OFFSET}
          FROM r WHERE nk IS NOT NULL),
verts AS (SELECT DISTINCT id FROM (SELECT src_id AS id FROM edges
                                   UNION ALL SELECT dst_id FROM edges)),
d0 AS (SELECT id, CAST(0 AS BIGINT) AS dist FROM verts)"""
    body = ""
    for i in range(1, steps + 1):
        p = i - 1
        body += f""",
c{i} AS MATERIALIZED (SELECT e.dst_id AS id, max(d.dist) + 1 AS cand
        FROM edges e JOIN d{p} d ON d.id = e.src_id GROUP BY 1),
d{i} AS MATERIALIZED (SELECT d.id,
               CAST(greatest(d.dist, coalesce(c.cand, d.dist)) AS BIGINT) AS dist
        FROM d{p} d LEFT JOIN c{i} c USING (id))"""
    return pre + body + f"\nSELECT id, dist FROM d{steps} ORDER BY id"



# --------------------------------------------------------------------------
# relational operator coverage (SURVEY §2.2)
# --------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").cast("long").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 6) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       round(avg(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("total_spent"),
             F.count("*").cast("long").alias("n_orders"))
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


_ORACLE_TOP_CUSTOMERS = """
SELECT c_custkey, c_name, round(sum(o_totalprice), 4) AS total_spent,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2 ORDER BY total_spent DESC, c_custkey ASC LIMIT 10
"""


def q_monthly_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed cumulative monthly revenue (window-function coverage)."""
    o = _read(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.sum("o_totalprice").alias("rev"))
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return monthly.select(
        "month",
        F.round("rev", 4).alias("revenue"),
        F.round(F.sum("rev").over(w), 4).alias("cumulative_revenue"),
    ).orderBy("month")


_ORACLE_MONTHLY = """
WITH monthly AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month, sum(o_totalprice) AS rev
  FROM orders GROUP BY 1)
SELECT month, round(rev, 4) AS revenue,
       round(sum(rev) OVER (ORDER BY month
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
         AS cumulative_revenue
FROM monthly ORDER BY month
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    return (
        c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


_ORACLE_NO_ORDERS = """
SELECT c_custkey FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
ORDER BY c_custkey
"""


def q_suppliers_of_large_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join coverage: suppliers that ship any part with size > 40."""
    s = _read(spark, sf_dir, "supplier")
    li = _read(spark, sf_dir, "lineitem")
    p = _read(spark, sf_dir, "part")
    big = li.join(p.filter(F.col("p_size") > 40), li.l_partkey == p.p_partkey)
    return (
        s.join(big.select(F.col("l_suppkey").alias("s_suppkey")), "s_suppkey", "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


_ORACLE_SEMI = """
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size > 40)
ORDER BY s_suppkey
"""


def q_distinct_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.countDistinct("l_partkey").alias("n_distinct_parts"))
        .orderBy("suppkey")
    )


_ORACLE_DISTINCT = """
SELECT l_suppkey AS suppkey,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct_parts
FROM lineitem GROUP BY 1 ORDER BY 1
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_extendedprice"), 4).alias("revenue"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


_ORACLE_ROLLUP = """
SELECT l_returnflag, l_linestatus, round(sum(l_extendedprice), 4) AS revenue
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def q_setops_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-op coverage: acctbal>5000 customers EXCEPT 'BUILDING' segment."""
    c = _read(spark, sf_dir, "customer")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return rich.exceptAll(building).orderBy("c_custkey")


_ORACLE_SETOPS = """
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
EXCEPT ALL
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
ORDER BY c_custkey
"""


# --------------------------------------------------------------------------
# events: time-window + sessionization
# --------------------------------------------------------------------------

def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").cast("long").alias("n"),
             F.round(F.sum("value"), 6).alias("total_value"))
        .orderBy("hour", "event_type")
    )


_ORACLE_EVENTS_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 6) AS total_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap > 30 min starts a new session; sessions per user."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.withColumn("prev_ts", F.lag("ts").over(w))
    new_s = F.when(
        F.col("prev_ts").isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 1800),
        1,
    ).otherwise(0)
    return (
        lagged.withColumn("new_session", new_s)
        .groupBy("user_id")
        .agg(F.sum("new_session").cast("long").alias("n_sessions"))
        .orderBy("user_id")
    )


_ORACLE_SESSIONS = """
WITH lagged AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events)
SELECT user_id,
       CAST(sum(CASE WHEN prev_ts IS NULL
                     OR epoch(ts) - epoch(prev_ts) > 1800
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
FROM lagged GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# documents / embeddings: text analytics, dedup, similarity
# --------------------------------------------------------------------------

def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    ).orderBy("doc_id")


_ORACLE_TOKEN_STATS = """
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)
         AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents ORDER BY doc_id
"""


def q_doc_punct_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.round(punct_ratio("text"), 6).alias("punct_ratio")
    ).orderBy("doc_id")


_ORACLE_PUNCT = """
SELECT doc_id,
       round(CASE WHEN length(text) > 0
             THEN len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0 / length(text)
             ELSE 0.0 END, 6) AS punct_ratio
FROM documents ORDER BY doc_id
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators/ranking.py) for a 4-term query
    over the documents table. The per-document score is folded over
    term-sorted contributions on BOTH engines (F.aggregate over
    sort_array vs sum(... ORDER BY term)) so the floating sum order is
    pinned; the tail is a (score desc, doc_id) top-25 — a total order."""
    from .operators.ranking import bm25_topk

    d = _read(spark, sf_dir, "documents")
    return bm25_topk(d, ["vector", "hash", "spark", "stream"], k=25)


_ORACLE_BM25 = r"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''),
dl AS MATERIALIZED (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM toks),
stats AS MATERIALIZED (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS MATERIALIZED (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
  WHERE term IN ('hash', 'spark', 'stream', 'vector')
  GROUP BY 1, 2),
dft AS MATERIALIZED (
  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
contrib AS MATERIALIZED (
  SELECT tf.doc_id, tf.term,
         ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
         * (tf.tf * 2.2)
         / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) AS c
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s)
SELECT doc_id, round(sum(c ORDER BY term), 6) AS score
FROM contrib GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT 25
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language document sampling
    (operators/sampling.py, md5 family): downsample English hard, keep
    all Spanish — the language-rebalancing shape every multilingual
    corpus build runs. The keep decision is a pure function of
    (seed, doc_id), so the oracle replays it bit-exactly."""
    from .operators.sampling import stratified_sample

    d = _read(spark, sf_dir, "documents")
    return (
        stratified_sample(
            d, "lang",
            {"en": 0.25, "de": 0.5, "fr": 0.5, "zh": 0.75, "es": 1.0},
            seed=7, hash_family="md5",
        )
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


_ORACLE_STRATIFIED = r"""
WITH h AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2147483648 AS u
  FROM documents)
SELECT doc_id, lang FROM h
WHERE u < CASE lang
            WHEN 'en' THEN CAST(0.25 * 2147483648 AS BIGINT)
            WHEN 'de' THEN CAST(0.5  * 2147483648 AS BIGINT)
            WHEN 'fr' THEN CAST(0.5  * 2147483648 AS BIGINT)
            WHEN 'zh' THEN CAST(0.75 * 2147483648 AS BIGINT)
            WHEN 'es' THEN CAST(1.0  * 2147483648 AS BIGINT)
            ELSE 0 END
ORDER BY doc_id
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score per document (length band + punctuation +
    stopword ratios — the training-data quality-scoring capability)."""
    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.round(quality_score("text"), 6).alias("quality")
    ).orderBy("doc_id")


_ORACLE_DOC_QUALITY = r"""
WITH s AS (
  SELECT doc_id,
         length(text) * 1.0 AS n,
         CASE WHEN length(text) > 0
              THEN len(regexp_extract_all(text, '[^\w\s]')) * 1.0 / length(text)
              ELSE 0.0 END AS punct_ratio,
         CASE WHEN trim(text) = '' THEN 0.0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) * 1.0 END AS toks,
         len(regexp_extract_all(text,
             '(?i)\b(the|and|of|to|a|in|is|it|that|for)\b')) * 1.0 AS hits
  FROM documents),
r AS (
  SELECT doc_id,
         least(n / 500.0, 1.0) AS len_score,
         greatest(0.0, 1.0 - punct_ratio * 4.0) AS punct_score,
         least(CASE WHEN toks > 0 THEN hits / toks ELSE 0.0 END * 5.0, 1.0)
           AS stop_score
  FROM s)
SELECT doc_id,
       round(len_score * 0.4 + punct_score * 0.4 + stop_score * 0.2, 6)
         AS quality
FROM r ORDER BY doc_id
"""


def q_exact_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents")
    return exact_duplicates(d).orderBy("doc_id")


_ORACLE_EXACT_DEDUP = """
WITH h AS (SELECT doc_id, text FROM documents),
canon AS (SELECT text, min(doc_id) AS canonical_id FROM h GROUP BY 1)
SELECT h.doc_id, c.canonical_id
FROM h JOIN canon c ON h.text = c.text
WHERE h.doc_id <> c.canonical_id
ORDER BY h.doc_id
"""


def q_token_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard ≥ 0.5 pairs with a document-frequency cap of
    50 on shingles — the inverted-index config that scales (stop-shingle
    hubs never reach the self-join)."""
    d = _read(spark, sf_dir, "documents")
    return (
        ngram_jaccard_pairs(d, n=3, threshold=0.5, max_doc_freq=50)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


_ORACLE_TOKEN_JACCARD = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents WHERE trim(text) <> ''),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                               i -> array_to_string(t[i:i+2], ' '))) AS shingle
  FROM toks WHERE len(t) >= 3),
dfreq AS (SELECT shingle, count(*) AS d FROM sh GROUP BY 1),
shc AS (SELECT sh.doc_id, sh.shingle
        FROM sh JOIN dfreq USING (shingle) WHERE d <= 50),
sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
ORDER BY doc_a, doc_b
"""


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the first 5 vectors."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    out = brute_force_topk(q, emb, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank"
    ).orderBy("query_id", "rank")


def _emb_topk_sql(where: str) -> str:
    """Brute-force cosine top-5 oracle over a query-side predicate —
    shared by embedding_topk (numpy-kernel path) and embedding_ivf_topk
    (full-probe IVF path): two physical operators, one semantic truth."""
    return f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE {where}),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
  FROM q, c WHERE query_id <> neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


_ORACLE_EMB_TOPK = _emb_topk_sql("vec_id < 5")
_ORACLE_EMB_IVF = _emb_topk_sql("vec_id >= 5 AND vec_id < 10")


_EMB_NEAR_PARAMS = {"threshold": 0.5, "n_planes": 6, "n_tables": 12,
                    "seed": 42, "dim": 64}


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicates through the multi-table hyperplane-LSH
    bucket path (every join an equi-join — the 100-TB plan). The oracle
    replicates the identical plane constants in SQL, so the approximate
    operator's semantics are checked exactly."""
    from .operators.dedup import embedding_near_duplicates

    emb = _read(spark, sf_dir, "embeddings")
    return (
        embedding_near_duplicates(emb, method="lsh", **_EMB_NEAR_PARAMS)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
        .orderBy("id_a", "id_b")
    )


def _emb_near_dup_sql(threshold: float, n_planes: int, n_tables: int,
                      seed: int, dim: int) -> str:
    """DuckDB SQL replicating lsh_near_duplicates bit-for-bit: the same
    hyperplane constants (repr round-trips float64 exactly), the same
    sign-bit buckets, the same candidate equi-join + cosine verify."""
    from .operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes * n_tables, seed)
    tables = []
    for t in range(n_tables):
        bits = []
        for i in range(n_planes):
            lit = "[" + ", ".join(repr(x) for x in planes[t * n_planes + i]) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product(ev, {lit}) > 0 THEN {1 << i} ELSE 0 END)"
            )
        tables.append(
            f"SELECT vec_id, {t} AS t, (" + " + ".join(bits) + ") AS bucket FROM v"
        )
    buckets = "\nUNION ALL\n".join(tables)
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
b AS ({buckets}),
cand AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
         FROM b a JOIN b c ON a.t = c.t AND a.bucket = c.bucket
                          AND a.vec_id < c.vec_id)
SELECT id_a, id_b,
       round(list_cosine_similarity(va.ev, vb.ev), 6) AS cos
FROM cand JOIN v va ON va.vec_id = id_a JOIN v vb ON vb.vec_id = id_b
WHERE list_cosine_similarity(va.ev, vb.ev) >= {threshold}
ORDER BY 1, 2
"""


_ORACLE_EMB_NEAR = _emb_near_dup_sql(**_EMB_NEAR_PARAMS)


def q_lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents")
    return (
        d.select(lang_id("text").alias("pred_lang"))
        .groupBy("pred_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("pred_lang")
    )


# lang_id is a fixed stopword/pattern heuristic — mirror it in SQL.
_ORACLE_LANG_ID = r"""
WITH scored AS (
  SELECT CASE
    WHEN trim(text) <> ''
     AND len(regexp_extract_all(lower(text),
         '\b(the|and|of|to|a|in|is|it|that|for)\b')) * 1.0
         / len(regexp_split_to_array(trim(text), '\s+')) > 0.05 THEN 'en'
    WHEN len(regexp_extract_all(text, '(?m)^\s*(def |import |#include|func )')) > 0
      THEN 'code'
    ELSE 'unknown' END AS pred_lang
  FROM documents)
SELECT pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM scored GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# iterative / ANN / corpus queries (dynamic-stop and invariant oracles;
# only balanced_partition remains rows-only)
# --------------------------------------------------------------------------

def q_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank iterated TO CONVERGENCE (tol 1e-6) on the supplier→part
    graph — previously rows-only, now fully oracled: the DuckDB oracle
    unrolls the power iteration with a dynamic stop (first step whose
    L-inf delta < tol, the runner's exact strict-< rule), so the
    convergence CONTROL FLOW is checked, not just a fixed step count
    (_pagerank_dynamic_sql). The graph converges in 2 supersteps at
    sf0.01 (bipartite: every part vertex is dangling, so mass mixes in
    one bounce); the unroll bound of 8 leaves slack and is
    self-policing — an unconverged unroll mismatches loudly."""
    e = supplier_part_edges(spark, sf_dir)
    ranks, _ = pagerank(spark, e, tol=1e-6, max_iter=100)
    return ranks.select("id", F.round("rank", 10).alias("rank")).orderBy("id")


def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dups with the md5 permutation family, which is
    bit-reproducible in DuckDB — so the full shingle→signature→band→
    candidate→exact-jaccard pipeline is oracle-checkable (the engine
    default stays xxhash64; only the hash family differs)."""
    d = _read(spark, sf_dir, "documents")
    return (
        minhash_near_duplicates(d, threshold=0.4, k=32, bands=16,
                                hash_family="md5")
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# Bit-exact replica of the md5 permutation family: permutation i of a
# shingle = first 60 bits of md5("{42+i}:{shingle}"). Bands of r=2
# signature rows are compared by VALUE (string_agg), not by the engine's
# bucket hash — equal buckets iff equal band signatures (modulo a
# ~2^-64 xxhash64 bucket collision, which exact-jaccard verification
# would have to also pass to differ). Every CTE is MATERIALIZED (DuckDB
# inlines by default; the signature CTE is referenced twice).
def _minhash_ctes(base: str = "documents") -> str:
    """The md5-family minhash CTE chain over an arbitrary base relation
    (``base`` must expose doc_id, text) — shared by the standalone
    near-dup queries (base = documents) and the curation pipeline
    (base = the filtered survivor set)."""
    return _MINHASH_CTES_TEMPLATE.replace("{BASE}", base)


_MINHASH_CTES_TEMPLATE = r"""toks AS MATERIALIZED (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM {BASE} WHERE trim(text) <> ''),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                               i -> array_to_string(t[i:i+2], ' '))) AS shingle
  FROM toks WHERE len(t) >= 3),
mh AS MATERIALIZED (
  SELECT doc_id, g.i AS pos,
         min(CAST(('0x' || substr(md5(CAST(42 + g.i AS VARCHAR) || ':' || shingle),
                                  1, 15)) AS BIGINT)) AS minhash
  FROM sh CROSS JOIN generate_series(0, 31) g(i)
  GROUP BY 1, 2),
banded AS MATERIALIZED (
  SELECT doc_id, pos // 2 AS band,
         string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY pos) AS sig
  FROM mh GROUP BY 1, 2),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS MATERIALIZED (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2),
verified AS MATERIALIZED (
  SELECT doc_a, doc_b, round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.4)"""

_MINHASH_CTES = _minhash_ctes("documents")

_ORACLE_MINHASH = f"""
WITH {_MINHASH_CTES}
SELECT doc_a, doc_b, jaccard FROM verified
ORDER BY doc_a, doc_b
"""

# Connected components over the verified minhash pair graph, replayed in
# DuckDB with a recursive CTE: lab accumulates every (reachable-from,
# label) pair over the symmetrized pair edges (UNION dedupes, so the
# iteration reaches fixpoint = reachability closure), then min(label)
# per doc is exactly the engine's min-id-per-component cluster_id.
# Feasible because the pair graph is tiny relative to the corpus (the
# same property the engine's scale note relies on).
_ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_MINHASH_CTES},
und AS MATERIALIZED (
  SELECT doc_a AS a, doc_b AS b FROM verified
  UNION ALL
  SELECT doc_b, doc_a FROM verified),
lab(doc_id, comp) AS (
  SELECT DISTINCT a, a FROM und
  UNION
  SELECT u.b, l.comp FROM lab l JOIN und u ON u.a = l.doc_id),
cc AS MATERIALIZED (
  SELECT doc_id, min(comp) AS cluster_id FROM lab GROUP BY 1),
csize AS MATERIALIZED (
  SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY 1)
SELECT CAST(cc.doc_id AS BIGINT) AS doc_id,
       CAST(cc.cluster_id AS BIGINT) AS cluster_id,
       CAST(csize.cluster_size AS BIGINT) AS cluster_size,
       cc.doc_id = cc.cluster_id AS is_canonical
FROM cc JOIN csize USING (cluster_id)
ORDER BY cluster_id, doc_id
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTER formation — the keep-one-per-cluster dedup
    step every training corpus runs after candidate generation: minhash
    near-dup pairs (md5 family, same params as ``minhash_near_dups``) →
    connected components over the pair graph → min-id canonical per
    cluster (``operators/dedup.py::near_dup_clusters``). Transitive
    chains a~b, b~c land in ONE cluster even when (a, c) was never a
    candidate pair. Returns every clustered doc (cluster_size >= 2;
    singletons are their own cluster and elided) with cluster id, size,
    and canonical flag."""
    d = _read(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(d, threshold=0.4, k=32, bands=16,
                                    hash_family="md5")
    return (
        near_dup_clusters(spark, d, pairs)
        .filter(F.col("cluster_size") >= 2)
        .orderBy("cluster_id", "doc_id")
    )


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus curation pipeline as ONE composed query
    — the end-to-end shape every LLM data pipeline runs, here checked
    end-to-end rather than stage-by-stage:

      1. language ID       keep pred_lang = 'en'        (functions/text.py)
      2. quality gate      keep round(quality, 6) >= 0.6
      3. exact dedup       drop non-canonical sha256 duplicates
      4. near-dup dedup    minhash-LSH pairs (md5 family) -> connected-
                           component clusters -> keep the min-id
                           representative per cluster  (operators/dedup.py)

    Returns the curated set (doc_id, quality, n_tokens). Scale shape:
    stages 1-2 are JVM expressions on the scan; stage 3 is one shuffle
    on the content hash; stage 4 runs candidate generation on the
    SURVIVORS only and its CC fixpoint on the pair graph only — each
    stage strictly shrinks the data the next one touches, which is the
    whole point of running curation as one plan at 100 TB."""
    from .operators.dedup import curate_corpus

    d = _read(spark, sf_dir, "documents")
    return curate_corpus(
        spark, d, keep_lang="en", min_quality=0.6,
        jaccard_threshold=0.4, minhash_k=32, minhash_bands=16,
        hash_family="md5",
    ).orderBy("doc_id")


# End-to-end replica of the curation pipeline: the lang-id CASE, the
# quality arithmetic, sha256-exact dedup (text equality — identical
# semantics), the md5-family minhash chain over the SURVIVOR set, and
# the recursive-CTE connected-components replay for cluster formation.
_ORACLE_CURATION = (
    r"""
WITH RECURSIVE
lang AS MATERIALIZED (
  SELECT doc_id, text FROM documents
  WHERE trim(text) <> ''
    AND len(regexp_extract_all(lower(text),
        '\b(the|and|of|to|a|in|is|it|that|for)\b')) * 1.0
        / len(regexp_split_to_array(trim(text), '\s+')) > 0.05),
qs AS MATERIALIZED (
  SELECT doc_id, text,
         length(text) * 1.0 AS n,
         CASE WHEN length(text) > 0
              THEN len(regexp_extract_all(text, '[^\w\s]')) * 1.0 / length(text)
              ELSE 0.0 END AS punct_ratio,
         CASE WHEN trim(text) = '' THEN 0.0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) * 1.0 END AS toks,
         len(regexp_extract_all(text,
             '(?i)\b(the|and|of|to|a|in|is|it|that|for)\b')) * 1.0 AS hits
  FROM lang),
scored AS MATERIALIZED (
  SELECT doc_id, text, CAST(toks AS BIGINT) AS n_tokens,
         round(least(n / 500.0, 1.0) * 0.4
               + greatest(0.0, 1.0 - punct_ratio * 4.0) * 0.4
               + least(CASE WHEN toks > 0 THEN hits / toks ELSE 0.0 END
                       * 5.0, 1.0) * 0.2, 6) AS quality
  FROM qs),
exd AS MATERIALIZED (
  SELECT text, min(doc_id) AS canonical_id FROM scored
  WHERE quality >= 0.6 GROUP BY 1),
kept AS MATERIALIZED (
  SELECT s.doc_id, s.text, s.quality, s.n_tokens
  FROM scored s JOIN exd ON s.text = exd.text AND s.doc_id = exd.canonical_id
  WHERE s.quality >= 0.6),
"""
    + _minhash_ctes("kept")
    + r""",
und AS MATERIALIZED (
  SELECT doc_a AS a, doc_b AS b FROM verified
  UNION ALL
  SELECT doc_b, doc_a FROM verified),
lab(doc_id, comp) AS (
  SELECT DISTINCT a, a FROM und
  UNION
  SELECT u.b, l.comp FROM lab l JOIN und u ON u.a = l.doc_id),
dropped AS MATERIALIZED (
  SELECT doc_id FROM (SELECT doc_id, min(comp) AS cluster_id
                      FROM lab GROUP BY 1)
  WHERE doc_id <> cluster_id)
SELECT k.doc_id, k.quality, k.n_tokens
FROM kept k LEFT JOIN dropped d ON d.doc_id = k.doc_id
WHERE d.doc_id IS NULL
ORDER BY k.doc_id
"""
)


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups with the md5 hash family (60-bit,
    bit-reproducible in DuckDB) so the whole token→simhash→block-join→
    hamming pipeline is oracle-checkable; the engine default stays
    xxhash64/64-bit."""
    d = _read(spark, sf_dir, "documents")
    return simhash_near_duplicates(
        d, max_hamming=6, hash_family="md5"
    ).orderBy("doc_a", "doc_b")


# Bit-exact replica of simhash(hash_family="md5"): token hash = first 60
# bits of md5(token); per-bit +-counts; sign reassembly; 7 blocks of 8
# bits (pigeonhole: <=6 differing bits leave >=1 block untouched, and
# differences in the 4 uncovered top bits only reduce touched blocks).
_ORACLE_SIMHASH = """
WITH toks AS MATERIALIZED (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE trim(text) <> ''),
h AS MATERIALIZED (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
bits AS MATERIALIZED (
  SELECT doc_id, g.b,
         sum(CASE WHEN ((h >> g.b) & 1) = 1 THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN generate_series(0, 59) g(b) GROUP BY 1, 2),
sim AS MATERIALIZED (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM bits GROUP BY 1),
blk AS MATERIALIZED (
  SELECT doc_id, simhash, g.i AS blk, (simhash >> (g.i * 8)) & 255 AS blk_val
  FROM sim CROSS JOIN generate_series(0, 6) g(i)),
pairs AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM blk a JOIN blk b
    ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= 6
ORDER BY doc_a, doc_b
"""


def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ANN (KMeans coarse quantizer) top-5 for query vectors 5-9,
    probing ALL 4 cells — previously rows-only, now fully oracled: full
    probe makes IVF exactly equal to brute force (the operator's
    invariant), so the entire pipeline — sampled codebook fit, corpus
    cell assignment, probe-cell selection, cell equi-join, scoring,
    global top-k window — is checked against plain brute-force SQL
    regardless of what codebook KMeans produced. Partial-probe recall
    (n_probe < n_cells, the 100-TB pruning path) stays a pytest
    property (test_dedup_similarity ivf tests): THAT answer depends on
    the ML codebook, which no SQL reproduces. Queries 5-9 (vs 0-4 for
    embedding_topk) so the two operators are checked on disjoint
    instances."""
    from .operators.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10))
    out = ivf_topk(q, emb, k=5, n_cells=4, n_probe=4)
    return out.select(
        "query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank"
    ).orderBy("query_id", "rank")


def _balanced_partition_sql(
    k: int = 4, rounds: int = 10, lam: float = 0.05,
    moves_per_round: int = 8192,
) -> str:
    """Full DuckDB replica of the k-way hill-climb on the co-supplier
    graph (default objective mode, ``pmod(id, k)`` init — see
    ``balanced_partition``'s ``init_part``). Every round unrolls to:
    candidate gains (join + window argmax), top-M cap, the priority-
    coloring independent set (edge join + NOT EXISTS), and the
    SEQUENTIAL acceptance fold as a recursive CTE that carries the k
    part loads as columns and the accepted moves as zipped lists.

    Cross-engine exactness: edge weights are integral doubles, loads
    are integers, and every float expression replicates the engine's
    operation order (lam literals as ``0.05e0`` DOUBLEs — DuckDB parses
    bare ``0.05`` as DECIMAL), so each gain/acceptance comparison is
    bit-identical IEEE arithmetic, not a tolerance match. Early-break
    rounds (no kept / no accepted move) are no-ops here by fixpoint:
    with an unchanged assignment the same empty move set recurs, so
    unrolling all ``rounds`` rounds equals the engine's break.

    Every non-recursive CTE is MATERIALIZED (DuckDB inlines CTEs by
    default; assign/loads are referenced several times per round)."""

    def nl(j: int) -> str:  # load of part j after applying move m
        return (
            f"(f.l{j} + (CASE WHEN m.p_dst = {j} THEN 1 ELSE 0 END)"
            f" - (CASE WHEN m.p_cur = {j} THEN 1 ELSE 0 END))"
        )

    parts = range(k)
    cur_ssq = " + ".join(f"f.l{j} * f.l{j}" for j in parts)
    trial_ssq = " + ".join(f"{nl(j)} * {nl(j)}" for j in parts)
    accept = (
        f"(-(m.w - m.w_int) + ({lam}e0 * CAST({trial_ssq} AS DOUBLE)"
        f" - {lam}e0 * CAST({cur_ssq} AS DOUBLE))) < 0.0e0"
    )
    state_cols = ", ".join(
        f"max(CASE WHEN part = {j} THEN load END) AS l{j}" for j in parts
    )
    load_case = "CASE p.part " + " ".join(
        f"WHEN {j} THEN s.l{j}" for j in parts
    ) + " END"

    pre = f"""
WITH RECURSIVE
sp AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.s AS src_id, b.s AS dst_id
  FROM sp a JOIN sp b ON a.p = b.p WHERE a.s < b.s),
und AS MATERIALIZED (
  SELECT src_id, dst_id, CAST(sum(w) AS DOUBLE) AS weight FROM (
    SELECT src_id, dst_id, 1.0e0 AS w FROM e0
    UNION ALL
    SELECT dst_id, src_id, 1.0e0 FROM e0) GROUP BY 1, 2),
verts AS MATERIALIZED (SELECT DISTINCT src_id AS id FROM und),
assign_0 AS MATERIALIZED (SELECT id, CAST(id % {k} AS INT) AS part FROM verts),
loads_0 AS MATERIALIZED (
  SELECT CAST(p.part AS INT) AS part, CAST(coalesce(c.cnt, 0) AS BIGINT) AS load
  FROM range(0, {k}) AS p(part)
  LEFT JOIN (SELECT part, count(*) AS cnt FROM assign_0 GROUP BY 1) c
    ON c.part = p.part),
state_0 AS MATERIALIZED (SELECT {state_cols} FROM loads_0)"""

    body = ""
    for r in range(1, rounds + 1):
        p = r - 1
        body += f""",
wto_{r} AS MATERIALIZED (
  SELECT u.src_id, a.part AS p_dst, sum(u.weight) AS w
  FROM und u JOIN assign_{p} a ON u.dst_id = a.id GROUP BY 1, 2),
wint_{r} AS MATERIALIZED (
  SELECT w.src_id, w.p_dst, w.w, c.part AS p_cur,
         coalesce(max(CASE WHEN w.p_dst = c.part THEN w.w END)
                  OVER (PARTITION BY w.src_id), 0.0e0) AS w_int
  FROM wto_{r} w JOIN assign_{p} c ON w.src_id = c.id),
cand_{r} AS MATERIALIZED (
  SELECT t.src_id, t.p_dst, t.p_cur, t.w, t.w_int,
         (t.w - t.w_int) - ({lam}e0 * 2.0e0)
           * (CAST(lt.load - lc.load AS DOUBLE) + 1.0e0) AS gain
  FROM wint_{r} t
  JOIN loads_{p} lc ON lc.part = t.p_cur
  JOIN loads_{p} lt ON lt.part = t.p_dst
  WHERE t.p_dst <> t.p_cur),
topm_{r} AS MATERIALIZED (
  SELECT src_id, p_cur, p_dst, w, w_int, gain FROM (
    SELECT *, row_number() OVER (PARTITION BY src_id
                                 ORDER BY gain DESC, p_dst ASC) AS rn
    FROM cand_{r} WHERE gain > 0.0e0) WHERE rn = 1
  ORDER BY gain DESC, src_id ASC LIMIT {moves_per_round}),
losers_{r} AS MATERIALIZED (
  SELECT DISTINCT CASE WHEN ma.gain > mb.gain
                       OR (ma.gain = mb.gain AND u.src_id < u.dst_id)
                  THEN u.dst_id ELSE u.src_id END AS src_id
  FROM und u
  JOIN topm_{r} ma ON ma.src_id = u.src_id
  JOIN topm_{r} mb ON mb.src_id = u.dst_id
  WHERE u.src_id < u.dst_id),
kept_{r} AS MATERIALIZED (
  SELECT t.*, row_number() OVER (ORDER BY t.gain DESC, t.src_id ASC) AS i
  FROM topm_{r} t
  WHERE NOT EXISTS (SELECT 1 FROM losers_{r} l WHERE l.src_id = t.src_id)),
fold_{r} AS (
  SELECT CAST(0 AS BIGINT) AS i, {', '.join(f's.l{j}' for j in parts)},
         CAST([] AS BIGINT[]) AS mids, CAST([] AS INT[]) AS mparts
  FROM state_{p} s
  UNION ALL
  SELECT f.i + 1,
         {', '.join(f'CASE WHEN {accept} THEN {nl(j)} ELSE f.l{j} END'
                    for j in parts)},
         CASE WHEN {accept} THEN list_append(f.mids, m.src_id)
              ELSE f.mids END,
         CASE WHEN {accept} THEN list_append(f.mparts, m.p_dst)
              ELSE f.mparts END
  FROM fold_{r} f JOIN kept_{r} m ON m.i = f.i + 1),
fin_{r} AS MATERIALIZED (SELECT * FROM fold_{r} ORDER BY i DESC LIMIT 1),
state_{r} AS MATERIALIZED (
  SELECT {', '.join(f'l{j}' for j in parts)} FROM fin_{r}),
loads_{r} AS MATERIALIZED (
  SELECT CAST(p.part AS INT) AS part, {load_case} AS load
  FROM state_{r} s, range(0, {k}) AS p(part)),
applied_{r} AS MATERIALIZED (
  SELECT unnest(mids) AS id, unnest(mparts) AS part FROM fin_{r}),
assign_{r} AS MATERIALIZED (
  SELECT a.id, CAST(coalesce(m.part, a.part) AS INT) AS part
  FROM assign_{p} a LEFT JOIN applied_{r} m ON a.id = m.id)"""
    return pre + body + f"\nSELECT id, part FROM assign_{rounds} ORDER BY id"


_ORACLE_MEDIA_FEATURES = """
WITH ids AS (SELECT range AS id FROM range(0, 96)),
m AS MATERIALIZED (
  SELECT id, ['image', 'audio', 'video'][CAST(id % 3 AS INT) + 1] AS kind,
         repeat(sha256('42' || CAST(id AS VARCHAR)), 4) AS h
  FROM ids),
b AS MATERIALIZED (
  SELECT m.id, m.kind, p.p AS pos,
         (strpos('0123456789abcdef', substr(m.h, 2 * p.p + 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(m.h, 2 * p.p + 2, 1)) - 1)
           AS byte
  FROM m, range(0, 128) AS p(p)),
s AS MATERIALIZED (
  SELECT id, kind, CAST(pos % 16 AS INT) AS bucket,
         CAST(sum(byte) AS DOUBLE) AS bsum
  FROM b GROUP BY 1, 2, 3),
t AS MATERIALIZED (SELECT id, sum(bsum) AS total FROM s GROUP BY 1)
SELECT s.id AS media_id, s.kind, s.bucket, s.bsum / t.total AS value,
       CAST(128 AS BIGINT) AS n_bytes
FROM s JOIN t USING (id) ORDER BY media_id, bucket
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal mapInPandas feature kernel in the driver harness
    (previously pytest-only): a deterministic synthesized media table
    (payload = raw bytes of sha256-hex repeated 4x — self-synthesized
    input, the corpus-query precedent) flows through
    ``decode_and_featurize``. No payload parses under any real codec,
    so every row takes the batch-vectorized FAKE path — bucketed byte
    histogram, L1-normalized — whose arithmetic is replicable in DuckDB
    hex math (bucket sums are integral, the one float division is the
    same IEEE op both sides). Features flatten via posexplode so the
    compare stays scalar-valued. The REAL codec paths are lossy-codec
    pytest territory (bit-exact encoder-replay tests); this row pins
    the Spark-side kernel plumbing: batch shapes, dispatch, schema."""
    from .operators.multimodal import decode_and_featurize, synthesize_media

    media = synthesize_media(spark, n=96, seed=42)
    feats = decode_and_featurize(media)
    return (
        feats.select(
            "media_id", "kind", "n_bytes",
            F.posexplode("feature").alias("bucket", "value"),
        )
        .select("media_id", "kind", "bucket", "value", "n_bytes")
        .orderBy("media_id", "bucket")
    )


_ORACLE_FRAME_SAMPLE = """
WITH ids AS (SELECT range AS id FROM range(0, 96)),
v AS (SELECT id AS media_id FROM ids WHERE id % 3 = 2)
SELECT v.media_id, CAST(f.f AS INT) AS frame_idx
FROM v, generate_series(0, 119, 10) AS f(f)
ORDER BY media_id, frame_idx
"""


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-driven video frame-sampling plumbing (`frame_sample`):
    the sequence+explode fan-out over the synthesized media table's
    video rows (meta.n_frames = 120, every 10th frame). The
    payload-driven real path (`extract_frames`, byte-slicing MJPEG-AVI
    containers) is codec territory covered by the bit-exact pytest
    round trips; this row pins the shardable explode plan."""
    from .operators.multimodal import frame_sample, synthesize_media

    media = synthesize_media(spark, n=96, seed=42)
    return frame_sample(media, every_n=10).orderBy("media_id", "frame_idx")


def q_balanced_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-way balanced partition of the co-supplier graph, 5 hill-climb
    rounds — previously the last rows-only driver query, now fully
    oracled: with a ``pmod(id, k)`` init (the engine default stays
    seeded xxhash64 — ``init_part`` docstring) every downstream step of
    the hill-climb is deterministic, integral-weight IEEE arithmetic,
    so ``_balanced_partition_sql`` replays the ENTIRE algorithm —
    candidate gains, priority-coloring independent set, sequential
    move-acceptance fold — bit-exactly in DuckDB. 5 rounds (was 10)
    halves both the Spark loop and the recursive-CTE replay at the
    sf0.01 gate; every algorithmic phase already occurs by round 5,
    and long-run convergence is pytest territory."""
    e = co_supplier_edges(spark, sf_dir)
    assignment, _ = balanced_partition(
        spark, e, k=4, max_rounds=5,
        init_part=F.pmod(F.col("id"), F.lit(4)),
    )
    return assignment.orderBy("id")


def q_chain_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-chain peel (reference graph.py:157-207, PARITY
    row 15) on a small slice of the order-chain forest (contracted-
    graph operator: the driver loop runs one distributed longest-path
    pass per emitted chain, so the query bounds the instance to a
    handful of customers — o_custkey % 300 == 1). Returns one row per
    (chain_id, pos, vertex_id).

    Oracle: on a VERTEX-DISJOINT PATH FOREST the greedy peel has a
    closed form — the critical path of a disjoint union is the longest
    component (argmax dist, ties by min end-vertex id, exactly the
    operator's tie-break), and removing it leaves the others untouched,
    so by induction chains come out sorted by (length desc, end_id
    asc), each chain being its whole component walked from the
    customer. The branching-DAG peel (where no closed form exists) is
    covered by pytest (test_graph_algorithms chain tests)."""
    from .operators.dag import chain_decomposition

    # order-chain edges restricted to customers ≡ 1 (mod 300): same
    # construction as order_chain_edges but filtered at the orders scan
    # (filtering the full edge table on src_id would orphan other
    # customers' order→order tails — the component filter must happen
    # before edges are formed).
    # each chain is additionally capped at the customer's FIRST 8
    # orders (rn <= 8 before forming edges): the peel runs one
    # distributed longest-path pass per chain, each pass one Spark job
    # per LEVEL, so uncapped 25-order chains cost ~3x the gate wall.
    # Branching/long-chain behavior stays pytest territory.
    o = _read(spark, sf_dir, "orders").filter(F.pmod(F.col("o_custkey"), F.lit(300)) == 1)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    r = (
        o.select(
            "o_custkey", "o_orderkey", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 8)
        .select(
            "o_custkey", "o_orderkey", "rn",
            F.lead("o_orderkey").over(
                Window.partitionBy("o_custkey").orderBy("rn")
            ).alias("next_key"),
        )
    )
    first = r.filter(F.col("rn") == 1).select(
        F.col("o_custkey").alias("src_id"),
        (F.col("o_orderkey") + ORDER_OFFSET).alias("dst_id"),
    )
    nxt = r.filter(F.col("next_key").isNotNull()).select(
        (F.col("o_orderkey") + ORDER_OFFSET).alias("src_id"),
        (F.col("next_key") + ORDER_OFFSET).alias("dst_id"),
    )
    e = first.unionByName(nxt).withColumn("weight", F.lit(1.0))
    chains = chain_decomposition(spark, e)
    rows = [
        (int(ci), int(pos), int(v))
        for ci, chain in enumerate(chains)
        for pos, v in enumerate(chain)
    ]
    return local_rows(
        spark, rows, "chain_id long, pos long, vertex_id long"
    ).orderBy("chain_id", "pos")


_ORACLE_CHAINS = f"""
WITH r0 AS (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders WHERE o_custkey % 300 = 1),
r AS MATERIALIZED (
  SELECT o_custkey, o_orderkey, rn,
         count(*) OVER (PARTITION BY o_custkey) AS n_orders
  FROM r0 WHERE rn <= 8),
ends AS (SELECT o_custkey, o_orderkey + {ORDER_OFFSET} AS end_id
         FROM r WHERE rn = n_orders),
ranked AS (
  SELECT r0.o_custkey,
         row_number() OVER (ORDER BY r0.n_orders DESC, e.end_id ASC) - 1
           AS chain_id
  FROM (SELECT DISTINCT o_custkey, n_orders FROM r) r0
  JOIN ends e USING (o_custkey)),
verts AS (
  SELECT o_custkey, 0 AS pos, CAST(o_custkey AS BIGINT) AS vertex_id
  FROM (SELECT DISTINCT o_custkey FROM r)
  UNION ALL
  SELECT o_custkey, rn AS pos,
         CAST(o_orderkey + {ORDER_OFFSET} AS BIGINT) AS vertex_id
  FROM r)
SELECT CAST(c.chain_id AS BIGINT) AS chain_id, CAST(v.pos AS BIGINT) AS pos,
       v.vertex_id
FROM ranked c JOIN verts v USING (o_custkey)
ORDER BY chain_id, pos
"""


def q_betweenness_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled betweenness centrality (operators/betweenness.py —
    batched multi-source Brandes, one superstep per BFS level per
    phase) on the capped order-chain forest with the CUSTOMER vertices
    as the source sample. Closed form on a vertex-disjoint directed
    path forest: sigma = 1 everywhere, so from the head v_0 of an
    L-order chain the dependency of the order at position i is the
    count of targets strictly beyond it — bc(order rn=i) = L - i,
    bc(customer) = 0; every delta is an integer, so the replay is
    IEEE-exact regardless of summation order. Branching/multi-path
    sigma behavior is pytest territory (diamond + random-digraph
    Brandes replay, tests/test_betweenness.py)."""
    from .operators.betweenness import betweenness_sampled

    o = _read(spark, sf_dir, "orders").filter(
        F.pmod(F.col("o_custkey"), F.lit(100)) == 1
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    r = (
        o.select(
            "o_custkey", "o_orderkey", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 8)
        .select(
            "o_custkey", "o_orderkey", "rn",
            F.lead("o_orderkey").over(
                Window.partitionBy("o_custkey").orderBy("rn")
            ).alias("next_key"),
        )
    )
    first = r.filter(F.col("rn") == 1).select(
        F.col("o_custkey").alias("src_id"),
        (F.col("o_orderkey") + ORDER_OFFSET).alias("dst_id"),
    )
    nxt = r.filter(F.col("next_key").isNotNull()).select(
        (F.col("o_orderkey") + ORDER_OFFSET).alias("src_id"),
        (F.col("next_key") + ORDER_OFFSET).alias("dst_id"),
    )
    e = first.unionByName(nxt).withColumn("weight", F.lit(1.0))
    srcs = r.select(F.col("o_custkey").alias("id")).distinct()
    return (
        betweenness_sampled(spark, e, srcs, max_depth=16)
        .select("id", F.round("bc", 6).alias("bc"))
        .orderBy("id")
    )


def q_harmonic_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic centrality (operators/betweenness.py — same
    batched BFS, 1/distance fold instead of the dependency sweep) on
    the capped order-chain forest, customer sources. Closed form: the
    order at position i is exactly i hops from its chain's head, so
    harmonic(order rn=i) = 1/i and harmonic(customer) = 0."""
    from .operators.betweenness import harmonic_centrality_sampled

    o = _read(spark, sf_dir, "orders").filter(
        F.pmod(F.col("o_custkey"), F.lit(100)) == 1
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    r = (
        o.select(
            "o_custkey", "o_orderkey", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 8)
        .select(
            "o_custkey", "o_orderkey", "rn",
            F.lead("o_orderkey").over(
                Window.partitionBy("o_custkey").orderBy("rn")
            ).alias("next_key"),
        )
    )
    first = r.filter(F.col("rn") == 1).select(
        F.col("o_custkey").alias("src_id"),
        (F.col("o_orderkey") + ORDER_OFFSET).alias("dst_id"),
    )
    nxt = r.filter(F.col("next_key").isNotNull()).select(
        (F.col("o_orderkey") + ORDER_OFFSET).alias("src_id"),
        (F.col("next_key") + ORDER_OFFSET).alias("dst_id"),
    )
    e = first.unionByName(nxt).withColumn("weight", F.lit(1.0))
    srcs = r.select(F.col("o_custkey").alias("id")).distinct()
    return (
        harmonic_centrality_sampled(spark, e, srcs, max_depth=16)
        .select("id", F.round("harmonic", 6).alias("harmonic"))
        .orderBy("id")
    )


def q_eccentricity_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled per-source eccentricity (operators/betweenness.py —
    the same batched BFS, max-level fold) on the capped order-chain
    forest, customer sources. Closed form: the chain rooted at
    customer c has its deepest order at distance L(c) = min(#orders,
    8), so eccentricity(c) = L(c) exactly."""
    from .operators.betweenness import eccentricity_sampled

    o = _read(spark, sf_dir, "orders").filter(
        F.pmod(F.col("o_custkey"), F.lit(100)) == 1
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    r = (
        o.select(
            "o_custkey", "o_orderkey", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 8)
        .select(
            "o_custkey", "o_orderkey", "rn",
            F.lead("o_orderkey").over(
                Window.partitionBy("o_custkey").orderBy("rn")
            ).alias("next_key"),
        )
    )
    first = r.filter(F.col("rn") == 1).select(
        F.col("o_custkey").alias("src_id"),
        (F.col("o_orderkey") + ORDER_OFFSET).alias("dst_id"),
    )
    nxt = r.filter(F.col("next_key").isNotNull()).select(
        (F.col("o_orderkey") + ORDER_OFFSET).alias("src_id"),
        (F.col("next_key") + ORDER_OFFSET).alias("dst_id"),
    )
    e = first.unionByName(nxt).withColumn("weight", F.lit(1.0))
    srcs = r.select(F.col("o_custkey").alias("id")).distinct()
    return (
        eccentricity_sampled(spark, e, srcs, max_depth=16)
        .orderBy("id")
    )


_ORACLE_ECCENTRICITY = """
WITH r AS (
  SELECT o_custkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders WHERE o_custkey % 100 = 1)
SELECT CAST(o_custkey AS BIGINT) AS id,
       CAST(count(*) FILTER (WHERE rn <= 8) AS BIGINT) AS eccentricity
FROM r GROUP BY 1 ORDER BY id
"""


_ORACLE_HARMONIC = f"""
WITH r AS (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders WHERE o_custkey % 100 = 1)
SELECT CAST(o_custkey AS BIGINT) AS id, 0.0 AS harmonic
FROM (SELECT DISTINCT o_custkey FROM r)
UNION ALL
SELECT CAST(o_orderkey + {ORDER_OFFSET} AS BIGINT) AS id,
       round(1.0 / rn, 6) AS harmonic
FROM r WHERE rn <= 8
ORDER BY id
"""


_ORACLE_BETWEENNESS = f"""
WITH r0 AS (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders WHERE o_custkey % 100 = 1),
r AS MATERIALIZED (
  SELECT o_custkey, o_orderkey, rn,
         count(*) OVER (PARTITION BY o_custkey) AS L
  FROM r0 WHERE rn <= 8)
SELECT CAST(o_custkey AS BIGINT) AS id, 0.0 AS bc
FROM (SELECT DISTINCT o_custkey FROM r)
UNION ALL
SELECT CAST(o_orderkey + {ORDER_OFFSET} AS BIGINT) AS id,
       round(CAST(L - rn AS DOUBLE), 6) AS bc
FROM r
ORDER BY id
"""


def q_corpus_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule edge-derivation half of corpus_pipeline, fully
    oracled: a SQL-reproducible corpus (modular arithmetic instead of
    xxhash64 draws — the ONLY difference from synthesize_corpus) flows
    through the REAL operators — extract_refs (JVM regexp_extract_all,
    all SIX language patterns: python/c/go/javascript/java/rust, each
    file in its language's idiomatic import syntax), defined_symbol
    (JVM regexp), derive_edges (symbol equi-join + (src,dst)
    aggregation + self-edge filter) — and the result is keyed back to
    (repo, path) via the derived vertex table so DuckDB can reproduce
    it bit-for-bit (reference precedent: the tensor-name equi-join IS
    the reference's graph construction — language-agnostic on names,
    graph.py:7-24)."""
    files = synthesize_corpus_modular(spark, n_files=500, n_repos=10)
    g = derive_edges(files)
    src_v = g.vertices.select(
        F.col("id").alias("src_id"), F.col("path").alias("src_path")
    )
    dst_v = g.vertices.select(
        F.col("id").alias("dst_id"), F.col("path").alias("dst_path")
    )
    return (
        g.edges.join(src_v, "src_id")
        .join(dst_v, "dst_id")
        .select("src_path", "dst_path", "weight")
        .orderBy("src_path", "dst_path")
    )


# Bit-exact replica: regenerate the modular six-language corpus (printf
# arithmetic; file i is written in LANG_SPECS[i % 6] with its idiomatic
# import syntax), replicate every _IMPORT_RE pattern and the
# '#|// module:' header regex (functions/text.py) in RE2, then the same
# equi-join + group-by. Path-keyed edge body (src_id/dst_id ARE paths) —
# shared between the corpus_edges oracle and the corpus_pipeline
# convergence oracle.
_SQL_CORPUS_EDGES = r"""
  WITH langmap AS (
    SELECT * FROM (VALUES
      (0, 'py',   '# ',  'import ',     ''),
      (1, 'c',    '// ', '#include "',  '"'),
      (2, 'go',   '// ', 'import "',    '"'),
      (3, 'js',   '// ', NULL,          NULL),
      (4, 'java', '// ', 'import ',     ';'),
      (5, 'rs',   '// ', 'use ',        ';')
    ) t(li, ext, cmt, ipre, isuf)),
  files AS MATERIALIZED (
    SELECT i, li,
           printf('src/m%07d.%s', i, ext) AS path,
           cmt || printf('module: mod_%07d', i) || chr(10) ||
           CASE WHEN li = 3 THEN 'const x-1 = require(''mod_0000000'')'
                ELSE ipre || 'mod_0000000' || isuf END || chr(10) ||
           array_to_string(
             list_transform(generate_series(0, CAST(i % 7 AS INT)),
               k -> CASE WHEN li = 3 THEN
                      CASE WHEN k % 2 = 0
                        THEN printf('import x%d from ''mod_%07d''',
                                    k, (i*31 + k*17 + 1) % 500)
                        ELSE printf('const x%d = require(''mod_%07d'')',
                                    k, (i*31 + k*17 + 1) % 500)
                      END
                    ELSE ipre || printf('mod_%07d', (i*31 + k*17 + 1) % 500)
                         || isuf END),
             chr(10)) ||
           chr(10) || cmt || 'body: 0' AS content
    FROM range(500) t(i) JOIN langmap ON langmap.li = i % 6),
  rxmap AS (
    SELECT * FROM (VALUES
      (0, '(?m)^\s*(?:import|from)\s+([A-Za-z_][A-Za-z0-9_.]*)'),
      (1, '(?m)^\s*#\s*include\s*[<"]([^>"]+)[>"]'),
      (2, '(?m)^\s*import\s+"([^"]+)"'),
      (3, '(?m)(?:\bfrom\s+|\brequire\(\s*|^\s*import\s+)[''"]([^''"]+)[''"]'),
      (4, '(?m)^\s*import\s+(?:static\s+)?([A-Za-z_][A-Za-z0-9_.]*)\s*;'),
      (5, '(?m)^\s*(?:pub\s+)?use\s+([A-Za-z_][A-Za-z0-9_:]*)')
    ) t(li, rx)),
  defs AS (
    SELECT path AS dst_path,
           regexp_extract(content, '(?:#|//) module: ([A-Za-z0-9_.]+)', 1) AS symbol
    FROM files
    WHERE regexp_extract(content, '(?:#|//) module: ([A-Za-z0-9_.]+)', 1) <> ''),
  refs AS (
    SELECT path AS src_path,
           unnest(regexp_extract_all(content, rx, 1)) AS symbol
    FROM files JOIN rxmap USING (li))
  SELECT r.src_path AS src_id, d.dst_path AS dst_id,
         CAST(count(*) AS DOUBLE) AS weight
  FROM refs r JOIN defs d USING (symbol)
  WHERE r.src_path <> d.dst_path
  GROUP BY 1, 2
"""

_ORACLE_CORPUS_EDGES = f"""
WITH e AS ({_SQL_CORPUS_EDGES})
SELECT src_id AS src_path, dst_id AS dst_path, weight
FROM e ORDER BY 1, 2
"""


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full north-rule pipeline at test scale: synthesize corpus →
    derive edges (Arrow-UDF regex extraction + symbol equi-join) →
    PageRank TO CONVERGENCE (1e-6) → top 20 — previously rows-only, now
    fully oracled end-to-end: the corpus is the SQL-reproducible
    modular variant (same shape/hub/self-import structure as the
    xxhash64 one, sources/corpus.py:82-118), the edge half is
    _SQL_CORPUS_EDGES (same recipe the green corpus_edges query
    checks), and the convergence tail uses the dynamic-stop unroll
    (_pagerank_dynamic_sql; 18 supersteps to 1e-6 at this instance,
    bound 26). The xxhash64 corpus keeps exercising the synthesis path
    in bench.py and the parity tests."""
    files = synthesize_corpus_modular(spark, n_files=500, n_repos=10)
    g = derive_edges(files)
    ranks, _ = pagerank(spark, g.edges, tol=1e-6, max_iter=100)
    return (
        ranks.join(g.vertices, "id")
        .select("repo", "path", F.round("rank", 8).alias("rank"))
        .orderBy(F.col("rank").desc(), "repo", "path")
        .limit(20)
    )


# repo of file i = repo_{i % 10}; i is recoverable from the path
# ('src/m%07d.py' → digits at offset 6), so the tail needs no extra
# vertex table. ORDER BY the ROUNDED rank, exactly like the Spark side.
_ORACLE_CORPUS_PIPELINE = _pagerank_dynamic_sql(
    _SQL_CORPUS_EDGES,
    max_steps=26,
    tail="""
SELECT printf('repo_%04d', CAST(substr(id, 6, 7) AS INT) % 10) AS repo,
       id AS path, round(rank, 8) AS rank
FROM final ORDER BY rank DESC, repo, path LIMIT 20""",
)


# --------------------------------------------------------------------------
# link-analysis queries: HITS, k-core, clustering, personalized PageRank
# --------------------------------------------------------------------------

_SQL_CO_PART = """
  SELECT a.l_partkey AS src_id, b.l_partkey AS dst_id
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
"""

# co-part graph sliced to orders ≡ 0 (mod 3) — co_part_edges(order_mod=3).
# Used by the gate queries whose oracle cost is quadratic-ish in edge
# volume (k-core unroll, clustering triangle join, Adamic-Adar wedge
# join, walk replays); each surviving order still contributes its
# complete clique, so local structure is intact. SSSP stays on the FULL
# graph: its oracle's unroll bound is a diameter bound, and slicing
# makes the graph SPARSER (longer shortest paths), which could silently
# outgrow the bound.
_SQL_CO_PART_GATE = """
  SELECT a.l_partkey AS src_id, b.l_partkey AS dst_id
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_orderkey % 3 = 0) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_orderkey % 3 = 0) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
"""


def q_hits_3steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three exact weighted-HITS supersteps on the supplier→part graph
    (operators/hits.py). tol=0 forces exactly 3 iterations, so the SQL
    unroll replays the identical dataflow — including the hub pass over
    the UN-normalized a_raw — step for step."""
    e = supplier_part_edges(spark, sf_dir)
    scores, _ = hits(spark, e, tol=0.0, max_iter=3)
    return scores.select(
        "id",
        F.round("hub", 10).alias("hub"),
        F.round("auth", 10).alias("auth"),
    ).orderBy("id")


def _hits_sql(steps: int) -> str:
    """Hand-unrolled weighted HITS with L2 normalization, mirroring
    hits()'s exact update: a_raw = hub·W (coalesced to 0 over all
    vertices), t_raw = W·a_raw over the UN-normalized a_raw, then both
    vectors divide by their L2 norms."""
    pre = f"""
WITH edges AS MATERIALIZED ({_SQL_EDGES}),
verts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src_id AS id FROM edges
                                   UNION ALL SELECT dst_id FROM edges)),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM verts),
h0 AS MATERIALIZED (SELECT id, 1.0 / sqrt((SELECT c FROM nn)) AS hub FROM verts)"""
    body = ""
    for i in range(1, steps + 1):
        p = i - 1
        body += f""",
ar{i} AS MATERIALIZED (SELECT v.id, coalesce(s.a, 0) AS a_raw
        FROM verts v LEFT JOIN (
          SELECT e.dst_id, sum(h.hub * e.weight) AS a
          FROM edges e JOIN h{p} h ON h.id = e.src_id GROUP BY 1
        ) s ON v.id = s.dst_id),
tr{i} AS MATERIALIZED (SELECT v.id, coalesce(s.t, 0) AS t_raw
        FROM verts v LEFT JOIN (
          SELECT e.src_id, sum(a.a_raw * e.weight) AS t
          FROM edges e JOIN ar{i} a ON a.id = e.dst_id GROUP BY 1
        ) s ON v.id = s.src_id),
na{i} AS (SELECT sqrt(sum(a_raw * a_raw)) AS n FROM ar{i}),
nt{i} AS (SELECT sqrt(sum(t_raw * t_raw)) AS n FROM tr{i}),
h{i} AS MATERIALIZED (SELECT id, t_raw / (SELECT n FROM nt{i}) AS hub FROM tr{i}),
au{i} AS (SELECT id, a_raw / (SELECT n FROM na{i}) AS auth FROM ar{i})"""
    return pre + body + f"""
SELECT h.id, round(h.hub, 10) AS hub, round(a.auth, 10) AS auth
FROM h{steps} h JOIN au{steps} a USING (id) ORDER BY id"""


def q_hits_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS iterated TO CONVERGENCE (tol 1e-6, L-inf over both
    vectors) — the convergence CONTROL FLOW oracled with the same
    dynamic-stop trick as pagerank_converged/ppr_seeds: unroll 8 exact
    supersteps (the bipartite graph converges in 4 at sf0.01 — strong
    eigengap), emit the first step whose delta beats tol; an
    unconverged unroll mismatches loudly."""
    e = supplier_part_edges(spark, sf_dir)
    scores, _ = hits(spark, e, tol=1e-6, max_iter=100)
    return scores.select(
        "id",
        F.round("hub", 10).alias("hub"),
        F.round("auth", 10).alias("auth"),
    ).orderBy("id")


def _hits_dynamic_sql(max_steps: int, tol: str = "1e-6") -> str:
    """_hits_sql plus per-step L-inf deltas of BOTH normalized vectors
    and the first-step-below-tol selection (the runner's strict-<
    rule, exactly hits()'s ``max(dh, da) < tol`` check)."""
    pre = f"""
WITH edges AS MATERIALIZED ({_SQL_EDGES}),
verts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src_id AS id FROM edges
                                   UNION ALL SELECT dst_id FROM edges)),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM verts),
h0 AS MATERIALIZED (SELECT id, 1.0 / sqrt((SELECT c FROM nn)) AS hub FROM verts),
au0 AS MATERIALIZED (SELECT id, 0.0 AS auth FROM verts)"""
    body = ""
    for i in range(1, max_steps + 1):
        p = i - 1
        body += f""",
ar{i} AS MATERIALIZED (SELECT v.id, coalesce(s.a, 0) AS a_raw
        FROM verts v LEFT JOIN (
          SELECT e.dst_id, sum(h.hub * e.weight) AS a
          FROM edges e JOIN h{p} h ON h.id = e.src_id GROUP BY 1
        ) s ON v.id = s.dst_id),
tr{i} AS MATERIALIZED (SELECT v.id, coalesce(s.t, 0) AS t_raw
        FROM verts v LEFT JOIN (
          SELECT e.src_id, sum(a.a_raw * e.weight) AS t
          FROM edges e JOIN ar{i} a ON a.id = e.dst_id GROUP BY 1
        ) s ON v.id = s.src_id),
na{i} AS (SELECT sqrt(sum(a_raw * a_raw)) AS n FROM ar{i}),
nt{i} AS (SELECT sqrt(sum(t_raw * t_raw)) AS n FROM tr{i}),
h{i} AS MATERIALIZED (SELECT id, t_raw / (SELECT n FROM nt{i}) AS hub FROM tr{i}),
au{i} AS MATERIALIZED (SELECT id, a_raw / (SELECT n FROM na{i}) AS auth FROM ar{i}),
dl{i} AS (SELECT greatest(
            (SELECT max(abs(a.hub - b.hub)) FROM h{i} a JOIN h{p} b USING (id)),
            (SELECT max(abs(a.auth - b.auth)) FROM au{i} a JOIN au{p} b USING (id))
          ) AS d)"""
    dls = "\nUNION ALL ".join(
        f"SELECT {i} AS i, (SELECT d FROM dl{i}) AS d"
        for i in range(1, max_steps + 1)
    )
    allr = "\nUNION ALL ".join(
        f"SELECT {i} AS i, h.id, h.hub, a.auth FROM h{i} h JOIN au{i} a USING (id)"
        for i in range(1, max_steps + 1)
    )
    return pre + body + f""",
dls AS ({dls}),
kk AS (SELECT coalesce(min(i), {max_steps}) AS k FROM dls WHERE d < {tol}),
final AS (SELECT id, hub, auth FROM ({allr}) u WHERE i = (SELECT k FROM kk))
SELECT id, round(hub, 10) AS hub, round(auth, 10) AS auth
FROM final ORDER BY id"""


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-part gate graph
    (operators/metrics.py — every sum integral, so the scalar is
    bit-reproducible; only the terminal multiply/divide/sqrt are
    floating, and those are IEEE-exact given exact inputs)."""
    from .operators.metrics import degree_assortativity

    e = co_part_edges(spark, sf_dir, order_mod=3)
    return degree_assortativity(e).select(
        "n_edges", F.round("assortativity", 6).alias("assortativity")
    )


_ORACLE_ASSORTATIVITY = f"""
WITH e0 AS MATERIALIZED ({_SQL_CO_PART_GATE}),
und AS MATERIALIZED (SELECT src_id, dst_id FROM e0
        UNION SELECT dst_id, src_id FROM e0),
deg AS MATERIALIZED (
  SELECT src_id AS id, CAST(count(*) AS BIGINT) AS deg
  FROM und GROUP BY 1),
p AS (SELECT dx.deg AS dx, dy.deg AS dy
      FROM und u JOIN deg dx ON u.src_id = dx.id
      JOIN deg dy ON u.dst_id = dy.id),
s AS (SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
             CAST(sum(dx * dy) AS BIGINT) AS sxy,
             CAST(sum(dx * dx) AS BIGINT) AS sxx,
             CAST(sum(dy * dy) AS BIGINT) AS syy
      FROM p)
SELECT CAST(m / 2 AS BIGINT) AS n_edges,
       CASE WHEN (CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
             AND (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
            THEN round(
              (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
              / sqrt((CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                     * (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
              6)
            END AS assortativity
FROM s
"""


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of a deterministic 4-way vertex partition
    (pmod(id, 4)) over the co-part gate graph (operators/metrics.py).
    All sums integral; the per-community Q fold is community-sorted on
    both engines so the floating addition order is pinned."""
    from .operators.metrics import modularity

    e = co_part_edges(spark, sf_dir, order_mod=3)
    labels = (
        e.select(F.col("src_id").alias("id"))
        .unionByName(e.select(F.col("dst_id").alias("id")))
        .distinct()
        .select("id", F.pmod(F.col("id"), F.lit(4)).alias("label"))
    )
    return modularity(e, labels).select(
        "n_edges", "n_communities", F.round("modularity", 6).alias("modularity")
    )


_ORACLE_MODULARITY = f"""
WITH e0 AS MATERIALIZED ({_SQL_CO_PART_GATE}),
el AS MATERIALIZED (
  SELECT src_id % 4 AS lx, dst_id % 4 AS ly FROM e0),
m_row AS (SELECT CAST(count(*) AS BIGINT) AS m FROM el),
w AS (SELECT lx AS c, CAST(count(*) AS BIGINT) AS within
      FROM el WHERE lx = ly GROUP BY 1),
cd AS (SELECT c, CAST(count(*) AS BIGINT) AS cdeg
       FROM (SELECT lx AS c FROM el UNION ALL SELECT ly FROM el)
       GROUP BY 1),
per_c AS (
  SELECT cd.c, cd.cdeg, coalesce(w.within, 0) AS within
  FROM cd LEFT JOIN w ON cd.c = w.c)
SELECT m AS n_edges, CAST(count(*) AS BIGINT) AS n_communities,
       round(sum(
         CAST(within AS DOUBLE) / m
         - (CAST(cdeg AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
           * (CAST(cdeg AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
         ORDER BY per_c.c), 6) AS modularity
FROM per_c CROSS JOIN m_row
GROUP BY m
"""


def q_mis_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal independent set on the co-part gate graph
    (operators/mis.py — priority-parallel greedy, md5 hash family so
    the priority is bit-reproducible in DuckDB). The oracle replays the
    SEQUENTIAL greedy over the same (md5, id) priority order with a
    recursive-CTE fold carrying the accumulated set — a different
    algorithm whose fixpoint provably coincides (LFMIS equivalence,
    module docstring). Vertex-sliced (part_mod=4, ~500 vertices): the
    replay costs one recursive-CTE iteration PER VERTEX, so the gate
    instance bounds the vertex set — the induced subgraph keeps real
    per-order co-occurrence structure; full-size behavior is pytest
    territory."""
    from .operators.mis import maximal_independent_set

    e = co_part_edges(spark, sf_dir, part_mod=4)
    got, _ = maximal_independent_set(spark, e, seed=42, hash_family="md5")
    return got.orderBy("id")


_SQL_CO_PART_MIS = """
  SELECT a.l_partkey AS src_id, b.l_partkey AS dst_id
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_partkey % 4 = 1) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_partkey % 4 = 1) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
"""

_ORACLE_MIS = f"""
WITH RECURSIVE e0 AS MATERIALIZED ({_SQL_CO_PART_MIS}),
und AS MATERIALIZED (
  SELECT src_id AS a, dst_id AS b FROM e0
  UNION SELECT dst_id, src_id FROM e0),
verts AS MATERIALIZED (SELECT DISTINCT a AS id FROM und),
prio AS MATERIALIZED (
  SELECT id,
         CAST(('0x' || substr(md5('42:' || CAST(id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM verts),
ord AS MATERIALIZED (
  SELECT id, row_number() OVER (ORDER BY h, id) AS rk FROM prio),
nbrs AS MATERIALIZED (SELECT a AS id, list(b) AS ns FROM und GROUP BY 1),
steps(rk, mis) AS (
  SELECT 0, CAST([] AS BIGINT[])
  UNION ALL
  SELECT o.rk,
         CASE WHEN len(list_intersect(s.mis, coalesce(n.ns,
                                                      CAST([] AS BIGINT[])))) = 0
              THEN list_append(s.mis, o.id) ELSE s.mis END
  FROM steps s
  JOIN ord o ON o.rk = s.rk + 1
  LEFT JOIN nbrs n ON n.id = o.id),
final AS MATERIALIZED (
  SELECT mis FROM steps ORDER BY rk DESC LIMIT 1)
SELECT v.id, list_contains(f.mis, v.id) AS in_mis
FROM verts v CROSS JOIN final f
ORDER BY v.id
"""


def q_kcore_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-vertex coreness on the co-part graph (parts sharing an
    order — the sparse projection; the co-supplier one is complete at
    every tested SF) via the distributed h-index fixpoint
    (operators/kcore.py). 19 supersteps to fixpoint at sf0.01; the
    oracle unrolls 24 — over-unrolling a fixpoint is the identity, and
    every value is integral, so the replay is bit-exact by
    construction. Stays on the FULL co-part graph (unlike the
    clustering/walk gate queries' order_mod=3 slice): the h-index
    fixpoint converges in step count ~ the peeling depth, and the
    SPARSER sliced graph measured 53 supersteps vs 19 — slicing made
    this query slower on both engines."""
    e = co_part_edges(spark, sf_dir)
    cores, _ = coreness(spark, e)
    return cores.orderBy("id")


def _kcore_sql(steps: int) -> str:
    """h-index fixpoint unroll. h-index via the rank trick: with
    neighbor values sorted descending, h = #{rank r : value_r >= r} —
    deterministic under ties because the sorted value multiset is."""
    pre = f"""
WITH e0 AS MATERIALIZED ({_SQL_CO_PART}),
und AS MATERIALIZED (SELECT src_id AS v, dst_id AS u FROM e0
        UNION SELECT dst_id, src_id FROM e0),
c0 AS MATERIALIZED (SELECT v AS id, CAST(count(*) AS BIGINT) AS core
        FROM und GROUP BY 1)"""
    body = ""
    for i in range(1, steps + 1):
        p = i - 1
        body += f""",
c{i} AS MATERIALIZED (
  SELECT v AS id, CAST(count(*) FILTER (WHERE nc >= rn) AS BIGINT) AS core
  FROM (SELECT und.v, c.core AS nc,
               row_number() OVER (PARTITION BY und.v ORDER BY c.core DESC) AS rn
        FROM und JOIN c{p} c ON c.id = und.u)
  GROUP BY v)"""
    return pre + body + f"\nSELECT id, core FROM c{steps} ORDER BY id"


def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-edge trussness on the co-part gate graph (order_mod=3,
    39k edges / 61.5k triangles at sf0.01 — triangle-rich, so the truss
    hierarchy is non-degenerate: trussness spans 2..13) via the local
    h-index fixpoint (operators/truss.py). 6 value-changing supersteps
    to fixpoint at sf0.01 but 15 at the DENSER sf0.001 gate graph (the
    unroll bound is a structure property, not a size one — an initial
    10-step unroll mismatched loudly at sf0.001, the self-policing
    contract working); the oracle unrolls 20 — over-unrolling a
    fixpoint is the identity and every value is integral, so the replay
    is bit-exact by construction (same contract as kcore_coreness)."""
    e = co_part_edges(spark, sf_dir, order_mod=3)
    truss, _ = trussness(spark, e)
    return truss.orderBy("src_id", "dst_id")


def _ktruss_sql(steps: int) -> str:
    """Truss h-index fixpoint unroll: static per-(triangle, member
    edge) incidence with the other two member edges inline, then per
    step rho = least of the two other edges' values and the h-index via
    the rank trick (count FILTER WHERE rho >= rn, values DESC)."""
    pre = f"""
WITH e0 AS MATERIALIZED ({_SQL_CO_PART_GATE}),
edg AS MATERIALIZED (SELECT src_id AS u, dst_id AS v FROM e0),
tri AS MATERIALIZED (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM edg e1 JOIN edg e2 ON e2.u = e1.v
  JOIN edg e3 ON e3.u = e1.u AND e3.v = e2.v),
inc AS MATERIALIZED (
  SELECT x AS eu, y AS ev, x AS ou1, z AS ov1, y AS ou2, z AS ov2 FROM tri
  UNION ALL SELECT x, z, x, y, y, z FROM tri
  UNION ALL SELECT y, z, x, y, x, z FROM tri),
t0 AS MATERIALIZED (
  SELECT eu, ev, CAST(count(*) AS BIGINT) AS t FROM inc GROUP BY 1, 2)"""
    body = ""
    for i in range(1, steps + 1):
        p = i - 1
        body += f""",
t{i} AS MATERIALIZED (
  SELECT eu, ev, CAST(count(*) FILTER (WHERE rho >= rn) AS BIGINT) AS t
  FROM (SELECT inc.eu, inc.ev, least(a.t, b.t) AS rho,
               row_number() OVER (PARTITION BY inc.eu, inc.ev
                                  ORDER BY least(a.t, b.t) DESC) AS rn
        FROM inc JOIN t{p} a ON a.eu = inc.ou1 AND a.ev = inc.ov1
                 JOIN t{p} b ON b.eu = inc.ou2 AND b.ev = inc.ov2)
  GROUP BY 1, 2)"""
    return pre + body + f"""
SELECT e.u AS src_id, e.v AS dst_id,
       coalesce(t.t, 0) + 2 AS trussness
FROM edg e LEFT JOIN t{steps} t ON t.eu = e.u AND t.ev = e.v
ORDER BY 1, 2"""


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex local clustering coefficient on the co-part graph
    (operators/triangles.py local_clustering_coefficient — reuses the
    degree-oriented triangle enumeration)."""
    e = co_part_edges(spark, sf_dir, order_mod=3)
    return (
        local_clustering_coefficient(e)
        .select(
            "id", "degree", "n_triangles", F.round("coeff", 10).alias("coeff")
        )
        .orderBy("id")
    )


_ORACLE_CLUSTERING = f"""
WITH e0 AS MATERIALIZED ({_SQL_CO_PART_GATE}),
und AS MATERIALIZED (SELECT src_id, dst_id FROM e0
        UNION SELECT dst_id, src_id FROM e0),
deg AS (SELECT src_id AS id, CAST(count(*) AS BIGINT) AS degree
        FROM und GROUP BY 1),
tri AS (SELECT a.src_id AS id, CAST(count(*) AS BIGINT) AS t
        FROM und a JOIN und b ON a.src_id = b.src_id AND a.dst_id < b.dst_id
        JOIN und c ON c.src_id = a.dst_id AND c.dst_id = b.dst_id
        GROUP BY 1)
SELECT d.id, d.degree, coalesce(t.t, 0) AS n_triangles,
       round(CASE WHEN d.degree >= 2
                  THEN 2.0 * coalesce(t.t, 0)
                       / (CAST(d.degree AS DOUBLE) * (CAST(d.degree AS DOUBLE) - 1.0))
                  ELSE 0.0 END, 10) AS coeff
FROM deg d LEFT JOIN tri t USING (id) ORDER BY d.id
"""


def q_ppr_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank TO CONVERGENCE (1e-6) from the 3 lowest
    supplier ids on the supplier→part graph: teleport AND dangling mass
    land uniformly on the seed set (pagerank(sources=...)). Unlike the
    uniform-teleport case (2 supersteps — the bipartite graph mixes in
    one bounce), the seeded chain genuinely contracts at rate d, so
    the gate runs damping=0.5 (exactly representable; ~19 supersteps
    to 1e-6 — d=0.85's 79 supersteps cost ~4x the Spark jobs AND an
    84-step DuckDB unroll for no extra semantic coverage); the oracle
    unrolls 24 with the dynamic stop (first step with L-inf delta <
    tol — self-policing: an unconverged unroll mismatches loudly)."""
    e = supplier_part_edges(spark, sf_dir)
    seeds = e.select(F.col("src_id").alias("id")).distinct().orderBy("id").limit(3)
    ranks, _ = pagerank(spark, e, sources=seeds, damping=0.5, tol=1e-6,
                        max_iter=100)
    return ranks.select("id", F.round("rank", 10).alias("rank")).orderBy("id")


def _ppr_dynamic_sql(edges_sql: str, max_steps: int, n_seeds: int,
                     tol: str = "1e-6", damping: float = 0.85) -> str:
    """Dynamic-stop unroll of PERSONALIZED PageRank (same scaffold as
    _pagerank_dynamic_sql; r0 uniform over the seed set, teleport and
    dangling terms divide by |S| and land only on members).

    ``damping`` literals are emitted with an e0 suffix (DuckDB parses
    bare decimals as DECIMAL, not DOUBLE) and (1-d) is computed in
    PYTHON floats exactly as the engine's ``F.lit(1.0 - damping)``
    does, so the replay stays IEEE-identical for any d."""
    d_lit = f"{damping!r}e0"
    omd_lit = f"{1.0 - damping!r}e0"
    pre = f"""
WITH edges AS MATERIALIZED ({edges_sql}),
verts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src_id AS id FROM edges
                                   UNION ALL SELECT dst_id FROM edges)),
seeds AS MATERIALIZED (SELECT DISTINCT src_id AS id FROM edges ORDER BY 1 LIMIT {n_seeds}),
ns AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM seeds),
outw AS MATERIALIZED (SELECT src_id, sum(weight) AS wo FROM edges GROUP BY 1),
norm AS MATERIALIZED (SELECT src_id, dst_id, weight / wo AS frac
         FROM edges JOIN outw USING (src_id)),
r0 AS MATERIALIZED (SELECT v.id,
        CASE WHEN s.id IS NOT NULL THEN 1.0 / (SELECT c FROM ns) ELSE 0.0 END AS rank
        FROM verts v LEFT JOIN seeds s USING (id))"""
    body = ""
    for i in range(1, max_steps + 1):
        p = i - 1
        body += f""",
d{i} AS (SELECT coalesce(sum(rank), 0) AS dm FROM r{p}
        WHERE id NOT IN (SELECT src_id FROM outw)),
s{i} AS (SELECT dst_id, sum(r{p}.rank * frac) AS s
        FROM norm JOIN r{p} ON r{p}.id = norm.src_id GROUP BY 1),
r{i} AS MATERIALIZED (SELECT v.id,
               CASE WHEN sd.id IS NOT NULL
                    THEN {omd_lit} / (SELECT c FROM ns)
                         + {d_lit} * (SELECT dm FROM d{i}) / (SELECT c FROM ns)
                    ELSE 0.0 END
               + {d_lit} * coalesce(s.s, 0) AS rank
        FROM verts v LEFT JOIN s{i} s ON v.id = s.dst_id
        LEFT JOIN seeds sd ON v.id = sd.id),
dl{i} AS (SELECT max(abs(a.rank - b.rank)) AS d
        FROM r{i} a JOIN r{p} b USING (id))"""
    dls = "\nUNION ALL ".join(
        f"SELECT {i} AS i, (SELECT d FROM dl{i}) AS d"
        for i in range(1, max_steps + 1)
    )
    allr = "\nUNION ALL ".join(
        f"SELECT {i} AS i, id, rank FROM r{i}" for i in range(1, max_steps + 1)
    )
    return pre + body + f""",
dls AS ({dls}),
kk AS (SELECT coalesce(min(i), {max_steps}) AS k FROM dls WHERE d < {tol}),
final AS (SELECT id, rank FROM ({allr}) u WHERE i = (SELECT k FROM kk))
SELECT id, round(rank, 10) AS rank FROM final ORDER BY id"""


def q_sssp_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source shortest paths (operators/paths.py — delta
    Bellman-Ford supersteps) on the SYMMETRIZED co-part graph from the
    3 lowest part ids, with deterministic non-uniform weights
    w = 1 + (src+dst) % 5 (symmetric, integer-valued, so every path
    sum is IEEE-exact and the SQL replay is bit-exact). The oracle
    unrolls the identical relaxation to fixpoint — over-unrolling is
    the identity, same self-policing trick as the k-core oracle."""
    e0 = co_part_edges(spark, sf_dir).select("src_id", "dst_id")
    und = e0.unionByName(
        e0.select(F.col("dst_id").alias("src_id"), F.col("src_id").alias("dst_id"))
    )
    e = und.withColumn(
        "weight",
        (F.lit(1) + F.pmod(F.col("src_id") + F.col("dst_id"), F.lit(5)))
        .cast("double"),
    )
    seeds = e.select(F.col("src_id").alias("id")).distinct().orderBy("id").limit(3)
    dists, _ = shortest_paths(spark, e, seeds)
    return dists.orderBy("id")


def _sssp_sql(steps: int, n_seeds: int) -> str:
    pre = f"""
WITH e0 AS MATERIALIZED ({_SQL_CO_PART}),
edges AS MATERIALIZED (
  SELECT src_id, dst_id,
         CAST(1 + (src_id + dst_id) % 5 AS DOUBLE) AS weight
  FROM (SELECT src_id, dst_id FROM e0
        UNION ALL SELECT dst_id, src_id FROM e0)),
verts AS MATERIALIZED (SELECT DISTINCT src_id AS id FROM edges),
seeds AS MATERIALIZED (SELECT id FROM verts ORDER BY id LIMIT {n_seeds}),
d0 AS MATERIALIZED (SELECT v.id,
        CASE WHEN s.id IS NOT NULL THEN 0.0 ELSE NULL END AS dist
        FROM verts v LEFT JOIN seeds s USING (id))"""
    body = ""
    for i in range(1, steps + 1):
        p = i - 1
        body += f""",
d{i} AS MATERIALIZED (
  SELECT d.id, least(coalesce(d.dist, c.cand), coalesce(c.cand, d.dist)) AS dist
  FROM d{p} d LEFT JOIN (
    SELECT e.dst_id, min(s.dist + e.weight) AS cand
    FROM edges e JOIN d{p} s ON s.id = e.src_id AND s.dist IS NOT NULL
    GROUP BY 1
  ) c ON d.id = c.dst_id)"""
    return pre + body + f"\nSELECT id, dist FROM d{steps} ORDER BY id"


def q_adamic_adar_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 Adamic-Adar link predictions on the co-part graph with a
    degree cap of 120 (hub centers carry vanishing 1/ln(deg) weight;
    the cap is the 100-TB scale knob — operators/linkpred.py). Rounding
    to 9 decimals absorbs sum-order ulp noise; ties broken by
    (src, dst) so the LIMIT boundary is deterministic on both sides."""
    e = co_part_edges(spark, sf_dir, order_mod=3)
    return (
        adamic_adar_pairs(e, max_degree=120)
        .select(
            "src_id", "dst_id", "common_neighbors",
            F.round("aa_score", 9).alias("aa_score"),
        )
        .orderBy(F.col("aa_score").desc(), "src_id", "dst_id")
        .limit(50)
    )


_ORACLE_ADAMIC_ADAR = f"""
WITH e0 AS MATERIALIZED ({_SQL_CO_PART_GATE}),
und AS MATERIALIZED (SELECT src_id, dst_id FROM e0
        UNION SELECT dst_id, src_id FROM e0),
deg AS (SELECT src_id AS z, CAST(count(*) AS BIGINT) AS deg
        FROM und GROUP BY 1),
half AS (SELECT u.src_id AS z, u.dst_id AS v, d.deg
         FROM und u JOIN deg d ON u.src_id = d.z
         WHERE d.deg <= 120),
wedges AS (SELECT a.v AS src_id, b.v AS dst_id, a.deg
           FROM half a JOIN half b ON a.z = b.z AND a.v < b.v),
scored AS (SELECT src_id, dst_id,
                  CAST(count(*) AS BIGINT) AS common_neighbors,
                  sum(1.0 / ln(CAST(deg AS DOUBLE))) AS aa_score
           FROM wedges GROUP BY 1, 2),
nonadj AS (SELECT s.* FROM scored s
           LEFT JOIN und u ON s.src_id = u.src_id AND s.dst_id = u.dst_id
           WHERE u.src_id IS NULL)
SELECT src_id, dst_id, common_neighbors, round(aa_score, 9) AS aa_score
FROM nonadj ORDER BY aa_score DESC, src_id, dst_id LIMIT 50
"""


def q_scc_order_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (operators/scc.py — distributed
    coloring: forward max-id fixpoint + backward same-color
    containment, peel, repeat) on the order-cycle graph: per customer
    the orders form RINGS of at most 8 (ring_cap=8 — bounds the
    coloring fixpoint's propagation distance, i.e. the peel's
    Spark-job count at sf0.01; see order_cycle_edges) and the customer
    vertex is a singleton entry point. The oracle is CLOSED-FORM —
    each ring's scc_id is the min order id in its 8-chunk — so the
    driver check validates the whole decomposition without a
    transitive closure. The algorithmic correctness on arbitrary
    digraphs is pytest territory (iterative-Tarjan oracle,
    tests/test_scc.py)."""
    e = order_cycle_edges(spark, sf_dir, ring_cap=8)
    sccs = strongly_connected_components(spark, e)
    return sccs.orderBy("id")


_ORACLE_SCC = f"""
WITH r AS (
  SELECT o_custkey, o_orderkey,
         (row_number() OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey) - 1) // 8 AS grp
  FROM orders),
m AS (SELECT o_custkey, grp, min(o_orderkey) AS mo
      FROM r GROUP BY 1, 2)
SELECT id, scc_id FROM (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS id,
         CAST(o_custkey AS BIGINT) AS scc_id
  FROM orders
  UNION ALL
  SELECT CAST(r.o_orderkey + {ORDER_OFFSET} AS BIGINT) AS id,
         CAST(m.mo + {ORDER_OFFSET} AS BIGINT) AS scc_id
  FROM r JOIN m USING (o_custkey, grp))
ORDER BY id
"""


def q_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condensation DAG: contract the order-cycle graph by its SCCs
    (scc.py output feeding the contraction pattern of
    q_graph_contraction) — the standard way to make ANY digraph
    schedulable by the DAG operators (topological sort, longest path,
    chain decomposition). On the ring forest the condensation is
    closed-form: one edge per customer, custkey → its FIRST ring's
    scc_id, weight = 1 (the entry edge; intra-ring edges collapse and
    later rings are isolated vertices with no condensation edges —
    ring_cap=8 bounds the SCC fixpoint, see order_cycle_edges)."""
    e = order_cycle_edges(spark, sf_dir, ring_cap=8)
    sccs = strongly_connected_components(spark, e)
    src_l = sccs.select(
        F.col("id").alias("src_id"), F.col("scc_id").alias("src_scc")
    )
    dst_l = sccs.select(
        F.col("id").alias("dst_id"), F.col("scc_id").alias("dst_scc")
    )
    return (
        e.join(src_l, "src_id")
        .join(dst_l, "dst_id")
        .filter(F.col("src_scc") != F.col("dst_scc"))
        .groupBy("src_scc", "dst_scc")
        .agg(F.sum("weight").alias("weight"))
        .orderBy("src_scc", "dst_scc")
    )


_ORACLE_CONDENSATION = f"""
WITH r AS (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders),
m AS (SELECT o_custkey, min(o_orderkey) AS mo
      FROM r WHERE rn <= 8 GROUP BY 1)
SELECT CAST(o_custkey AS BIGINT) AS src_scc,
       CAST(mo + {ORDER_OFFSET} AS BIGINT) AS dst_scc,
       CAST(1 AS DOUBLE) AS weight
FROM m ORDER BY src_scc, dst_scc
"""


def q_scc_dag_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full make-any-digraph-schedulable composition (the shape of
    the reference's whole process.py:94-150 pipeline, on CYCLIC input):
    SCC decomposition → condensation → topological levels →
    greedy chain decomposition, chained through the REAL operators in
    one query. Input: the order-cycle graph sliced to customers ≡ 1
    (mod 300) (~5 components at sf0.01 — chain_decomposition is a
    contracted-graph operator, one driver round per emitted chain).

    Closed form on the ring forest (ring_cap=8 — see
    order_cycle_edges; rings past the first are isolated vertices with
    no condensation edges, so they drop out of the edge-defined DAG):
    each component condenses to the 2-vertex path custkey → first-ring
    scc (scc_id = min order id among the customer's first 8 orders
    + ORDER_OFFSET), so levels are 0/1, every chain is that 2-path, and
    the greedy peel's (length desc, end-id asc) tie-break emits chains
    in ascending ring-scc id. scc_size = least(8, order count).
    Output: (chain_id, pos, scc_id, level, scc_size)."""
    from .operators.dag import chain_decomposition, topological_levels

    e = order_cycle_edges(spark, sf_dir, custkey_mod=300, custkey_rem=1,
                          ring_cap=8)
    sccs = strongly_connected_components(spark, e)
    src_l = sccs.select(F.col("id").alias("src_id"), F.col("scc_id").alias("src_scc"))
    dst_l = sccs.select(F.col("id").alias("dst_id"), F.col("scc_id").alias("dst_scc"))
    cond = (
        e.join(src_l, "src_id")
        .join(dst_l, "dst_id")
        .filter(F.col("src_scc") != F.col("dst_scc"))
        .groupBy(
            F.col("src_scc").alias("src_id"), F.col("dst_scc").alias("dst_id")
        )
        .agg(F.sum("weight").alias("weight"))
        .localCheckpoint(eager=True)
    )
    levels = topological_levels(spark, cond)
    chains = chain_decomposition(spark, cond)
    chain_df = local_rows(
        spark,
        [
            (int(ci), int(pos), int(v))
            for ci, chain in enumerate(chains)
            for pos, v in enumerate(chain)
        ],
        "chain_id long, pos long, scc_id long",
    )
    sizes = sccs.groupBy(F.col("scc_id")).agg(
        F.count("*").cast("long").alias("scc_size")
    )
    return (
        chain_df.join(levels, chain_df.scc_id == levels.id)
        .join(sizes, "scc_id")
        .select(
            "chain_id", "pos", "scc_id",
            F.col("level").cast("long").alias("level"),
            "scc_size",
        )
        .orderBy("chain_id", "pos")
    )


_ORACLE_SCC_DAG_PIPELINE = f"""
WITH r AS (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders WHERE o_custkey % 300 = 1),
sel AS (
  SELECT o_custkey, min(o_orderkey) AS mo, count(*) AS n_orders
  FROM r WHERE rn <= 8 GROUP BY 1),
ranked AS (
  SELECT o_custkey, mo, n_orders,
         row_number() OVER (ORDER BY mo ASC) - 1 AS chain_id
  FROM sel)
SELECT CAST(chain_id AS BIGINT) AS chain_id, CAST(0 AS BIGINT) AS pos,
       CAST(o_custkey AS BIGINT) AS scc_id, CAST(0 AS BIGINT) AS level,
       CAST(1 AS BIGINT) AS scc_size
FROM ranked
UNION ALL
SELECT CAST(chain_id AS BIGINT), CAST(1 AS BIGINT),
       CAST(mo + {ORDER_OFFSET} AS BIGINT), CAST(1 AS BIGINT),
       CAST(n_orders AS BIGINT)
FROM ranked
ORDER BY chain_id, pos
"""


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk-style walk corpus (operators/walks.py)
    on the symmetrized co-part graph: 2 walks of length 4 from every
    vertex, hash-seeded (md5 family here so DuckDB replays the
    neighbor selection bit-exactly; engine default stays xxhash64 —
    the same hash-family parameterization as minhash)."""
    e0 = co_part_edges(spark, sf_dir, order_mod=3).select("src_id", "dst_id")
    und = e0.unionByName(
        e0.select(F.col("dst_id").alias("src_id"), F.col("src_id").alias("dst_id"))
    ).withColumn("weight", F.lit(1.0))
    return random_walks(
        spark, und, walk_length=4, num_walks=2, seed=7, hash_family="md5"
    ).orderBy("start_id", "walk_no", "step")


def _walks_sql(walk_length: int, num_walks: int, seed: int) -> str:
    """Unrolled replay of the md5 walk rule: at step t,
    rank = CAST('0x' || substr(md5('{seed}:{t}:' || cur || ':' ||
    walk_no || ':' || start_id), 1, 15) AS BIGINT) % deg —
    byte-identical to Spark's
    conv(substring(md5(concat_ws(':', ...)), 1, 15), 16, 10)."""
    pre = f"""
WITH e0 AS MATERIALIZED ({_SQL_CO_PART_GATE}),
und AS (SELECT src_id, dst_id FROM e0
        UNION SELECT dst_id, src_id FROM e0),
adj AS MATERIALIZED (
  SELECT src_id, dst_id,
         row_number() OVER (PARTITION BY src_id ORDER BY dst_id) - 1 AS r,
         count(*) OVER (PARTITION BY src_id) AS deg
  FROM und),
s0 AS MATERIALIZED (
  SELECT id AS start_id, walk_no, id AS cur
  FROM (SELECT DISTINCT src_id AS id FROM adj)
  CROSS JOIN (SELECT i AS walk_no FROM range({num_walks}) t(i)))"""
    body = ""
    for i in range(1, walk_length + 1):
        p = i - 1
        body += f""",
s{i} AS MATERIALIZED (
  SELECT s.start_id, s.walk_no, a.dst_id AS cur
  FROM s{p} s JOIN adj a ON a.src_id = s.cur
   AND a.r = CAST(('0x' || substr(md5('{seed}:{i}:'
                || CAST(s.cur AS VARCHAR) || ':'
                || CAST(s.walk_no AS VARCHAR) || ':'
                || CAST(s.start_id AS VARCHAR)), 1, 15)) AS BIGINT)
             % a.deg)"""
    allsteps = "\nUNION ALL ".join(
        f"SELECT start_id, walk_no, CAST({i} AS INT) AS step, cur AS vertex_id FROM s{i}"
        for i in range(0, walk_length + 1)
    )
    return pre + body + f"""
SELECT start_id, walk_no, step, vertex_id FROM ({allsteps}) u
ORDER BY start_id, walk_no, step"""


def q_biased_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec-style second-order biased walks (operators/walks.py
    biased_walks) on the symmetrized co-part graph: 2 walks of length 4
    per vertex with integer weights (return=1, common=4, far=2) — i.e.
    node2vec p=4, q=2 scaled by 4 — so all three weight classes occur
    and every cumulative-mass selection is exact integer arithmetic the
    DuckDB unroll replays bit-for-bit (md5 family)."""
    e0 = co_part_edges(spark, sf_dir, order_mod=3).select("src_id", "dst_id")
    und = e0.unionByName(
        e0.select(F.col("dst_id").alias("src_id"), F.col("src_id").alias("dst_id"))
    ).withColumn("weight", F.lit(1.0))
    return biased_walks(
        spark, und, walk_length=4, num_walks=2, seed=7,
        return_weight=1, common_weight=4, far_weight=2, hash_family="md5",
    ).orderBy("start_id", "walk_no", "step")


def _biased_walks_sql(walk_length: int, num_walks: int, seed: int,
                      wr: int, wc: int, wf: int) -> str:
    """Unrolled replay of the biased walk rule. Step 1 is the uniform
    rank rule (identical to _walks_sql); step >= 2 rebuilds the
    candidate table (weight wr on backtrack, wc on prev-neighbors via a
    LEFT JOIN against the distinct pair set, wf otherwise), takes the
    integer running/total weight sums per walker ordered by dst_id, and
    keeps the row whose [cum - wgt, cum) interval contains
    hash % tot — all-integer arithmetic, so bit-exact vs Spark."""
    pre = f"""
WITH e0 AS MATERIALIZED ({_SQL_CO_PART_GATE}),
und AS (SELECT src_id, dst_id FROM e0
        UNION SELECT dst_id, src_id FROM e0),
adj AS MATERIALIZED (
  SELECT src_id, dst_id,
         row_number() OVER (PARTITION BY src_id ORDER BY dst_id) - 1 AS r,
         count(*) OVER (PARTITION BY src_id) AS deg
  FROM und),
s0 AS MATERIALIZED (
  SELECT id AS start_id, walk_no, CAST(NULL AS BIGINT) AS prev, id AS cur
  FROM (SELECT DISTINCT src_id AS id FROM adj)
  CROSS JOIN (SELECT i AS walk_no FROM range({num_walks}) t(i))),
s1 AS MATERIALIZED (
  SELECT s.start_id, s.walk_no, s.cur AS prev, a.dst_id AS cur
  FROM s0 s JOIN adj a ON a.src_id = s.cur
   AND a.r = CAST(('0x' || substr(md5('{seed}:1:'
                || CAST(s.cur AS VARCHAR) || ':'
                || CAST(s.walk_no AS VARCHAR) || ':'
                || CAST(s.start_id AS VARCHAR)), 1, 15)) AS BIGINT)
             % a.deg)"""
    body = ""
    for i in range(2, walk_length + 1):
        p = i - 1
        body += f""",
c{i} AS (
  SELECT s.start_id, s.walk_no, s.prev, s.cur, a.dst_id,
         CASE WHEN a.dst_id = s.prev THEN {wr}
              WHEN e.src_id IS NOT NULL THEN {wc}
              ELSE {wf} END AS wgt,
         CAST(('0x' || substr(md5('{seed}:{i}:'
              || CAST(s.cur AS VARCHAR) || ':'
              || CAST(s.prev AS VARCHAR) || ':'
              || CAST(s.walk_no AS VARCHAR) || ':'
              || CAST(s.start_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM s{p} s JOIN adj a ON a.src_id = s.cur
  LEFT JOIN adj e ON e.src_id = s.prev AND e.dst_id = a.dst_id),
s{i} AS MATERIALIZED (
  SELECT start_id, walk_no, cur AS prev, dst_id AS cur
  FROM (SELECT *,
               sum(wgt) OVER (PARTITION BY start_id, walk_no
                              ORDER BY dst_id) AS cum,
               sum(wgt) OVER (PARTITION BY start_id, walk_no) AS tot
        FROM c{i})
  WHERE tot > 0 AND h % tot >= cum - wgt AND h % tot < cum)"""
    allsteps = "\nUNION ALL ".join(
        f"SELECT start_id, walk_no, CAST({i} AS INT) AS step, cur AS vertex_id FROM s{i}"
        for i in range(0, walk_length + 1)
    )
    return pre + body + f"""
SELECT start_id, walk_no, step, vertex_id FROM ({allsteps}) u
ORDER BY start_id, walk_no, step"""


def q_katz_3steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three exact truncated-Katz supersteps (operators/centrality.py)
    on the weighted supplier→part graph: x_{i+1} = beta + alpha * A^T
    x_i. Oracle = hand-unrolled SQL of the identical update rule;
    round-9 absorbs sum-order ulp noise (precedent: adamic_adar_top)."""
    from .operators.centrality import katz_centrality

    e = supplier_part_edges(spark, sf_dir)
    scores, _ = katz_centrality(
        spark, e, alpha=0.01, beta=1.0, tol=0.0, max_iter=3
    )
    return scores.select("id", F.round("katz", 9).alias("katz")).orderBy("id")


def _katz_sql(steps: int, alpha: float = 0.01, beta: float = 1.0) -> str:
    pre = f"""
WITH edges AS MATERIALIZED ({_SQL_EDGES}),
verts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src_id AS id FROM edges
                                   UNION ALL SELECT dst_id FROM edges)),
x0 AS (SELECT id, {beta} AS x FROM verts)"""
    body = ""
    for i in range(1, steps + 1):
        p = i - 1
        body += f""",
s{i} AS (SELECT dst_id, sum(x{p}.x * weight) AS s
        FROM edges JOIN x{p} ON x{p}.id = edges.src_id GROUP BY 1),
x{i} AS MATERIALIZED (SELECT v.id, {beta} + {alpha} * coalesce(s.s, 0) AS x
        FROM verts v LEFT JOIN s{i} s ON v.id = s.dst_id)"""
    return pre + body + f"\nSELECT id, round(x, 9) AS katz FROM x{steps} ORDER BY id"


def q_salsa_3steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three exact weighted-SALSA supersteps (operators/centrality.py)
    on the supplier→part graph. Hub = the step-3 hub distribution;
    auth = the forward half-step it induces (the operator's documented
    contract — the oracle replays the same dataflow). Both sides are
    probability distributions (exact-arithmetic L1 = 1)."""
    from .operators.centrality import salsa

    e = supplier_part_edges(spark, sf_dir)
    scores, _ = salsa(spark, e, tol=0.0, max_iter=3)
    return scores.select(
        "id",
        F.round("hub", 12).alias("hub"),
        F.round("auth", 12).alias("auth"),
    ).orderBy("id")


def _salsa_sql(steps: int) -> str:
    pre = f"""
WITH edges AS MATERIALIZED ({_SQL_EDGES}),
outw AS MATERIALIZED (SELECT src_id, sum(weight) AS wo FROM edges GROUP BY 1),
inw AS MATERIALIZED (SELECT dst_id, sum(weight) AS wi FROM edges GROUP BY 1),
efwd AS MATERIALIZED (SELECT src_id, dst_id, weight / wo AS fo
        FROM edges JOIN outw USING (src_id)),
ebwd AS MATERIALIZED (SELECT src_id, dst_id, weight / wi AS fi
        FROM edges JOIN inw USING (dst_id)),
ns AS (SELECT CAST(count(*) AS DOUBLE) AS c
       FROM (SELECT DISTINCT src_id FROM edges)),
h0 AS (SELECT DISTINCT src_id AS id, 1.0 / (SELECT c FROM ns) AS hub
       FROM edges)"""
    body = ""
    for i in range(1, steps + 1):
        p = i - 1
        body += f""",
a{i} AS MATERIALIZED (SELECT dst_id AS id, sum(h.hub * fo) AS auth
        FROM efwd e JOIN h{p} h ON h.id = e.src_id GROUP BY 1),
h{i} AS MATERIALIZED (SELECT src_id AS id, sum(a.auth * fi) AS hub
        FROM ebwd e JOIN a{i} a ON a.id = e.dst_id GROUP BY 1)"""
    # the returned auth is the forward half-step induced by the FINAL
    # hubs (operator contract) — one more a-step over h{steps}
    body += f""",
afin AS (SELECT dst_id AS id, sum(h.hub * fo) AS auth
        FROM efwd e JOIN h{steps} h ON h.id = e.src_id GROUP BY 1)"""
    return pre + body + f"""
SELECT coalesce(h.id, a.id) AS id,
       round(coalesce(h.hub, 0), 12) AS hub,
       round(coalesce(a.auth, 0), 12) AS auth
FROM h{steps} h FULL OUTER JOIN afin a ON h.id = a.id
ORDER BY id"""


def q_closeness_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled per-source closeness (operators/betweenness.py — the
    batched BFS, (r-1)/sum-distance fold) on the capped order-chain
    forest, customer sources. Closed form: customer c heads a path of
    L = min(#orders, 8) orders, so sum d = L(L+1)/2 and closeness =
    2/(L+1) exactly."""
    from .operators.betweenness import closeness_centrality_sampled

    o = _read(spark, sf_dir, "orders").filter(
        F.pmod(F.col("o_custkey"), F.lit(100)) == 1
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    r = (
        o.select(
            "o_custkey", "o_orderkey", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 8)
        .select(
            "o_custkey", "o_orderkey", "rn",
            F.lead("o_orderkey").over(
                Window.partitionBy("o_custkey").orderBy("rn")
            ).alias("next_key"),
        )
    )
    first = r.filter(F.col("rn") == 1).select(
        F.col("o_custkey").alias("src_id"),
        (F.col("o_orderkey") + ORDER_OFFSET).alias("dst_id"),
    )
    nxt = r.filter(F.col("next_key").isNotNull()).select(
        (F.col("o_orderkey") + ORDER_OFFSET).alias("src_id"),
        (F.col("next_key") + ORDER_OFFSET).alias("dst_id"),
    )
    e = first.unionByName(nxt).withColumn("weight", F.lit(1.0))
    srcs = r.select(F.col("o_custkey").alias("id")).distinct()
    return (
        closeness_centrality_sampled(spark, e, srcs, max_depth=16)
        .select("id", F.round("closeness", 6).alias("closeness"))
        .orderBy("id")
    )


_ORACLE_CLOSENESS = """
WITH r AS (
  SELECT o_custkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders WHERE o_custkey % 100 = 1),
l AS (SELECT o_custkey, count(*) FILTER (WHERE rn <= 8) AS ll
      FROM r GROUP BY 1)
SELECT CAST(o_custkey AS BIGINT) AS id,
       round(2.0 / (ll + 1), 6) AS closeness
FROM l ORDER BY id
"""


def q_link_scores_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 neighbor-overlap link predictions (operators/linkpred.py
    — the full classical family: common neighbors, Jaccard,
    resource-allocation, preferential attachment) on the gate co-part
    graph, center-degree cap 120. Ordered by (ra_score, src, dst) with
    round-9 so the LIMIT boundary is deterministic on both engines."""
    from .operators.linkpred import neighbor_overlap_pairs

    e = co_part_edges(spark, sf_dir, order_mod=3)
    return (
        neighbor_overlap_pairs(e, max_degree=120)
        .select(
            "src_id", "dst_id", "common_neighbors",
            F.round("jaccard", 9).alias("jaccard"),
            F.round("ra_score", 9).alias("ra_score"),
            "pref_attach",
        )
        .orderBy(F.col("ra_score").desc(), "src_id", "dst_id")
        .limit(50)
    )


_ORACLE_LINK_SCORES = f"""
WITH e0 AS MATERIALIZED ({_SQL_CO_PART_GATE}),
und AS MATERIALIZED (SELECT src_id, dst_id FROM e0
        UNION SELECT dst_id, src_id FROM e0),
deg AS MATERIALIZED (SELECT src_id AS z, CAST(count(*) AS BIGINT) AS deg
        FROM und GROUP BY 1),
half AS (SELECT u.src_id AS z, u.dst_id AS v, d.deg
         FROM und u JOIN deg d ON u.src_id = d.z
         WHERE d.deg <= 120),
wedges AS (SELECT a.v AS src_id, b.v AS dst_id, a.deg
           FROM half a JOIN half b ON a.z = b.z AND a.v < b.v),
scored AS (SELECT src_id, dst_id,
                  CAST(count(*) AS BIGINT) AS common_neighbors,
                  sum(1.0 / CAST(deg AS DOUBLE)) AS ra_score
           FROM wedges GROUP BY 1, 2),
nonadj AS (SELECT s.* FROM scored s
           LEFT JOIN und u ON s.src_id = u.src_id AND s.dst_id = u.dst_id
           WHERE u.src_id IS NULL)
SELECT n.src_id, n.dst_id, n.common_neighbors,
       round(CAST(n.common_neighbors AS DOUBLE)
             / (da.deg + db.deg - n.common_neighbors), 9) AS jaccard,
       round(n.ra_score, 9) AS ra_score,
       CAST(da.deg * db.deg AS BIGINT) AS pref_attach
FROM nonadj n JOIN deg da ON n.src_id = da.z JOIN deg db ON n.dst_id = db.z
ORDER BY ra_score DESC, n.src_id, n.dst_id LIMIT 50
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (operators/dedup.py — Schleimer
    et al. 2003: k-gram hash array → window minima → distinct), k=8
    chars, window=4, over the documents table. The gram hash is the
    md5-prefix bigint both engines compute identically, so the
    fingerprint VALUES (not just counts) compare bit-exactly."""
    from .operators.dedup import winnow_fingerprints

    docs = _read(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=8, window=4).orderBy(
        "doc_id", "fingerprint"
    )


_ORACLE_WINNOW = """
WITH g AS (
  SELECT doc_id,
    list_transform(range(1, greatest(length(text) - 8 + 2, 1)),
      i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), 8)), 1, 15))
                AS BIGINT)) AS grams
  FROM documents),
m AS (
  SELECT doc_id,
    CASE WHEN len(grams) >= 4
      THEN list_transform(range(1, len(grams) - 4 + 2),
             j -> list_min(grams[CAST(j AS INT):CAST(j + 3 AS INT)]))
      ELSE grams END AS mins
  FROM g)
SELECT DISTINCT doc_id, fp AS fingerprint
FROM (SELECT doc_id, unnest(mins) AS fp FROM m)
ORDER BY doc_id, fingerprint
"""


def q_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity 3*T/W on the gate co-part graph — the
    whole-graph companion to the per-vertex clustering coefficient
    (same triangle machinery, one wedge aggregation more). One row:
    (n_triangles, n_wedges, transitivity)."""
    e = co_part_edges(spark, sf_dir, order_mod=3)
    tri = triangle_count(e)  # (n_triangles) 1-row
    und = e.select("src_id", "dst_id").unionByName(
        e.select(F.col("dst_id").alias("src_id"), F.col("src_id").alias("dst_id"))
    ).distinct()
    wed = (
        und.groupBy("src_id")
        .agg(F.count("*").alias("d"))
        .agg(
            F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges")
        )
    )
    return tri.crossJoin(wed).select(
        "n_triangles",
        "n_wedges",
        F.round(
            F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 9
        ).alias("transitivity"),
    )


_ORACLE_TRANSITIVITY = f"""
WITH e0 AS MATERIALIZED ({_SQL_CO_PART_GATE}),
und AS MATERIALIZED (SELECT src_id, dst_id FROM e0
        UNION SELECT dst_id, src_id FROM e0),
tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM e0 a JOIN e0 b ON a.dst_id = b.src_id
        JOIN e0 c ON c.src_id = a.src_id AND c.dst_id = b.dst_id),
wed AS (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
        FROM (SELECT count(*) AS d FROM und GROUP BY src_id))
SELECT n_triangles, n_wedges,
       round(3.0 * n_triangles / n_wedges, 9) AS transitivity
FROM tri, wed
"""


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-graph reciprocity on a mixed dependency graph: every
    supplier→part edge, plus the REVERSE edge for small parts
    (p_size < 20) — parts feeding back into their suppliers.
    reciprocity = fraction of edges whose reverse edge also exists.
    One row: (n_edges, n_reciprocal, reciprocity)."""
    e = supplier_part_edges(spark, sf_dir).select("src_id", "dst_id")
    part = _read(spark, sf_dir, "part").filter(F.col("p_size") < 20).select(
        (F.col("p_partkey") + PART_OFFSET).alias("dst_id")
    )
    rev = e.join(part, "dst_id").select(
        F.col("dst_id").alias("src_id"), F.col("src_id").alias("dst_id")
    )
    g = e.unionByName(rev)
    gr = g.select(F.col("dst_id").alias("src_id"), F.col("src_id").alias("dst_id"))
    recip = g.join(gr, ["src_id", "dst_id"], "left_semi")
    counts = g.agg(F.count("*").alias("n_edges")).crossJoin(
        recip.agg(F.count("*").alias("n_reciprocal"))
    )
    return counts.select(
        "n_edges",
        "n_reciprocal",
        F.round(
            F.col("n_reciprocal").cast("double") / F.col("n_edges"), 9
        ).alias("reciprocity"),
    )


_ORACLE_RECIPROCITY = f"""
WITH e AS MATERIALIZED ({_SQL_EDGES}),
small AS (SELECT p_partkey + {PART_OFFSET} AS dst_id FROM part
          WHERE p_size < 20),
rev AS (SELECT e.dst_id AS src_id, e.src_id AS dst_id
        FROM e JOIN small USING (dst_id)),
g AS MATERIALIZED (SELECT src_id, dst_id FROM e
        UNION ALL SELECT src_id, dst_id FROM rev),
recip AS (SELECT count(*) AS n FROM g
          WHERE EXISTS (SELECT 1 FROM g r
                        WHERE r.src_id = g.dst_id AND r.dst_id = g.src_id))
SELECT CAST((SELECT count(*) FROM g) AS BIGINT) AS n_edges,
       CAST((SELECT n FROM recip) AS BIGINT) AS n_reciprocal,
       round(CAST((SELECT n FROM recip) AS DOUBLE)
             / (SELECT count(*) FROM g), 9) AS reciprocity
"""


def q_graph_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy graph coloring (operators/coloring.py — Jones-Plassmann
    priority rounds ≡ the sequential greedy in salted-hash order) on
    the order-chain forest (custkey ≡ 1 mod 20, chains capped at 8).
    The oracle replays the SEQUENTIAL greedy per-vertex in a recursive
    CTE — valid because the parallel fixpoint provably computes the
    same coloring (module docstring); general-graph equivalence is
    pytest territory (`test_coloring.py` random graphs)."""
    from .operators.coloring import greedy_coloring

    o = _read(spark, sf_dir, "orders").filter(
        F.pmod(F.col("o_custkey"), F.lit(20)) == 1
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    r = (
        o.select(
            "o_custkey", "o_orderkey", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 8)
        .select(
            "o_custkey", "o_orderkey", "rn",
            F.lead("o_orderkey").over(
                Window.partitionBy("o_custkey").orderBy("rn")
            ).alias("next_key"),
        )
    )
    first = r.filter(F.col("rn") == 1).select(
        F.col("o_custkey").alias("src_id"),
        (F.col("o_orderkey") + ORDER_OFFSET).alias("dst_id"),
    )
    nxt = r.filter(F.col("next_key").isNotNull()).select(
        (F.col("o_orderkey") + ORDER_OFFSET).alias("src_id"),
        (F.col("next_key") + ORDER_OFFSET).alias("dst_id"),
    )
    e = first.unionByName(nxt).withColumn("weight", F.lit(1.0))
    coloring, _ = greedy_coloring(spark, e, seed=42, hash_family="md5")
    return coloring.orderBy("id")


_ORACLE_COLORING = f"""
WITH RECURSIVE r0 AS (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders WHERE o_custkey % 20 = 1),
r AS MATERIALIZED (
  SELECT o_custkey, o_orderkey, rn,
         lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY rn)
           AS next_key
  FROM r0 WHERE rn <= 8),
e0 AS MATERIALIZED (
  SELECT o_custkey AS src_id, o_orderkey + {ORDER_OFFSET} AS dst_id
  FROM r WHERE rn = 1
  UNION ALL
  SELECT o_orderkey + {ORDER_OFFSET}, next_key + {ORDER_OFFSET}
  FROM r WHERE next_key IS NOT NULL),
und AS MATERIALIZED (
  SELECT src_id AS a, dst_id AS b FROM e0 WHERE src_id != dst_id
  UNION SELECT dst_id, src_id FROM e0 WHERE src_id != dst_id),
verts AS MATERIALIZED (SELECT DISTINCT a AS id FROM und),
prio AS MATERIALIZED (
  SELECT id,
         CAST(('0x' || substr(md5('42:' || CAST(id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM verts),
ord AS MATERIALIZED (
  SELECT id, row_number() OVER (ORDER BY h, id) AS rk FROM prio),
nbrs AS MATERIALIZED (SELECT a AS id, list(b) AS ns FROM und GROUP BY 1),
steps(rk, ids, cols) AS (
  SELECT 0, CAST([] AS BIGINT[]), CAST([] AS INT[])
  UNION ALL
  SELECT o.rk, list_append(s.ids, o.id),
         list_append(s.cols,
           CAST(list_min(list_filter(range(0, len(u.used) + 2),
                                     c -> NOT list_contains(u.used, c)))
                AS INT))
  FROM steps s
  JOIN ord o ON o.rk = s.rk + 1
  LEFT JOIN nbrs n ON n.id = o.id,
  LATERAL (SELECT list_transform(
             list_filter(range(1, len(s.ids) + 1),
                         i -> list_contains(coalesce(n.ns,
                                                     CAST([] AS BIGINT[])),
                                            s.ids[CAST(i AS INT)])),
             i -> s.cols[CAST(i AS INT)]) AS used) u),
final AS MATERIALIZED (SELECT ids, cols FROM steps ORDER BY rk DESC LIMIT 1)
SELECT v.id, f.cols[CAST(list_position(f.ids, v.id) AS INT)] AS color
FROM verts v CROSS JOIN final f ORDER BY v.id
"""


def q_kmv_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language KMV distinct-token estimate over the documents
    table (operators/sketches.py — k=64 minimum md5-prefix hashes;
    deterministic, so the 'approximate' estimate replays bit-exactly:
    same synopsis boundary hash, same estimate on both engines)."""
    from .operators.dedup import tokens_col
    from .operators.sketches import kmv_distinct

    docs = _read(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(tokens_col()).alias("tok"))
    return (
        kmv_distinct(toks, ["lang"], "tok", k=64, seed=9, hash_family="md5")
        .select(
            "lang", "n_hashes", "kth_hash",
            F.round("est_distinct", 6).alias("est_distinct"),
        )
        .orderBy("lang")
    )


_ORACLE_KMV = """
WITH toks AS (
  SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
  FROM documents),
hashed AS (
  SELECT DISTINCT lang,
         CAST(('0x' || substr(md5('9:' || tok), 1, 15)) AS BIGINT) AS h
  FROM toks),
ranked AS (
  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS r
  FROM hashed)
SELECT lang, CAST(count(*) AS BIGINT) AS n_hashes,
       max(CASE WHEN r = 64 THEN h END) AS kth_hash,
       round(CASE WHEN max(CASE WHEN r = 64 THEN h END) IS NOT NULL
                  THEN 63.0 / ((max(CASE WHEN r = 64 THEN h END) + 1)
                               / 1152921504606846976.0)
                  ELSE CAST(count(*) AS DOUBLE) END, 6) AS est_distinct
FROM ranked WHERE r <= 64 GROUP BY lang ORDER BY lang
"""


def q_wl_colors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Weisfeiler-Leman refinement rounds (operators/wl.py —
    commutative hash-sum multiset digests, the md5 bridge) on the gate
    co-part graph. Colors are pure hash values, so the oracle replays
    them bit-exactly; stability-stop control flow and the C6-vs-2C3
    indistinguishability classic are pytest territory
    (`test_wl.py`)."""
    from .operators.wl import wl_refinement

    e = co_part_edges(spark, sf_dir, order_mod=3)
    colors, _ = wl_refinement(spark, e, rounds=2)
    return colors.orderBy("id")


_WL_G = ("CAST(('0x' || substr(md5(CAST({x} AS VARCHAR)), 1, 15)) AS BIGINT)")


def _wl_sql(rounds: int) -> str:
    pre = f"""
WITH e0 AS MATERIALIZED ({_SQL_CO_PART_GATE}),
und AS MATERIALIZED (
  SELECT src_id AS a, dst_id AS b FROM e0 WHERE src_id != dst_id
  UNION SELECT dst_id, src_id FROM e0 WHERE src_id != dst_id),
deg AS (SELECT a AS id, count(*) AS d FROM und GROUP BY 1),
c0 AS MATERIALIZED (SELECT id, {_WL_G.format(x='d')} AS color FROM deg)"""
    body = ""
    for i in range(1, rounds + 1):
        p = i - 1
        body += f""",
s{i} AS (SELECT u.a AS id,
               CAST(sum(CAST({_WL_G.format(x='c.color')} AS HUGEINT))
                    % 1152921504606846976 AS BIGINT) AS msum
        FROM und u JOIN c{p} c ON c.id = u.b GROUP BY 1),
c{i} AS MATERIALIZED (
  SELECT c.id,
         {_WL_G.format(x="c.color || ':' || coalesce(s.msum, 0)")} AS color
  FROM c{p} c LEFT JOIN s{i} s ON c.id = s.id)"""
    return pre + body + f"\nSELECT id, color FROM c{rounds} ORDER BY id"


def q_pagerank_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two exact PageRank supersteps from a NON-uniform warm start
    (init_ranks — the incremental-recompute path: resume from an older
    snapshot's converged ranks after a crawl delta). Init = weight
    1 + (id mod 3) per vertex, L1-renormalized in-plan; the oracle
    replays the same init + unroll. Convergence-equivalence (warm
    fixpoint == cold fixpoint) is pytest territory."""
    e = supplier_part_edges(spark, sf_dir)
    verts = (
        e.select(F.col("src_id").alias("id"))
        .unionByName(e.select(F.col("dst_id").alias("id")))
        .distinct()
    )
    init = verts.select(
        "id", (F.lit(1.0) + F.pmod(F.col("id"), F.lit(3))).alias("rank")
    )
    ranks, _ = pagerank(
        spark, e, damping=0.85, tol=0.0, max_iter=2, init_ranks=init
    )
    return ranks.select("id", F.round("rank", 12).alias("rank")).orderBy("id")


def _pagerank_warm_sql(steps: int) -> str:
    pre = f"""
WITH edges AS MATERIALIZED ({_SQL_EDGES}),
verts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src_id AS id FROM edges
                                   UNION ALL SELECT dst_id FROM edges)),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM verts),
outw AS (SELECT src_id, sum(weight) AS wo FROM edges GROUP BY 1),
norm AS MATERIALIZED (SELECT src_id, dst_id, weight / wo AS frac
         FROM edges JOIN outw USING (src_id)),
w0 AS (SELECT id, 1.0 + (id % 3) AS w FROM verts),
tot AS (SELECT sum(w) AS t FROM w0),
r0 AS (SELECT id, w / (SELECT t FROM tot) AS rank FROM w0)"""
    body = ""
    for i in range(1, steps + 1):
        p = i - 1
        body += f""",
d{i} AS (SELECT coalesce(sum(rank), 0) AS dm FROM r{p}
        WHERE id NOT IN (SELECT src_id FROM outw)),
s{i} AS (SELECT dst_id, sum(r{p}.rank * frac) AS s
        FROM norm JOIN r{p} ON r{p}.id = norm.src_id GROUP BY 1),
r{i} AS (SELECT v.id,
               0.15 / (SELECT c FROM nn)
               + 0.85 * ((SELECT dm FROM d{i}) / (SELECT c FROM nn)
                         + coalesce(s.s, 0)) AS rank
        FROM verts v LEFT JOIN s{i} s ON v.id = s.dst_id)"""
    return (
        pre + body
        + f"\nSELECT id, round(rank, 12) AS rank FROM r{steps} ORDER BY id"
    )


def q_approx_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION triangle estimate (operators/triangles.py) at p = 1/3
    on the gate co-part graph — deterministic hash-coin edge
    sparsification, so the 'approximate' count replays bit-exactly
    (one row: sampled count + 27x-scaled estimate). Unbiasedness /
    error statistics are pytest territory."""
    from .operators.triangles import approx_triangle_count

    e = co_part_edges(spark, sf_dir, order_mod=3)
    return approx_triangle_count(
        e, p_num=1, p_den=3, seed=7, hash_family="md5"
    )


_ORACLE_APPROX_TRI = f"""
WITH e0 AS MATERIALIZED ({_SQL_CO_PART_GATE}),
samp AS MATERIALIZED (
  SELECT src_id, dst_id FROM e0
  WHERE CAST(('0x' || substr(md5('7:' || CAST(src_id AS VARCHAR) || ':'
                             || CAST(dst_id AS VARCHAR)), 1, 15)) AS BIGINT)
        % 3 < 1),
tri AS (SELECT CAST(count(*) AS BIGINT) AS n
        FROM samp a JOIN samp b ON a.dst_id = b.src_id
        JOIN samp c ON c.src_id = a.src_id AND c.dst_id = b.dst_id)
SELECT n AS n_sampled_triangles, n * 27.0 AS est_triangles FROM tri
"""


def q_neighborhood_balls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two HyperBall-KMV rounds (operators/sketches.py — per-vertex
    min-k synopsis of the distance-<=2 ball, two-phase salted merges)
    on the gate co-part graph, k=16. Every synopsis value is a pure
    hash function of (graph, seed) — the oracle replays the full
    2-round list fixpoint bit-exactly, including the estimates."""
    from .operators.sketches import neighborhood_sketches

    e = co_part_edges(spark, sf_dir, order_mod=3)
    return (
        neighborhood_sketches(spark, e, t=2, k=16, seed=5, hash_family="md5")
        .select(
            "id", "n_sk", "kth_hash",
            F.round("est_ball", 6).alias("est_ball"),
        )
        .orderBy("id")
    )


_NB_G = ("CAST(('0x' || substr(md5('5:' || CAST({x} AS VARCHAR)), 1, 15)) "
         "AS BIGINT)")


def _neighborhood_sql(rounds: int, k: int) -> str:
    pre = f"""
WITH e0 AS MATERIALIZED ({_SQL_CO_PART_GATE}),
und AS MATERIALIZED (
  SELECT src_id AS a, dst_id AS b FROM e0 WHERE src_id != dst_id
  UNION SELECT dst_id, src_id FROM e0 WHERE src_id != dst_id),
verts AS MATERIALIZED (SELECT DISTINCT a AS id FROM und),
c0 AS MATERIALIZED (SELECT id, [{_NB_G.format(x='id')}] AS sk FROM verts)"""
    body = ""
    for i in range(1, rounds + 1):
        p = i - 1
        body += f""",
m{i} AS (SELECT id, sk FROM c{p}
        UNION ALL
        SELECT u.a AS id, c.sk FROM und u JOIN c{p} c ON c.id = u.b),
c{i} AS MATERIALIZED (
  SELECT id, list_sort(list_distinct(flatten(list(sk))))[1:{k}] AS sk
  FROM m{i} GROUP BY id)"""
    return pre + body + f"""
SELECT id, CAST(len(sk) AS BIGINT) AS n_sk,
       CASE WHEN len(sk) >= {k} THEN sk[{k}] END AS kth_hash,
       round(CASE WHEN len(sk) >= {k}
                  THEN {k - 1}.0 / ((sk[{k}] + 1) / 1152921504606846976.0)
                  ELSE CAST(len(sk) AS DOUBLE) END, 6) AS est_ball
FROM c{rounds} ORDER BY id"""


def q_louvain_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous Louvain local-move rounds
    (operators/community.py — integer 2m²·ΔQ gain comparisons, so the
    assignment replays bit-exactly): round 1 from singletons, round 2
    restricted to even-id movers (the movers= path — a coloring class
    stands in for it in the convergent composition; conflict-free
    monotonicity is pytest territory)."""
    from .operators.community import louvain_move_round, louvain_undirected

    e = co_part_edges(spark, sf_dir, order_mod=3)
    # symmetrize + validate ONCE for both rounds (r6: the prebuilt-und
    # path — each round used to rebuild and re-probe the edge table)
    und = louvain_undirected(e)
    l1 = louvain_move_round(e, und=und)
    mv = l1.select("id").filter(F.pmod(F.col("id"), F.lit(2)) == 0)
    l2 = louvain_move_round(e, labels=l1, movers=mv, und=und)
    return l2.orderBy("id")


_ORACLE_LOUVAIN = f"""
WITH e0 AS MATERIALIZED ({_SQL_CO_PART_GATE}),
und AS MATERIALIZED (
  SELECT src_id, dst_id, CAST(1 AS BIGINT) AS w FROM e0
   WHERE src_id != dst_id
  UNION ALL
  SELECT dst_id, src_id, CAST(1 AS BIGINT) AS w FROM e0
   WHERE src_id != dst_id),
deg AS MATERIALIZED (
  SELECT src_id AS id, CAST(sum(w) AS BIGINT) AS k FROM und GROUP BY 1),
mm AS MATERIALIZED (SELECT CAST(sum(w) / 2 AS BIGINT) AS m FROM und),
cand1 AS MATERIALIZED (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY g DESC, c ASC) AS rk
  FROM (
    SELECT u.src_id AS id, u.dst_id AS c,
           2 * (SELECT m FROM mm) * u.w - ds.k * dd.k AS g
    FROM und u JOIN deg ds ON ds.id = u.src_id
    JOIN deg dd ON dd.id = u.dst_id)),
r1 AS MATERIALIZED (
  SELECT id, CASE WHEN g > 0 THEN c ELSE id END AS community
  FROM cand1 WHERE rk = 1),
tot1 AS MATERIALIZED (
  SELECT r.community, CAST(sum(d.k) AS BIGINT) AS tot
  FROM r1 r JOIN deg d USING (id) GROUP BY 1),
vc1 AS MATERIALIZED (
  SELECT u.src_id AS id, r.community AS ncomm,
         CAST(sum(u.w) AS BIGINT) AS wvc
  FROM und u JOIN r1 r ON r.id = u.dst_id GROUP BY 1, 2),
stay AS MATERIALIZED (
  SELECT r.id, r.community,
         2 * (SELECT m FROM mm) * coalesce(v.wvc, 0)
         - d.k * (t.tot - d.k) AS s
  FROM r1 r JOIN deg d USING (id)
  JOIN tot1 t ON t.community = r.community
  LEFT JOIN vc1 v ON v.id = r.id AND v.ncomm = r.community),
cand2 AS MATERIALIZED (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY g DESC, c ASC) AS rk
  FROM (
    SELECT v.id, v.ncomm AS c,
           2 * (SELECT m FROM mm) * v.wvc - d.k * t.tot AS g
    FROM vc1 v JOIN deg d ON d.id = v.id
    JOIN tot1 t ON t.community = v.ncomm
    JOIN r1 r ON r.id = v.id
    WHERE v.ncomm != r.community)),
r2 AS (
  SELECT s.id,
         CASE WHEN s.id % 2 = 0 AND c.g IS NOT NULL AND c.g > s.s
              THEN c.c ELSE s.community END AS community
  FROM stay s LEFT JOIN cand2 c ON c.id = s.id AND c.rk = 1)
SELECT id, community FROM r2 ORDER BY id
"""


def q_label_spreading(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two label-spreading supersteps (operators/spreading.py — Zhou
    et al. soft multi-class propagation over D^-1/2 W D^-1/2) on the
    supplier→part graph, seeded with each supplier's nation. Long
    format (id, label, score): part vertices accumulate per-nation
    association mass. Oracle = hand-unrolled SQL; round-9 absorbs
    sum-order ulp noise in the sqrt-normalized weights."""
    from .operators.spreading import label_spreading

    e = supplier_part_edges(spark, sf_dir)
    seeds = _read(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.col("s_nationkey").alias("label"),
    )
    scores, _ = label_spreading(spark, e, seeds, alpha=0.8, tol=0.0,
                                max_iter=2)
    return scores.select(
        "id", "label", F.round("score", 9).alias("score")
    ).orderBy("id", "label")


def _spreading_sql(steps: int, alpha: float = 0.8) -> str:
    pre = f"""
WITH edges AS MATERIALIZED ({_SQL_EDGES}),
canon AS (SELECT least(src_id, dst_id) AS a, greatest(src_id, dst_id) AS b,
                 sum(weight) AS w
          FROM edges WHERE src_id != dst_id GROUP BY 1, 2),
und AS MATERIALIZED (SELECT a AS src_id, b AS dst_id, w FROM canon
        UNION ALL SELECT b, a, w FROM canon),
deg AS MATERIALIZED (SELECT src_id AS id, sum(w) AS d FROM und GROUP BY 1),
s AS MATERIALIZED (
  SELECT u.src_id, u.dst_id, u.w / sqrt(ds.d * dd.d) AS s
  FROM und u JOIN deg ds ON ds.id = u.src_id
  JOIN deg dd ON dd.id = u.dst_id),
y AS MATERIALIZED (
  SELECT sp.s_suppkey AS id, sp.s_nationkey AS label, 1.0 AS y
  FROM supplier sp JOIN deg d ON d.id = sp.s_suppkey),
f0 AS (SELECT id, label, y AS score FROM y)"""
    body = ""
    for i in range(1, steps + 1):
        p = i - 1
        body += f""",
p{i} AS (SELECT s.dst_id AS id, f.label, sum(f.score * s.s) AS prop
        FROM s JOIN f{p} f ON f.id = s.src_id GROUP BY 1, 2),
f{i} AS MATERIALIZED (
  SELECT coalesce(p.id, y.id) AS id, coalesce(p.label, y.label) AS label,
         {alpha} * coalesce(p.prop, 0) + {1.0 - alpha} * coalesce(y.y, 0)
           AS score
  FROM p{i} p FULL OUTER JOIN y ON p.id = y.id AND p.label = y.label)"""
    return (
        pre + body
        + f"\nSELECT id, label, round(score, 9) AS score FROM f{steps}"
          " ORDER BY id, label"
    )


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    # graph
    "top_depended_parts": (q_top_depended_parts, _ORACLE_TOP_DEPENDED),
    "degree_distribution": (q_degree_distribution, _ORACLE_DEGREE_DIST),
    "pagerank_3steps": (q_pagerank_3steps, _pagerank_sql(3)),
    "connected_components": (q_connected_components, _cc_sql(4)),
    "lpa_1step": (q_lpa_1step, _lpa_sql(1)),
    "lpa_2steps": (q_lpa_2steps, _lpa_sql(2)),
    "lpa_anchored": (q_lpa_anchored, _ORACLE_LPA_ANCHORED),
    "triangle_count": (q_triangle_count, _ORACLE_TRIANGLES),
    "graph_contraction": (q_graph_contraction, _ORACLE_CONTRACTION),
    "frontier_indegree0": (q_frontier_indegree0, _ORACLE_FRONTIER),
    "longest_path": (q_longest_path, _longest_path_sql(32)),
    "chain_decomposition": (q_chain_decomposition, _ORACLE_CHAINS),
    "hits_3steps": (q_hits_3steps, _hits_sql(3)),
    "hits_converged": (q_hits_converged, _hits_dynamic_sql(8)),
    "kcore_coreness": (q_kcore_coreness, _kcore_sql(24)),
    "ktruss_edges": (q_ktruss, _ktruss_sql(20)),
    "mis_greedy": (q_mis_greedy, _ORACLE_MIS),
    "assortativity": (q_assortativity, _ORACLE_ASSORTATIVITY),
    "modularity_parts": (q_modularity, _ORACLE_MODULARITY),
    "betweenness_chains": (q_betweenness_chains, _ORACLE_BETWEENNESS),
    "harmonic_chains": (q_harmonic_chains, _ORACLE_HARMONIC),
    "eccentricity_chains": (q_eccentricity_chains, _ORACLE_ECCENTRICITY),
    "clustering_coeff": (q_clustering_coeff, _ORACLE_CLUSTERING),
    "ppr_seeds": (q_ppr_seeds,
                  _ppr_dynamic_sql(_SQL_EDGES, max_steps=24, n_seeds=3,
                                   damping=0.5)),
    "sssp_parts": (q_sssp_parts, _sssp_sql(10, n_seeds=3)),
    "adamic_adar_top": (q_adamic_adar_top, _ORACLE_ADAMIC_ADAR),
    "scc_order_cycles": (q_scc_order_cycles, _ORACLE_SCC),
    "condensation": (q_condensation, _ORACLE_CONDENSATION),
    "random_walks": (q_random_walks, _walks_sql(4, num_walks=2, seed=7)),
    "biased_walks": (
        q_biased_walks,
        _biased_walks_sql(4, num_walks=2, seed=7, wr=1, wc=4, wf=2),
    ),
    "scc_dag_pipeline": (q_scc_dag_pipeline, _ORACLE_SCC_DAG_PIPELINE),
    "katz_3steps": (q_katz_3steps, _katz_sql(3)),
    "salsa_3steps": (q_salsa_3steps, _salsa_sql(3)),
    "closeness_chains": (q_closeness_chains, _ORACLE_CLOSENESS),
    "link_scores_top": (q_link_scores_top, _ORACLE_LINK_SCORES),
    "winnow_fingerprints": (q_winnow_fingerprints, _ORACLE_WINNOW),
    "transitivity": (q_transitivity, _ORACLE_TRANSITIVITY),
    "reciprocity": (q_reciprocity, _ORACLE_RECIPROCITY),
    "graph_coloring": (q_graph_coloring, _ORACLE_COLORING),
    "kmv_distinct_tokens": (q_kmv_distinct_tokens, _ORACLE_KMV),
    "wl_colors": (q_wl_colors, _wl_sql(2)),
    "pagerank_warm": (q_pagerank_warm, _pagerank_warm_sql(2)),
    "approx_triangles": (q_approx_triangles, _ORACLE_APPROX_TRI),
    "neighborhood_balls": (q_neighborhood_balls, _neighborhood_sql(2, 16)),
    "louvain_rounds": (q_louvain_rounds, _ORACLE_LOUVAIN),
    "label_spreading_2steps": (q_label_spreading, _spreading_sql(2)),
    # relational
    "pricing_summary": (q_pricing_summary, _ORACLE_PRICING),
    "top_customers": (q_top_customers, _ORACLE_TOP_CUSTOMERS),
    "monthly_running_revenue": (q_monthly_running_revenue, _ORACLE_MONTHLY),
    "customers_without_orders": (q_customers_without_orders, _ORACLE_NO_ORDERS),
    "suppliers_of_large_parts": (q_suppliers_of_large_parts, _ORACLE_SEMI),
    "distinct_parts_per_supplier": (q_distinct_parts_per_supplier, _ORACLE_DISTINCT),
    "rollup_revenue": (q_rollup_revenue, _ORACLE_ROLLUP),
    "setops_rich_customers": (q_setops_rich_customers, _ORACLE_SETOPS),
    # events
    "events_hourly": (q_events_hourly, _ORACLE_EVENTS_HOURLY),
    "events_sessions": (q_events_sessions, _ORACLE_SESSIONS),
    # documents / embeddings
    "doc_token_stats": (q_doc_token_stats, _ORACLE_TOKEN_STATS),
    "doc_punct_ratio": (q_doc_punct_ratio, _ORACLE_PUNCT),
    "doc_quality": (q_doc_quality, _ORACLE_DOC_QUALITY),
    "bm25_topk": (q_bm25_topk, _ORACLE_BM25),
    "stratified_sample": (q_stratified_sample, _ORACLE_STRATIFIED),
    "exact_dedup_pairs": (q_exact_dedup_pairs, _ORACLE_EXACT_DEDUP),
    "token_jaccard_pairs": (q_token_jaccard_pairs, _ORACLE_TOKEN_JACCARD),
    "embedding_topk": (q_embedding_topk, _ORACLE_EMB_TOPK),
    "embedding_near_dups": (q_embedding_near_dups, _ORACLE_EMB_NEAR),
    "lang_id_counts": (q_lang_id_counts, _ORACLE_LANG_ID),
    "pagerank_converged": (q_pagerank_converged,
                           _pagerank_dynamic_sql(_SQL_EDGES, max_steps=8)),
    "minhash_near_dups": (q_minhash_near_dups, _ORACLE_MINHASH),
    "dedup_clusters": (q_dedup_clusters, _ORACLE_DEDUP_CLUSTERS),
    "corpus_curation": (q_corpus_curation, _ORACLE_CURATION),
    "simhash_near_dups": (q_simhash_near_dups, _ORACLE_SIMHASH),
    "embedding_ivf_topk": (q_embedding_ivf_topk, _ORACLE_EMB_IVF),
    "corpus_edges": (q_corpus_edges, _ORACLE_CORPUS_EDGES),
    "corpus_pipeline": (q_corpus_pipeline, _ORACLE_CORPUS_PIPELINE),
    # the last former rows-only entry: the full hill-climb (priority-
    # coloring independent set + sequential acceptance fold) replayed
    # bit-exactly in DuckDB via a recursive-CTE unroll
    "balanced_partition": (q_balanced_partition,
                           _balanced_partition_sql(rounds=5)),
    # multimodal kernel plumbing (fake-path byte-histogram features are
    # exact hex arithmetic; real codecs are pytest bit-exact territory)
    "media_features": (q_media_features, _ORACLE_MEDIA_FEATURES),
    "media_frame_sample": (q_media_frame_sample, _ORACLE_FRAME_SAMPLE),
}

# Gate-budget resilience: the driver iterates queries() in dict order
# and its round-4 correctness artifact came back EMPTY — consistent
# with a whole-suite budget expiring mid-run. Order the registry
# cheapest-first (sub-second relational/doc/media scans, then one-shot
# graph queries, then the iterative heavies), so a budget that expires
# partway records ~40 populated rows instead of zero, and the heavy
# loops run on an already-warmed JVM (measured: the FIRST iterative
# query in a fresh session absorbs 20-95s of warm-up regardless of its
# own cost). Unlisted keys (future additions) sort last = heaviest.
_GATE_ORDER = [
    # ~0.2-1s each: relational / events / documents / media
    "pricing_summary", "top_customers", "monthly_running_revenue",
    "customers_without_orders", "suppliers_of_large_parts",
    "distinct_parts_per_supplier", "rollup_revenue",
    "setops_rich_customers", "events_hourly", "events_sessions",
    "doc_token_stats", "doc_punct_ratio", "doc_quality",
    "bm25_topk", "stratified_sample",
    "exact_dedup_pairs", "lang_id_counts", "media_features",
    "media_frame_sample", "embedding_topk", "winnow_fingerprints",
    "reciprocity", "kmv_distinct_tokens",
    # ~1-10s: one-shot graph / dedup / ANN
    "token_jaccard_pairs", "simhash_near_dups", "minhash_near_dups",
    "dedup_clusters", "corpus_curation", "embedding_near_dups",
    "embedding_ivf_topk",
    "top_depended_parts",
    "degree_distribution", "frontier_indegree0", "graph_contraction",
    "triangle_count", "clustering_coeff", "adamic_adar_top",
    "link_scores_top", "transitivity", "approx_triangles",
    "assortativity", "modularity_parts",
    "corpus_edges", "chain_decomposition",
    # ~5-30s: shallow iterative
    "lpa_2steps", "lpa_1step", "lpa_anchored", "pagerank_converged",
    "mis_greedy", "betweenness_chains", "harmonic_chains",
    "eccentricity_chains", "closeness_chains",
    "katz_3steps", "salsa_3steps", "graph_coloring", "wl_colors",
    "pagerank_warm", "neighborhood_balls", "louvain_rounds",
    "label_spreading_2steps",
    "random_walks", "biased_walks",
    "sssp_parts", "balanced_partition",
    # heavies: deep fixpoints / peels
    "pagerank_3steps", "hits_3steps", "hits_converged",
    "connected_components", "kcore_coreness", "ktruss_edges", "ppr_seeds",
    "longest_path", "corpus_pipeline", "condensation",
    "scc_order_cycles", "scc_dag_pipeline",
]
REGISTRY = {
    **{k: REGISTRY[k] for k in _GATE_ORDER},
    **{k: v for k, v in REGISTRY.items() if k not in _GATE_ORDER},
}
