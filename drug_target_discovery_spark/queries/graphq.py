"""Graph tier queries (SURVEY §2.7 G1-G5 + A7/J4/P7): co-"expression"
network construction from pairwise correlation, then centralities and the
composite target score — the reference's analytic spine
(pipeline2.py:663-792) on the driver's tables.

Mapping: gene -> l_partkey, sample -> customer nation, expression value ->
avg(l_quantity) per (part, nation) cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drug_target_discovery_spark.caching import fixture_checkpoint, memo, scoped_cache
from drug_target_discovery_spark.functions.rounding import rnd, rnd_sql
from drug_target_discovery_spark.graph.centrality import (
    betweenness_centrality,
    degree_centrality,
    eigenvector_centrality,
    target_scores,
)
from drug_target_discovery_spark.graph.algorithms import triangle_counts
from drug_target_discovery_spark.operators.correlation import corr_edges
from drug_target_discovery_spark.queries.registry import register
from drug_target_discovery_spark.session import local_frame
from drug_target_discovery_spark.sources.tables import load_table

try:  # fixture VALUES oracles (networkx on the sf0.01 graph) — generated
    from drug_target_discovery_spark.queries._graph_oracles import GRAPH_ORACLES
except ImportError:  # pragma: no cover - regenerate via tools/gen_graph_oracles.py
    GRAPH_ORACLES = {}

TOP_K = 50
MIN_CELLS = 10
MIN_PERIODS = 5
CORR_THRESHOLD = 0.4

# Shared oracle CTEs: the (gene, sample, value) cell matrix and its top-K
# highest-variance genes (SURVEY A6/K1 feeding A7).
_CELL_SQL = f"""
    cell AS (
      SELECT l.l_partkey AS g, c.c_nationkey AS s, avg(l.l_quantity) AS v
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      GROUP BY 1, 2
    ),
    topg AS (
      SELECT g FROM cell GROUP BY g HAVING count(*) >= {MIN_CELLS}
      ORDER BY var_samp(v) DESC, g ASC LIMIT {TOP_K}
    ),
    edges AS (
      SELECT a.g AS g1, b.g AS g2, corr(a.v, b.v) AS r, count(*) AS n_samples
      FROM cell a
      JOIN cell b ON a.s = b.s AND a.g < b.g
      JOIN topg t1 ON a.g = t1.g
      JOIN topg t2 ON b.g = t2.g
      GROUP BY 1, 2
      HAVING count(*) >= {MIN_PERIODS}
         AND corr(a.v, b.v) IS NOT NULL
         AND abs(corr(a.v, b.v)) > {CORR_THRESHOLD}
    )
"""


def _cell_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long (gene, sample, value) table: avg quantity per (part, nation).
    lineitem⋈orders is the only fact-fact (sort-merge) join; customer is
    corpus-proportional, so its join strategy is left to AQE (broadcast at
    bench scale, keyed shuffle beyond the threshold). One aggregation
    shuffle on the composite key."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .groupBy(F.col("l_partkey").alias("g"), F.col("c_nationkey").alias("s"))
        .agg(F.avg("l_quantity").alias("v"))
    )


def _top_genes(cell: DataFrame) -> DataFrame:
    """Top-K genes by variance (A6/K1): var_samp + TakeOrderedAndProject."""
    return (
        cell.groupBy("g")
        .agg(F.var_samp("v").alias("_var"), F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= MIN_CELLS)
        .orderBy(F.desc("_var"), F.asc("g"))
        .limit(TOP_K)
        .select("g")
    )


# One correlation graph per (application, sf_dir), sweep-scoped through
# caching.memo: five downstream queries (edges, degree, eigenvector,
# betweenness, composite scores) share the same materialized nodes/edges
# instead of re-running the fact join + pairwise corr — the
# Spark-idiomatic "materialized shared intermediate".
def cell_matrix_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-scoped memo of the (g, s, v) cell matrix — the single shared
    build of the only fact-fact join in the graph/mllib tiers (VERDICT r3
    #3): it is a diamond INSIDE _corr_graph (top-K variance + pairwise
    input) AND a cross-query intermediate (mllib_corr_matrix_top pivots
    the same table). Post-aggregation it is small (|parts|×|nations|
    rows), so holding it for the sweep costs little storage. Checkpoint,
    not cache (optimization r14): the 3-table join lineage otherwise rides
    inside the edges build AND the mllib pivot consumer's plan."""
    return memo(
        spark,
        "graph.cell_matrix",
        lambda: fixture_checkpoint(_cell_matrix(spark, sf_dir)),
        sf_dir,
    )


def _corr_graph_memo(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int]:
    """(nodes, edges, n_nodes) of the thresholded correlation graph (G1).
    The top-K gene ids are COLLECTED once (K <= {TOP_K} bigints — the
    reference's cardinality-reduction-first structure, SURVEY §4): the
    node table becomes a local relation, its size is known without a job,
    and the pairwise-corr input is an ``isin`` filter over the K literals
    instead of a broadcast semi-join (optimization r14, guide §1.2 — the
    semi-join + node-cache materialization cost 3 extra jobs and a
    BroadcastExchange per sweep; filtering on the identical id set feeds
    the identical rows into the identical corr() aggregate, so edge values
    cannot move). Memoized per session+sf_dir."""

    def build() -> tuple[DataFrame, DataFrame, int]:
        # Without the shared memo the lineitem⋈orders fact-fact join would
        # run three times inside this builder alone (top-K variance,
        # pairwise-corr input, node set) plus once more in
        # mllib_corr_matrix_top.
        cell = cell_matrix_cached(spark, sf_dir)
        # ONE job: ranks the genes and materializes the cell memo en route
        top_vals = [r["g"] for r in _top_genes(cell).collect()]
        g_type = dict(cell.dtypes)["g"]
        nodes = local_frame(spark, [(v,) for v in top_vals], f"node {g_type}")
        sub = cell.filter(F.col("g").isin(top_vals)) if top_vals else cell.filter(F.lit(False))
        edges = corr_edges(sub, "g", "s", "v", threshold=CORR_THRESHOLD, min_periods=MIN_PERIODS)
        # checkpoint, not cache (optimization r14): ~12 graph consumers
        # embed this memo's lineage (cell matrix join + pairwise corr) in
        # their own plans otherwise; as a LogicalRDD leaf their plan-build
        # cost stops scaling with the build chain
        edges = fixture_checkpoint(
            edges.select(
                F.col("g1").alias("src"), F.col("g2").alias("dst"), "r", "weight", "n_samples"
            )
        )
        return nodes, edges, len(top_vals)

    return memo(spark, "graph.corr_graph", build, sf_dir)


def _corr_graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(nodes, edges) of the memoized correlation graph."""
    nodes, edges, _ = _corr_graph_memo(spark, sf_dir)
    return nodes, edges


def _corr_graph_counts(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """(n_nodes, n_edges) of the memoized corr graph, one memo per sweep
    (optimization r14, VERDICT r13 #3): ~8 downstream queries gate
    driver-twin strategy selection or read the degree normalizer from
    these instead of running their own count() jobs. n_nodes is known at
    build time; n_edges counts the eagerly-checkpointed edge table once."""

    def build() -> tuple[int, int]:
        _, edges, n_nodes = _corr_graph_memo(spark, sf_dir)
        return n_nodes, edges.count()

    return memo(spark, "graph.corr_graph_counts", build, sf_dir)


# --------------------------------------------------------------------------
# A7 + P7 + G1: thresholded correlation edge list
# --------------------------------------------------------------------------
@register(
    "corr_edges_top_parts",
    tags=("graph", "corr"),
    oracle=f"""
    WITH {_CELL_SQL}
    SELECT g1, g2, {rnd_sql("r", 6)} AS r, n_samples
    FROM edges
    """,
)
def corr_edges_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson over common samples on the top-{TOP_K} most-variable
    genes, |r| > {CORR_THRESHOLD} edge predicate (pipeline2.py:702-716).
    Fused self-join + corr aggregate — no dense matrix ever materializes."""
    _, edges = _corr_graph(spark, sf_dir)
    return edges.select(
        F.col("src").alias("g1"), F.col("dst").alias("g2"), rnd("r", 6).alias("r"), "n_samples"
    )


# --------------------------------------------------------------------------
# G2: degree centrality (pure aggregate)
# --------------------------------------------------------------------------
@register(
    "degree_centrality_corr_graph",
    tags=("graph",),
    oracle=f"""
    WITH {_CELL_SQL},
    n AS (SELECT count(*) AS n_nodes FROM topg),
    sym AS (
      SELECT g1 AS node FROM edges UNION ALL SELECT g2 FROM edges
    ),
    deg AS (SELECT node, count(*) AS d FROM sym GROUP BY node)
    SELECT t.g AS node,
           {rnd_sql("coalesce(d.d, 0) * 1.0 / (n.n_nodes - 1)", 6)} AS degree_centrality
    FROM topg t CROSS JOIN n LEFT JOIN deg d ON t.g = d.node
    """,
)
def degree_centrality_corr_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nx.degree_centrality parity (G2, pipeline2.py:747): degree/(n-1) with
    isolated nodes at 0. Single aggregate over the symmetrized edge list."""
    nodes, edges = _corr_graph(spark, sf_dir)
    n_nodes, _ = _corr_graph_counts(spark, sf_dir)
    dc = degree_centrality(edges.select("src", "dst"), nodes, n_nodes=n_nodes)
    return dc.select("node", rnd("degree_centrality", 6).alias("degree_centrality"))


# --------------------------------------------------------------------------
# G4: eigenvector centrality (iterative join-aggregate)
# --------------------------------------------------------------------------
@register(
    "eigenvector_centrality_corr_graph",
    tags=("graph", "iterative"),
    oracle=GRAPH_ORACLES.get("eigenvector_centrality_corr_graph"),
)
def eigenvector_centrality_corr_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power iteration x' = (I+A)x with L2 norm, networkx-parity convergence
    (G4, pipeline2.py:749). Iterative DataFrame program — the oracle is a
    networkx-computed fixture (tools/gen_graph_oracles.py) on the sf0.01
    graph; parity also unit-tested in tests/test_graph.py."""
    nodes, edges = _corr_graph(spark, sf_dir)
    n_nodes, n_edges = _corr_graph_counts(spark, sf_dir)
    ec = eigenvector_centrality(
        edges.select("src", "dst"), nodes, max_iter=1000, tol=1e-6,
        n_edges=n_edges, n_nodes=n_nodes,
    )
    return ec.select("node", rnd("eigenvector_centrality", 6).alias("eigenvector_centrality"))


# --------------------------------------------------------------------------
# G3: betweenness centrality (serial exact Brandes on the driver)
# --------------------------------------------------------------------------
@register(
    "betweenness_centrality_corr_graph",
    tags=("graph", "centrality"),
    oracle=GRAPH_ORACLES.get("betweenness_centrality_corr_graph"),
)
def betweenness_centrality_corr_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Brandes betweenness, serially on the driver over the
    collected adjacency (G3, pipeline2.py:748). Oracle = networkx fixture
    values on the sf0.01 graph; parity also unit-tested in
    tests/test_graph.py."""
    nodes, edges = _corr_graph(spark, sf_dir)
    bc = betweenness_centrality(edges.select("src", "dst"), nodes, normalized=True)
    return bc.select("node", rnd("betweenness_centrality", 6).alias("betweenness_centrality"))


# --------------------------------------------------------------------------
# K-core decomposition (graph-cohesion tier)
# --------------------------------------------------------------------------
@register(
    "core_numbers_corr_graph",
    tags=("graph", "iterative"),
    oracle=GRAPH_ORACLES.get("core_numbers_corr_graph"),
)
def core_numbers_corr_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition of the correlation graph: per node the largest
    k with the node inside a subgraph of min-degree k — the cohesion
    measure community-trimming and spam-farm detection use next to the
    centralities. Rides the shared correlation-graph memo; the small
    bench graph takes the exact Batagelj-Zaversnik driver peeling, large
    graphs the distributed h-index fixpoint (Lu et al. 2016) — one O(E)
    join-aggregate per round, lineage checkpointed every iteration
    (graph/algorithms.py core_numbers). Core numbers are INTEGERS, so the
    networkx fixture oracle has no rounding-boundary hazard."""
    from drug_target_discovery_spark.graph.algorithms import core_numbers

    nodes, edges = _corr_graph(spark, sf_dir)
    n_nodes, n_edges = _corr_graph_counts(spark, sf_dir)
    return core_numbers(
        edges.select("src", "dst"), nodes, n_edges=n_edges, n_nodes=n_nodes
    ).orderBy("node")


# --------------------------------------------------------------------------
# G2+G3+G4 + T4 + T5: the reference's network target scoring, end to end
# --------------------------------------------------------------------------
@register(
    "network_target_scores",
    tags=("graph", "pipeline"),
    oracle=GRAPH_ORACLES.get("network_target_scores"),
)
def network_target_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's analyze_network stage (pipeline2.py:722-792): all
    three centralities -> min-max scale -> composite = mean
    (``graph.centrality.target_scores``), rounded to 6 decimals, ranked
    desc with deterministic tie-break. Oracle = networkx fixture values
    (centralities AND the min-max composite) on the sf0.01 graph."""
    nodes, edges = _corr_graph(spark, sf_dir)
    cols = ["degree_centrality", "betweenness_centrality", "eigenvector_centrality",
            "composite_score"]
    return (
        target_scores(edges, nodes)
        .select("node", *(rnd(c, 6).alias(c) for c in cols))
        .orderBy(F.desc("composite_score"), F.asc("node"))
    )


# --------------------------------------------------------------------------
# Triangles + local clustering coefficient (G-family [EXT])
# --------------------------------------------------------------------------
@register(
    "clustering_coefficient_corr_graph",
    tags=("graph", "triangles"),
    oracle=f"""
    WITH {_CELL_SQL},
    e AS (SELECT g1 AS a, g2 AS b FROM edges),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1 JOIN e e2 ON e1.b = e2.a
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tri_per_node AS (
      SELECT node, count(*) AS t FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY node
    ),
    sym AS (SELECT a AS node FROM e UNION ALL SELECT b FROM e),
    deg AS (SELECT node, count(*) AS d FROM sym GROUP BY node)
    SELECT t.g AS node,
           coalesce(tp.t, 0) AS n_triangles,
           {rnd_sql("CASE WHEN coalesce(d.d, 0) >= 2 THEN coalesce(tp.t, 0) * 2.0 / (d.d * (d.d - 1)) ELSE 0.0 END", 6)}
             AS clustering_coefficient
    FROM topg t
    LEFT JOIN deg d ON t.g = d.node
    LEFT JOIN tri_per_node tp ON t.g = tp.node
    """,
)
def clustering_coefficient_corr_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient
    (2T/(d(d-1))) on the correlation graph — the transitivity lens the
    centrality family lacks, and the canonical distributed-graph join
    pattern: with edges kept in canonical a<b orientation, each triangle
    a<b<c matches exactly one path e(a,b)->e(b,c) closed by e(a,c), so
    two equi-joins count every triangle once — no symmetrized blow-up, no
    per-node adjacency materialization. Cost on a thresholded corr graph
    is |E| x avg-degree join rows; at 100 TB-scale graphs the same plan
    holds with the standard degree-ordered orientation trick bounding the
    join fan-out. Rides the sweep-scoped graph memo.

    Strategy selection lives in graph.algorithms.triangle_counts
    (optimization r13): the thresholded corr graph is a few hundred edges,
    so the two-equi-join plan's ~12 AQE jobs were pure scheduler latency —
    below the gate (graph.algorithms.collected_graph) the integer counts
    come from the driver twin (exact-parity pinned), above it the join
    plan runs unchanged. The
    coefficient ratio is computed HERE, through one Spark expression
    shared by both strategies, so the float path is identical."""
    nodes, edges = _corr_graph(spark, sf_dir)
    n_nodes, n_edges = _corr_graph_counts(spark, sf_dir)
    tc = triangle_counts(
        edges.select("src", "dst"), nodes, n_edges=n_edges, n_nodes=n_nodes
    )
    return tc.select(
        "node",
        "n_triangles",
        rnd(
            F.when(
                F.col("degree") >= 2,
                F.col("n_triangles") * 2.0 / (F.col("degree") * (F.col("degree") - 1)),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("clustering_coefficient"),
    )


# --------------------------------------------------------------------------
# A7 [EXT]: Spearman rank correlation edges (rank -> fused Pearson)
# --------------------------------------------------------------------------
@register(
    "spearman_edges_top_parts",
    tags=("graph", "corr", "ranktest"),
    oracle=f"""
    WITH {_CELL_SQL},
    sub AS (
      SELECT c.g, c.s, c.v FROM cell c JOIN topg t ON c.g = t.g
    ),
    ranked AS (
      SELECT g, s,
             avg(rn) OVER (PARTITION BY g, v) AS rk
      FROM (
        SELECT g, s, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn
        FROM sub
      )
    ),
    sedges AS (
      SELECT a.g AS g1, b.g AS g2, corr(a.rk, b.rk) AS rho, count(*) AS n_samples
      FROM ranked a JOIN ranked b ON a.s = b.s AND a.g < b.g
      GROUP BY 1, 2
      HAVING count(*) >= {MIN_PERIODS}
         AND corr(a.rk, b.rk) IS NOT NULL
         AND abs(corr(a.rk, b.rk)) > {CORR_THRESHOLD}
    )
    SELECT g1, g2, {rnd_sql("rho", 6)} AS rho, n_samples
    FROM sedges
    """,
)
def spearman_edges_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank-correlation edges on the same top-variance gene set —
    the monotone-association twin of the Pearson graph (robust to
    outliers/nonlinearity, the standard co-expression alternative).
    Implemented as midrank-within-gene (exact half-integer ranks, same
    windowed formulation as mann_whitney_u_by_part) followed by the SAME
    fused self-join + corr aggregate as the Pearson tier — Spearman IS
    Pearson on midranks, so the whole scale design (cell-memo reuse,
    broadcast top-K semi-join, no dense matrix) carries over unchanged.
    corr() of identical midrank inputs agrees across engines at 6dp."""
    from pyspark.sql import Window as W

    cell = cell_matrix_cached(spark, sf_dir)
    top = _top_genes(cell)
    sub = cell.join(F.broadcast(top), "g", "left_semi")
    ranked = (
        sub.withColumn("rn", F.row_number().over(W.partitionBy("g").orderBy("v")))
        .withColumn("rk", F.avg("rn").over(W.partitionBy("g", "v")))
        .select("g", "s", F.col("rk").alias("v"))
    )
    edges = corr_edges(
        ranked, "g", "s", "v", threshold=CORR_THRESHOLD, min_periods=MIN_PERIODS
    )
    return edges.select("g1", "g2", rnd("r", 6).alias("rho"), "n_samples")


# --------------------------------------------------------------------------
# Degree assortativity (Newman 2002): do hubs link to hubs?
# --------------------------------------------------------------------------
@register(
    "degree_assortativity_corr_graph",
    tags=("graph", "stats"),
    oracle=f"""
    WITH {_CELL_SQL},
    sym AS (
      SELECT g1 AS a, g2 AS b FROM edges
      UNION ALL
      SELECT g2 AS a, g1 AS b FROM edges
    ),
    deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY a),
    pairs AS (
      SELECT da.d AS x, db.d AS y
      FROM sym JOIN deg da ON sym.a = da.node JOIN deg db ON sym.b = db.node
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pairs
    )
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0 THEN NULL
                ELSE {rnd_sql('''(n * sxy - sx * sy)
                  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                     * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))''', 6)}
           END AS assortativity
    FROM s
    """,
)
def degree_assortativity_corr_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the correlation graph (Newman 2002,
    nx.degree_pearson_correlation_coefficient semantics): the Pearson
    correlation of endpoint degrees over BOTH orientations of every edge
    — positive when hubs attach to hubs. A rider on the shared graph
    memo: symmetrize the cached edge list, one bounded degree aggregate
    (≤ TOP_K rows — broadcast is justified by the K constant, not data
    size), and a single sufficient-statistics aggregate. All sums are
    exact integers (degrees are counts), so both engines divide
    identical numerators; degenerate variance (regular graphs) yields
    NULL on both sides."""
    _, edges = _corr_graph(spark, sf_dir)
    sym = edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).unionAll(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    pairs = (
        sym.join(F.broadcast(deg.select(F.col("node").alias("a"), F.col("d").alias("x"))), "a")
        .join(F.broadcast(deg.select(F.col("node").alias("b"), F.col("d").alias("y"))), "b")
        .select("x", "y")
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.when(
            (vx <= 0) | (vy <= 0), F.lit(None).cast("double")
        ).otherwise(
            rnd(cov / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))), 6)
        ).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# Adamic-Adar link prediction (G-family [EXT])
# --------------------------------------------------------------------------
_AA_TOP_K = 100
# The Adamic-Adar driver path is admitted at or below this many edges AND
# at or below the wedge-pair bound sum_z deg(z)^2 / 2 <= the cap: ~1e7 dict
# entries is comfortably inside driver memory and sub-second-to-few-seconds
# of pure-Python enumeration; anything larger goes distributed regardless
# of edge count.
_AA_DRIVER_MAX_EDGES = 20_000
_AA_DRIVER_WEDGE_CAP = 10_000_000


def _aa_symmetric(e: DataFrame) -> DataFrame:
    """Both orientations of the canonical (a, b) edge list."""
    return e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))


def _aa_degrees(e: DataFrame) -> DataFrame:
    """(node, d) over the symmetric edge list, cached: node-count-bounded,
    and read by the gate and the scoring join."""
    return scoped_cache(
        _aa_symmetric(e).groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    )


def adamic_adar_pairs(e: DataFrame) -> DataFrame:
    """Core Adamic-Adar scorer over a canonical (a < b) DISTINCT edge
    list: returns (u, w, n_common, s_q) for every NON-adjacent pair with
    at least one common neighbor, where s_q is the micro-unit-quantized
    sum of 1/ln(deg(z)) over common neighbors z. Library parity vs
    networkx.adamic_adar_index is pinned in tests/test_graph.py (up to
    the documented per-term quantization).

    Strategy selection: at or below ``_AA_DRIVER_MAX_EDGES`` edges — AND
    below the skew-aware wedge-pair cap ``_AA_DRIVER_WEDGE_CAP`` on
    sum deg(z)^2/2, so a hub-heavy graph within the edge gate still goes
    distributed — the wedge enumeration runs driver-side over adjacency
    sets (the corr graph is top-K-bounded BY CONSTRUCTION — hundreds of
    edges — where the distributed plan's 6 exchanges are pure stage
    overhead: measured 2.1s distributed vs 0.8s driver at sf0.1; the
    query's remaining wall is the shared corr-graph memo
    materialization, paid once per sweep by whichever family member runs
    first), identical integer quantization, exact-parity-tested against
    ``_adamic_adar_distributed``."""
    # Skew-aware gate (ADVICE r6): edge count alone admits graphs whose
    # wedge-pair work is quadratic in a hub's degree — one ~20K-degree hub
    # inside a 20K-edge graph is ~2e8 Python dict entries. The driver
    # cost is sum_z C(deg z, 2) <= sum deg^2 / 2, an O(E) statistic read
    # off the degree table in the SAME single action as the edge count;
    # that action also materializes the cached degree table the
    # distributed path then reuses.
    deg = _aa_degrees(e)
    stats = deg.agg(
        F.sum("d").alias("sd"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
    ).first()
    n_edges = (stats["sd"] or 0) // 2
    wedge_pair_bound = (stats["sdd"] or 0) // 2
    if n_edges <= _AA_DRIVER_MAX_EDGES and wedge_pair_bound <= _AA_DRIVER_WEDGE_CAP:
        return _adamic_adar_driver(e)
    return _adamic_adar_distributed(e, deg)


def _adamic_adar_distributed(e: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """The distributed wedge join; ``deg`` is the gate's cached degree
    table when it ran."""
    if deg is None:
        deg = _aa_degrees(e)
    sym = _aa_symmetric(e)
    s1 = sym.select(F.col("a").alias("u"), F.col("b").alias("z"))
    s2 = sym.select(F.col("a").alias("z"), F.col("b").alias("w"))
    wedge = s1.join(s2, "z").filter(F.col("u") < F.col("w"))
    cand = wedge.join(
        e, (wedge["u"] == e["a"]) & (wedge["w"] == e["b"]), "left_anti"
    )
    return (
        cand.join(deg, cand["z"] == deg["node"])
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(
                F.floor(1000000.0 / F.log(F.col("d")) + F.lit(0.5)).cast("long")
            ).alias("s_q"),
        )
    )


def _adamic_adar_driver(e: DataFrame) -> DataFrame:
    """Driver fast path for small (cardinality-gated) graphs: adjacency
    sets + wedge enumeration in Python, with the SAME per-term integer
    quantization floor(1e6/ln(deg z) + 0.5) — IEEE-identical to the
    distributed expression, so the two strategies are exactly equal
    (pinned by tests/test_graph.py::test_driver_equals_distributed)."""
    import math
    from collections import defaultdict

    adj: dict = defaultdict(set)
    for r in e.select("a", "b").collect():
        adj[r["a"]].add(r["b"])
        adj[r["b"]].add(r["a"])
    q = {
        node: math.floor(1000000.0 / math.log(len(nbrs)) + 0.5)
        for node, nbrs in adj.items()
        if len(nbrs) >= 2
    }
    acc: dict = defaultdict(lambda: [0, 0])  # (u, w) -> [n_common, s_q]
    for z, nbrs in adj.items():
        if len(nbrs) < 2:
            continue
        ns = sorted(nbrs)
        wz = q[z]
        for i, u in enumerate(ns):
            au = adj[u]
            for w in ns[i + 1 :]:
                if w not in au:  # non-adjacent pairs only
                    cell = acc[(u, w)]
                    cell[0] += 1
                    cell[1] += wz
    node_type = dict(e.dtypes)["a"]
    return local_frame(
        e.sparkSession,
        [(u, w, c, s) for (u, w), (c, s) in acc.items()],
        f"u {node_type}, w {node_type}, n_common bigint, s_q bigint",
    )


@register(
    "adamic_adar_link_prediction",
    tags=("graph", "linkpred", "topk"),
    oracle=f"""
    WITH {_CELL_SQL},
    e AS (SELECT g1 AS a, g2 AS b FROM edges),
    sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
    deg AS (SELECT a AS node, count(*) AS d FROM sym GROUP BY a),
    wedge AS (
      SELECT s1.b AS z, s1.a AS u, s2.b AS w
      FROM sym s1 JOIN sym s2 ON s1.b = s2.a AND s1.a < s2.b
    ),
    cand AS (
      SELECT u, w, z FROM wedge
      WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = wedge.u AND e.b = wedge.w)
    ),
    scored AS (
      SELECT u AS g1, w AS g2, count(*) AS n_common,
             CAST(sum(CAST(floor(1000000.0 / ln(d) + 0.5) AS BIGINT)) AS BIGINT)
               AS s_q
      FROM cand JOIN deg ON cand.z = deg.node
      GROUP BY u, w
    )
    SELECT g1, g2, n_common,
           {rnd_sql("s_q / 1000000.0", 6)} AS adamic_adar
    FROM scored
    ORDER BY s_q DESC, g1 ASC, g2 ASC
    LIMIT {_AA_TOP_K}
    """,
)
def adamic_adar_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003) on the correlation
    graph: for every NON-adjacent node pair sharing neighbors, score
    sum_z 1/ln(deg(z)) over common neighbors z — the classic
    missing-edge ranking, top-{_AA_TOP_K}.

    Distributed shape: wedge enumeration (the triangle-count join with
    the closing edge ANTI-joined instead of matched) — symmetrized edges
    self-joined on the middle node with u < w canonicalizing each pair
    once, then a left-anti equi-join against the canonical edge list
    drops existing edges (the oracle keeps the textbook NOT EXISTS). The
    per-wedge weight 1/ln(deg z) is quantized to integer micro-units
    BEFORE the per-pair sum so the aggregation is addition-order
    independent (driver-hash stable); deg(z) >= 2 for any wedge middle,
    so ln is never zero. Join fan-out is sum deg(z)^2 — the same bound
    as triangle counting, tamed at 100 TB scale by the degree-ordered
    orientation trick. Rides the sweep-scoped graph memo; top-k is
    TakeOrderedAndProject on an exact integer key."""
    _, edges = _corr_graph(spark, sf_dir)
    e = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    scored = adamic_adar_pairs(e)
    return (
        scored.select(
            F.col("u").alias("g1"),
            F.col("w").alias("g2"),
            "n_common",
            rnd(F.col("s_q") / 1000000.0, 6).alias("adamic_adar"),
            "s_q",
        )
        .orderBy(F.desc("s_q"), F.asc("g1"), F.asc("g2"))
        .limit(_AA_TOP_K)
        .drop("s_q")
    )


# --------------------------------------------------------------------------
# Closeness centrality (G-family [EXT], completes the centrality set)
# --------------------------------------------------------------------------
@register(
    "closeness_centrality_corr_graph",
    tags=("graph", "centrality"),
    oracle=GRAPH_ORACLES.get("closeness_centrality_corr_graph"),
)
def closeness_centrality_corr_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness centrality on the correlation graph (networkx
    wf_improved semantics — per-component closeness scaled by the
    reachable fraction). Completes the centrality family next to
    degree / eigenvector / betweenness / PageRank / k-core; a rider on
    the sweep-scoped graph memo. One BFS per source, serially on the
    driver over the collected adjacency (graph/centrality.py
    closeness_centrality); fixture VALUES oracle generated against
    networkx by tools/gen_graph_oracles.py."""
    from drug_target_discovery_spark.graph.centrality import closeness_centrality

    nodes, edges = _corr_graph(spark, sf_dir)
    cc = closeness_centrality(edges.select("src", "dst"), nodes)
    return cc.select(
        "node", rnd("closeness_centrality", 6).alias("closeness_centrality")
    )


# --------------------------------------------------------------------------
# Harmonic centrality (G-family [EXT], the disconnected-safe closeness)
# --------------------------------------------------------------------------
@register(
    "harmonic_centrality_corr_graph",
    tags=("graph", "centrality"),
    oracle=GRAPH_ORACLES.get("harmonic_centrality_corr_graph"),
)
def harmonic_centrality_corr_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality on the correlation graph (networkx raw-sum
    convention: sum of 1/d over reachable peers). The centrality Boldi &
    Vigna 2014 recommend over closeness on disconnected graphs — the
    correlation graph IS multi-component, exactly the case where
    closeness needs its wf_improved correction and harmonic needs none.
    A rider on the sweep-scoped graph memo; same serial driver BFS as
    closeness, with per-distance integer level counts making every score
    order-deterministic (see graph/centrality.py harmonic_centrality);
    fixture VALUES oracle generated against networkx by
    tools/gen_graph_oracles.py."""
    from drug_target_discovery_spark.graph.centrality import harmonic_centrality

    nodes, edges = _corr_graph(spark, sf_dir)
    hc = harmonic_centrality(edges.select("src", "dst"), nodes)
    return hc.select(
        "node", rnd("harmonic_centrality", 6).alias("harmonic_centrality")
    )
