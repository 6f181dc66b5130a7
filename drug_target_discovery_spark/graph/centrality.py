"""Graph centralities over an edge-list DataFrame (SURVEY §2.7 G2-G4).

The reference builds a networkx.Graph of <=500 genes (pipeline2.py:709-717)
and calls nx.degree_centrality / betweenness_centrality /
eigenvector_centrality (pipeline2.py:747-749). Here the graph is the
idiomatic Spark representation — an undirected edge list ``(src, dst)`` with
``src < dst`` plus a node list — and each centrality is a DataFrame program:

- degree: one aggregate over the symmetrized edge list (any scale).
- eigenvector: power iteration x' = (I + A)·x as iterative join-aggregate,
  L2-normalized, matching networkx's (I+A) iteration/convergence exactly
  (unweighted adjacency — the reference passes no weight kwarg).
- betweenness, closeness, harmonic: one BFS per source, run serially on
  the driver over one collect of the adjacency, which the reference's
  top-K construction bounds at K<=500 nodes.

All unweighted, matching nx defaults (hop-count shortest paths).
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drug_target_discovery_spark.caching import generations
from drug_target_discovery_spark.graph.algorithms import collected_graph
from drug_target_discovery_spark.session import local_frame


def _symmetrize(edges: DataFrame) -> DataFrame:
    """(src,dst) once per undirected edge -> both directions."""
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def degree_centrality(
    edges: DataFrame, nodes: DataFrame, n_nodes: int | None = None
) -> DataFrame:
    """nx.degree_centrality: degree / (n-1); isolated nodes get 0.0
    (pipeline2.py:747). One aggregate + one broadcastable outer join.
    ``n_nodes``: caller-known node count — the n-1 normalizer needs it
    eagerly, so passing it skips a count() job (optimization r14)."""
    n = n_nodes if n_nodes is not None else nodes.count()
    deg = _symmetrize(edges).groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("_deg")
    )
    return (
        nodes.join(deg, nodes["node"] == deg["node"], "left")
        .select(nodes["node"], F.coalesce("_deg", F.lit(0)).alias("_deg"))
        .withColumn(
            "degree_centrality",
            F.col("_deg").cast("double") / float(max(n - 1, 1)),
        )
        .drop("_deg")
    )


def eigenvector_centrality(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 1000,
    tol: float = 1.0e-6,
    n_edges: int | None = None,
    n_nodes: int | None = None,
) -> DataFrame:
    """nx.eigenvector_centrality parity (pipeline2.py:749): power iteration
    on (I + A) with L2 normalization; converged when sum|x - x_last| < n*tol.

    Two physical strategies, same semantics:
    - **small graph** (``algorithms.collected_graph`` — always true for
      the reference's top-K construction): collect the edge list once and
      run the iteration in numpy on the driver. A 10^6-node vector is
      ~8 MB; per-iteration Spark-job latency would dominate by orders of
      magnitude.
    - **huge graph**: iterative join-aggregate, each generation a lineage
      cut (caching.generations, SURVEY §4). One shuffle per iteration.

    ``n_edges`` / ``n_nodes``: caller-known counts for the gate.
    """
    n = n_nodes if n_nodes is not None else nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("eigenvector_centrality"))
    g = collected_graph(edges, nodes, n_edges, n)
    if g is not None:
        return _eigenvector_driver(edges.sparkSession, *g, max_iter, tol)
    return _eigenvector_distributed(edges, nodes, n, max_iter, tol)


def _power_iteration(pairs: list, n: int, max_iter: int, tol: float):
    """numpy power iteration mirroring networkx exactly over n > 0 nodes
    and undirected index ``pairs``: x' = x + A·x, L2 normalize, stop when
    sum|x' - x| < n*tol; raises when ``max_iter`` runs out first."""
    import numpy as np

    src = np.array([p[0] for p in pairs], dtype=np.int64)
    dst = np.array([p[1] for p in pairs], dtype=np.int64)
    x = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        xlast = x
        ax = np.zeros(n)
        np.add.at(ax, dst, xlast[src])
        np.add.at(ax, src, xlast[dst])
        x = xlast + ax
        norm = float(np.sqrt((x * x).sum())) or 1.0
        x = x / norm
        if float(np.abs(x - xlast).sum()) < n * tol:
            return x
    raise RuntimeError(f"eigenvector centrality failed to converge in {max_iter} iterations")


def _eigenvector_driver(
    spark, edge_rows, node_list, node_type, max_iter: int, tol: float
) -> DataFrame:
    """The power iteration on the collected edge list."""
    idx = {v: i for i, v in enumerate(node_list)}
    pairs = [
        (idx[r["src"]], idx[r["dst"]])
        for r in edge_rows
        if r["src"] in idx and r["dst"] in idx
    ]
    x = _power_iteration(pairs, len(node_list), max_iter, tol)
    return local_frame(
        spark, list(zip(node_list, x.tolist())), f"node {node_type}, eigenvector_centrality double"
    )


def _eigenvector_distributed(
    edges: DataFrame,
    nodes: DataFrame,
    n: int,
    max_iter: int = 1000,
    tol: float = 1.0e-6,
) -> DataFrame:
    """Join-aggregate power iteration over ``n`` > 0 nodes, for graphs too
    large to collect."""
    sym = _symmetrize(edges).cache()

    def step(x: DataFrame) -> DataFrame:
        contrib = (
            sym.join(x, sym["src"] == x["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("x").alias("ax"))
        )
        # x' = x + A·x  (networkx iterates on I+A)
        x_new = (
            x.join(contrib, "node", "left")
            .select("node", (F.col("x") + F.coalesce("ax", F.lit(0.0))).alias("x"))
        )
        norm = x_new.agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("n")).collect()[0]["n"]
        norm = norm if norm and norm > 0 else 1.0
        return x_new.select("node", (F.col("x") / F.lit(norm)).alias("x"))

    def converged(new: DataFrame, old: DataFrame) -> bool:
        delta = (
            new.alias("a")
            .join(old.alias("b"), "node")
            .agg(F.sum(F.abs(F.col("a.x") - F.col("b.x"))).alias("d"))
            .collect()[0]["d"]
        )
        return delta < n * tol

    x, ok = generations(
        nodes.select("node", F.lit(1.0 / n).alias("x")), step, max_iter, converged
    )
    sym.unpersist()
    if not ok:
        raise RuntimeError(f"eigenvector centrality failed to converge in {max_iter} iterations")
    return x.select("node", F.col("x").alias("eigenvector_centrality"))


def _brandes_single_source(adj: dict, s) -> dict:
    """Exact single-source dependency accumulation (Brandes 2001, unweighted).
    Returns {node: dependency_from_s}. Pure Python."""
    S = []
    P = {v: [] for v in adj}
    sigma = dict.fromkeys(adj, 0.0)
    sigma[s] = 1.0
    dist = dict.fromkeys(adj, -1)
    dist[s] = 0
    Q = deque([s])
    while Q:
        v = Q.popleft()
        S.append(v)
        for w in adj[v]:
            if dist[w] < 0:
                dist[w] = dist[v] + 1
                Q.append(w)
            if dist[w] == dist[v] + 1:
                sigma[w] += sigma[v]
                P[w].append(v)
    delta = dict.fromkeys(adj, 0.0)
    while S:
        w = S.pop()
        for v in P[w]:
            delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
    delta[s] = 0.0
    return delta


def _adjacency(edges: DataFrame, nodes: DataFrame):
    """``(node_list, adj, kept, node_type)`` from one collect each of
    ``nodes`` and ``edges``: ``adj`` maps every node to its neighbor list,
    ``kept`` lists, in edge order, the (src, dst) edges with both ends in
    ``nodes``, and ``node_type`` is the node column's type. The top-K
    construction bounds the graph (n_top_genes <= 500, pipeline2.py:663),
    not ``algorithms.collected_graph``."""
    node_list = [r["node"] for r in nodes.select("node").collect()]
    adj: dict = {v: [] for v in node_list}
    kept = []
    for r in edges.select("src", "dst").collect():
        s, d = r["src"], r["dst"]
        if s in adj and d in adj:
            adj[s].append(d)
            adj[d].append(s)
            kept.append((s, d))
    return node_list, adj, kept, dict(nodes.dtypes)["node"]


def _brandes_totals(adj: dict, node_list: list, normalized: bool) -> list:
    """Serial exact Brandes over every source: the betweenness of each
    node of ``node_list``, in order. Undirected pair dependencies halve
    (each pair is counted from both endpoints); normalized scale
    2/((n-1)(n-2)) — networkx conventions."""
    bc = dict.fromkeys(node_list, 0.0)
    for s in node_list:
        for v, dep in _brandes_single_source(adj, s).items():
            if dep:
                bc[v] += dep
    n = len(node_list)
    scale = 0.5
    if normalized and n > 2:
        scale *= 2.0 / ((n - 1) * (n - 2))
    return [bc[v] * scale for v in node_list]


def target_scores(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """The reference's network scoring (pipeline2.py:722-792), unordered
    and unrounded: all three centralities -> min-max scale -> composite =
    their mean. Returns (node, degree_centrality, betweenness_centrality,
    eigenvector_centrality, composite_score); an empty node table gives an
    empty result of that schema.

    One collect of each table, then everything on the driver: degree,
    serial Brandes, the numpy power iteration, the min-max with sklearn's
    constant-column -> 0 convention, and the mean, with the exact networkx
    conventions of the individual functions — vs ~20 tiny Spark jobs for
    the three DataFrame programs on a graph the top-K construction bounds
    at n_top_genes <= 500 nodes."""
    import numpy as np

    node_list, adj, kept, node_type = _adjacency(edges, nodes)
    n = len(node_list)
    cols: list = []
    if n:
        idx = {v: i for i, v in enumerate(node_list)}
        deg = np.array([len(adj[v]) for v in node_list], dtype=np.float64)
        cols = [
            deg / float(max(n - 1, 1)),
            np.array(_brandes_totals(adj, node_list, normalized=True)),
            _power_iteration([(idx[s], idx[d]) for s, d in kept], n, 1000, 1.0e-6),
        ]
        scaled = []
        for c in cols:
            span = c.max() - c.min()
            scaled.append(np.zeros(n) if span == 0.0 else (c - c.min()) / span)
        cols.append((scaled[0] + scaled[1] + scaled[2]) / 3.0)
    return local_frame(
        edges.sparkSession,
        list(zip(node_list, *(c.tolist() for c in cols))),
        f"node {node_type}, degree_centrality double, betweenness_centrality double, "
        "eigenvector_centrality double, composite_score double",
    )


def betweenness_centrality(
    edges: DataFrame,
    nodes: DataFrame,
    normalized: bool = True,
) -> DataFrame:
    """Exact betweenness (pipeline2.py:748): serial Brandes on the driver
    (``_brandes_totals``)."""
    return _driver_scores(
        edges, nodes, "betweenness_centrality",
        lambda adj, node_list: _brandes_totals(adj, node_list, normalized),
    )


def _driver_scores(edges: DataFrame, nodes: DataFrame, col: str, scores) -> DataFrame:
    """(node, ``col``) with ``scores(adj, node_list)`` giving each node's
    score in order, computed on the driver over one collect of the
    adjacency."""
    node_list, adj, _, node_type = _adjacency(edges, nodes)
    return local_frame(
        edges.sparkSession,
        list(zip(node_list, scores(adj, node_list))),
        f"node {node_type}, {col} double",
    )


def _closeness_single_source(adj: dict, s) -> float:
    """Single-source BFS closeness, networkx wf_improved semantics:
    (r-1)/totsp * (r-1)/(n-1) with r = nodes reached incl. s and n =
    len(adj); 0.0 for isolated sources. Pure Python."""
    dist = {s: 0}
    Q = deque([s])
    tot = 0
    while Q:
        v = Q.popleft()
        for w in adj[v]:
            if w not in dist:
                dist[w] = dist[v] + 1
                tot += dist[w]
                Q.append(w)
    r = len(dist)
    n = len(adj)
    if r <= 1 or tot == 0 or n <= 1:
        return 0.0
    return ((r - 1) / tot) * ((r - 1) / (n - 1))


def closeness_centrality(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Exact closeness centrality [EXT] — networkx conventions
    (wf_improved: the per-component closeness scaled by the reachable
    fraction, so multi-component graphs don't inflate small components).
    One BFS per source on the driver (``_driver_scores``)."""
    return _driver_scores(
        edges, nodes, "closeness_centrality",
        lambda adj, node_list: [_closeness_single_source(adj, v) for v in node_list],
    )


def _harmonic_single_source(adj: dict, s) -> float:
    """Single-source BFS harmonic centrality, networkx conventions
    (raw sum of 1/d over reachable v != s, NO (n-1) normalization).
    The reciprocal sum is accumulated per-DISTANCE (integer level
    counts, then sum count_d/d in ascending d) so the float result is
    order-deterministic — independent of adjacency iteration order."""
    dist = {s: 0}
    Q = deque([s])
    level_counts: dict[int, int] = {}
    while Q:
        v = Q.popleft()
        for w in adj[v]:
            if w not in dist:
                d = dist[v] + 1
                dist[w] = d
                level_counts[d] = level_counts.get(d, 0) + 1
                Q.append(w)
    h = 0.0
    for d in sorted(level_counts):
        h += level_counts[d] / d
    return h


def harmonic_centrality(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Exact harmonic centrality [EXT] — networkx conventions (sum of
    reciprocal distances; well-defined on disconnected graphs, the
    reason Boldi & Vigna 2014 prefer it over closeness). Same execution
    as ``closeness_centrality``. Per-distance integer level counts make
    each score order-deterministic (see ``_harmonic_single_source``)."""
    return _driver_scores(
        edges, nodes, "harmonic_centrality",
        lambda adj, node_list: [_harmonic_single_source(adj, v) for v in node_list],
    )
