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
- betweenness: exact Brandes, parallelized ACROSS SOURCES — each task runs
  single-source Brandes on a broadcast adjacency (fine while V fits in one
  executor's memory, which the reference's top-K construction guarantees:
  K<=500). Dependencies are summed per node in one final aggregate.

All unweighted, matching nx defaults (hop-count shortest paths).
"""

from __future__ import annotations

from collections import deque

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from drug_target_discovery_spark.caching import generations
from drug_target_discovery_spark.functions.stats import composite_score, minmax_scale
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
    pdf = pd.DataFrame({"node": node_list, "eigenvector_centrality": x})
    # createDataFrame infers bigint for int ids; keep the input's type
    return spark.createDataFrame(pdf).withColumn("node", F.col("node").cast(node_type))


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
    Returns {node: dependency_from_s}. Pure-Python; runs inside one task."""
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


# Up to this many nodes the per-source centralities (betweenness,
# closeness, harmonic) run their BFS serially on the driver, and
# target_scores takes its fused driver path: exact Brandes is O(V·E) in
# pure Python, and below this size the source-parallel mapInPandas fan-out
# costs more in worker start-up and shuffle than it saves. Every workload
# graph fits under it (registry top-50, gse46602 top-100, paper top-500).
SERIAL_BFS_MAX_NODES = 512


def _adjacency(edges: DataFrame, nodes: DataFrame):
    """``(node_list, adj, kept)`` from one collect each of ``nodes`` and
    ``edges``: ``adj`` maps every node to its neighbor list and ``kept``
    lists, in edge order, the (src, dst) edges with both ends in ``nodes``.
    The per-source paths broadcast ``adj``; the top-K construction bounds
    it, not ``algorithms.collected_graph``."""
    node_list = [r["node"] for r in nodes.select("node").collect()]
    adj: dict = {v: [] for v in node_list}
    kept = []
    for r in edges.select("src", "dst").collect():
        s, d = r["src"], r["dst"]
        if s in adj and d in adj:
            adj[s].append(d)
            adj[d].append(s)
            kept.append((s, d))
    return node_list, adj, kept


def _score_schema(nodes: DataFrame, col: str) -> StructType:
    """(node, ``col`` double) with the node column's own type."""
    return StructType(
        [nodes.select("node").schema.fields[0], StructField(col, DoubleType(), False)]
    )


def _betweenness_scale(n: int, normalized: bool) -> float:
    """Undirected pair dependencies halve (each pair is counted from both
    endpoints); normalized scale 2/((n-1)(n-2)) — networkx conventions."""
    scale = 0.5
    if normalized and n > 2:
        scale *= 2.0 / ((n - 1) * (n - 2))
    return scale


def _brandes_totals(adj: dict, node_list: list, normalized: bool) -> list:
    """Serial exact Brandes over every source: the betweenness of each
    node of ``node_list``, in order."""
    bc = dict.fromkeys(node_list, 0.0)
    for s in node_list:
        for v, dep in _brandes_single_source(adj, s).items():
            if dep:
                bc[v] += dep
    scale = _betweenness_scale(len(node_list), normalized)
    return [bc[v] * scale for v in node_list]


def _per_source(nodes: DataFrame, adj: dict, schema: StructType, batch) -> DataFrame:
    """The source-parallel plan: the node list spread over
    min(max(n//8, 1), 64) partitions as BFS sources, the adjacency
    broadcast to every task, and ``batch(adj, sources)`` returning each
    partition's pandas rows of ``schema`` (empty batches are dropped)."""
    badj = nodes.sparkSession.sparkContext.broadcast(adj)

    def run(pdf_iter):
        adj_local = badj.value
        for pdf in pdf_iter:
            out = batch(adj_local, list(pdf["node"]))
            if len(out):
                yield out

    sources = nodes.select("node").repartition(min(max(len(adj) // 8, 1), 64))
    return sources.mapInPandas(run, schema=schema)


def centralities_fused_driver(
    edges: DataFrame, nodes: DataFrame, normalized: bool = True
) -> pd.DataFrame:
    """All three centralities from ONE edge-list collect, computed on the
    driver — the small-graph fast path (the reference's top-K construction
    bounds the graph at n_top_genes<=500 nodes, pipeline2.py:663).

    Running degree + eigenvector + betweenness as separate DataFrame
    programs costs ~20 tiny Spark jobs on a bounded graph; one collect plus
    numpy/pure-Python is the same arithmetic with two jobs. The distributed
    functions below remain the scale path for graphs that don't fit.

    Returns a pandas DataFrame (node, degree_centrality,
    betweenness_centrality, eigenvector_centrality) with the exact networkx
    conventions of the individual functions, over a non-empty node set."""
    import numpy as np

    node_list, adj, kept = _adjacency(edges, nodes)
    n = len(node_list)
    idx = {v: i for i, v in enumerate(node_list)}
    deg = np.array([len(adj[v]) for v in node_list], dtype=np.float64)
    return pd.DataFrame(
        {
            "node": node_list,
            "degree_centrality": deg / float(max(n - 1, 1)),
            "betweenness_centrality": np.array(_brandes_totals(adj, node_list, normalized)),
            "eigenvector_centrality": _power_iteration(
                [(idx[s], idx[d]) for s, d in kept], n, 1000, 1.0e-6
            ),
        }
    )


def target_scores(
    edges: DataFrame, nodes: DataFrame, n_nodes: int | None = None
) -> DataFrame:
    """The reference's network scoring (pipeline2.py:722-792), unordered
    and unrounded: all three centralities -> min-max scale -> composite =
    their mean. Returns (node, degree_centrality, betweenness_centrality,
    eigenvector_centrality, composite_score).

    Graphs of up to SERIAL_BFS_MAX_NODES nodes (the reference's top-K
    construction bounds nodes at n_top_genes<=500) take the fused driver
    path: one edge-list collect, all three centralities and the min-max in
    numpy/pure-Python, one createDataFrame — vs ~20 tiny Spark jobs for
    the distributed program, where betweenness runs source-parallel.
    Empty graphs also take the distributed path (typed empty result, no
    pandas schema inference).
    ``n_nodes``: caller-known node count — skips a count() job."""
    e = edges.select("src", "dst")
    n = n_nodes if n_nodes is not None else nodes.count()
    cent_cols = ["degree_centrality", "betweenness_centrality", "eigenvector_centrality"]
    if 0 < n <= SERIAL_BFS_MAX_NODES:
        pdf = centralities_fused_driver(e, nodes, normalized=True)
        # same sklearn constant-column -> 0 convention as minmax_scale
        for c in cent_cols:
            span = pdf[c].max() - pdf[c].min()
            pdf[c + "_scaled"] = 0.0 if span == 0.0 else (pdf[c] - pdf[c].min()) / span
        # createDataFrame infers bigint for int ids; keep the input's type
        scaled = edges.sparkSession.createDataFrame(pdf).withColumn(
            "node", F.col("node").cast(nodes.schema["node"].dataType)
        )
    else:
        dc = degree_centrality(e, nodes, n_nodes=n)
        ec = eigenvector_centrality(e, nodes, max_iter=1000, tol=1e-6, n_nodes=n)
        bc = betweenness_centrality(e, nodes, normalized=True)
        scaled = minmax_scale(dc.join(ec, "node").join(bc, "node"), cent_cols)
    return scaled.select(
        "node", *cent_cols, composite_score(scaled, [c + "_scaled" for c in cent_cols])
    )


def _dependency_batch(adj: dict, sources: list) -> pd.DataFrame:
    """Brandes dependencies of one partition's sources, summed per node."""
    acc: dict = {}
    for s in sources:
        for v, d in _brandes_single_source(adj, s).items():
            if d:
                acc[v] = acc.get(v, 0.0) + d
    return pd.DataFrame({"node": list(acc.keys()), "dep": list(acc.values())})


def betweenness_centrality(
    edges: DataFrame,
    nodes: DataFrame,
    normalized: bool = True,
) -> DataFrame:
    """Exact betweenness (pipeline2.py:748), parallel across sources.

    The adjacency (node -> neighbor list) is broadcast to every task; sources
    are distributed via the nodes DataFrame, each task accumulates Brandes
    dependencies for its sources (mapInPandas), and a final groupBy sums
    per node. Undirected: pair dependencies halve; normalized scale
    2/((n-1)(n-2)) — networkx conventions.

    Up to SERIAL_BFS_MAX_NODES nodes serial Brandes on the driver beats
    the fan-out's worker start-up and shuffle by seconds, on the adjacency
    that is collected either way (the broadcast payload); equivalence is
    pinned in tests/test_graph.py. Scale envelope of the source-parallel
    plan: V must fit per-executor (broadcast adjacency); source fan-out is
    embarrassingly parallel, to ~10^6 nodes / arbitrary source counts.
    """
    node_list, adj, _ = _adjacency(edges, nodes)
    n = len(node_list)
    if n <= SERIAL_BFS_MAX_NODES:
        return local_frame(
            edges.sparkSession,
            list(zip(node_list, _brandes_totals(adj, node_list, normalized))),
            _score_schema(nodes, "betweenness_centrality"),
        )
    deps = _per_source(nodes, adj, _score_schema(nodes, "dep"), _dependency_batch)
    summed = deps.groupBy("node").agg(F.sum("dep").alias("bc"))
    scale = _betweenness_scale(n, normalized)
    return nodes.join(summed, "node", "left").select(
        "node",
        (F.coalesce("bc", F.lit(0.0)) * F.lit(scale)).alias("betweenness_centrality"),
    )


def _source_scores(edges: DataFrame, nodes: DataFrame, col: str, score) -> DataFrame:
    """(node, ``col``) = ``score(adj, node)`` for every node: serially on
    the driver up to SERIAL_BFS_MAX_NODES nodes (worker start-up dominates
    tiny graphs), else one source-parallel mapInPandas with NO final
    shuffle, since each source's BFS yields its own score."""
    node_list, adj, _ = _adjacency(edges, nodes)
    schema = _score_schema(nodes, col)
    if len(node_list) <= SERIAL_BFS_MAX_NODES:
        return local_frame(edges.sparkSession, [(v, score(adj, v)) for v in node_list], schema)
    return _per_source(
        nodes,
        adj,
        schema,
        lambda adj_local, src: pd.DataFrame(
            {"node": src, col: [score(adj_local, s) for s in src]}
        ),
    )


def _closeness_single_source(adj: dict, s) -> float:
    """Single-source BFS closeness, networkx wf_improved semantics:
    (r-1)/totsp * (r-1)/(n-1) with r = nodes reached incl. s and n =
    len(adj); 0.0 for isolated sources. Pure-Python; runs inside one
    task."""
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

    Unlike Brandes, each source's BFS yields ITS OWN closeness — no
    cross-source accumulation at all, so the source-parallel plan is one
    mapInPandas over the node list (broadcast adjacency, same scale
    envelope as betweenness) with NO final shuffle (``_source_scores``);
    equivalence of the two paths is pinned in tests/test_graph.py."""
    return _source_scores(edges, nodes, "closeness_centrality", _closeness_single_source)


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
    envelope as ``closeness_centrality`` (``_source_scores``).
    Per-distance integer level counts make each score order-deterministic
    (see ``_harmonic_single_source``)."""
    return _source_scores(edges, nodes, "harmonic_centrality", _harmonic_single_source)
