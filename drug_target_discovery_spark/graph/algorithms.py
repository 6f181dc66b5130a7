"""Iterative graph algorithms beyond centralities (SURVEY §2.7 G6 [EXT]):
connected components and PageRank as driver-looped DataFrame programs —
the same machinery as eigenvector centrality (join-aggregate per iteration,
each generation a lineage cut; see caching.generations)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drug_target_discovery_spark.caching import generations
from drug_target_discovery_spark.session import local_frame

DRIVER_TWIN_THRESHOLD = 1_000_000


def collected_graph(
    edges: DataFrame,
    nodes: DataFrame | None,
    n_edges: int | None = None,
    n_nodes: int | None = None,
):
    """The one driver-twin gate of the graph tier: ``(edge_rows,
    node_list, node_type)`` collected to the driver when the graph is
    small, else None and the caller runs its distributed plan.

    Small means fewer than ``DRIVER_TWIN_THRESHOLD // 2`` edge rows and,
    when ``nodes`` is given, fewer than ``DRIVER_TWIN_THRESHOLD`` nodes
    (the constant is read at call time). So the driver never collects more
    than ~1M rows of two ids each, a small share of the heap session.py
    sizes from the host. ``nodes=None`` declares the node set to be the
    edge endpoints (candidate-pair graphs have no isolated nodes): the
    node list is then the sorted endpoints and ``node_type`` the type of
    ``src``. ``n_edges`` / ``n_nodes`` are caller-known counts; only what
    no hint supplies is counted, so a fully hinted gate runs no job.

    Every twin is parity-tested against its ``_distributed`` plan
    (tests/test_graph_algorithms.py, tests/test_graph.py). The per-source
    centralities (betweenness, closeness, harmonic) and
    ``centrality.target_scores`` have no twin: they always run on the
    driver over a collected adjacency, which the corr graph's top-K
    bounds. The graph tier's other strategy constants are in
    queries/graphq.py, which admits the Adamic-Adar driver path by
    ``_AA_DRIVER_MAX_EDGES`` and the wedge bound ``_AA_DRIVER_WEDGE_CAP``,
    since its driver work is quadratic in hub degree."""
    t = DRIVER_TWIN_THRESHOLD
    if (n_edges if n_edges is not None else edges.count()) >= t // 2:
        return None
    if nodes is not None and (n_nodes if n_nodes is not None else nodes.count()) >= t:
        return None
    rows = edges.select("src", "dst").collect()
    if nodes is None:
        node_list = sorted({r["src"] for r in rows} | {r["dst"] for r in rows})
        return rows, node_list, dict(edges.dtypes)["src"]
    return rows, [r["node"] for r in nodes.select("node").collect()], dict(nodes.dtypes)["node"]


def _endpoints(edges: DataFrame) -> DataFrame:
    """The node table of a ``nodes=None`` graph: its distinct endpoints."""
    return (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 50,
    n_edges: int | None = None,
    n_nodes: int | None = None,
) -> DataFrame:
    """Min-label propagation to fixpoint: component id = min node id
    reachable. Returns (node, component).

    Small graphs (``collected_graph``) run union-find on the collected
    edge list — per-iteration Spark job latency would dominate by orders
    of magnitude. Large graphs run the distributed loop: per iteration one
    join-aggregate label'(v) = min(label(v), min over neighbors of
    label(u)); O(diameter) rounds (HashToMin family — the
    large-star/small-star variant halves rounds at extreme scale, same plan
    shape). ``nodes=None``: the node set is the edge endpoints;
    ``n_edges`` / ``n_nodes``: caller-known counts for the gate."""
    g = collected_graph(edges, nodes, n_edges, n_nodes)
    if g is not None:
        return _union_find(edges.sparkSession, *g)
    return _cc_distributed(edges, nodes, max_iter)


def _union_find(spark, edge_rows, node_list, node_type) -> DataFrame:
    """Union-find over collected edges (exact, O(E α(V)))."""
    parent = {v: v for v in node_list}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        a, b = find(r["src"]), find(r["dst"])
        if a != b:
            if b < a:
                a, b = b, a
            parent[b] = a
    return local_frame(
        spark, [(v, find(v)) for v in node_list], f"node {node_type}, component {node_type}"
    )


def _cc_distributed(
    edges: DataFrame, nodes: DataFrame | None = None, max_iter: int = 50
) -> DataFrame:
    if nodes is None:
        nodes = _endpoints(edges)
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .cache()
    )

    def step(labels: DataFrame) -> DataFrame:
        nbr_min = (
            sym.join(labels, sym["src"] == labels["node"])
            .groupBy(F.col("dst").alias("n"))
            .agg(F.min("component").alias("nbr_component"))
        )
        return labels.join(nbr_min, labels["node"] == F.col("n"), "left").select(
            "node",
            F.least(
                "component", F.coalesce("nbr_component", F.col("component"))
            ).alias("component"),
        )

    labels, _ = generations(
        nodes.select("node", F.col("node").alias("component")),
        step,
        max_iter,
        lambda new, old: _unchanged(new, old, "component"),
    )
    sym.unpersist()
    return labels


def _unchanged(new: DataFrame, old: DataFrame, col: str) -> bool:
    """Fixpoint test of the integer-label loops: no node's ``col`` moved."""
    return (
        new.alias("a")
        .join(old.alias("b"), "node")
        .filter(F.col(f"a.{col}") != F.col(f"b.{col}"))
        .limit(1)
        .count()
        == 0
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1.0e-6,
    n_edges: int | None = None,
    n_nodes: int | None = None,
) -> DataFrame:
    """PageRank on the undirected (symmetrized) graph, networkx-compatible:
    pr'(v) = (1-d)/N + d * (sum_{u->v} pr(u)/outdeg(u) + dangling mass/N);
    converged when sum|pr' - pr| < N * tol. Returns (node, pagerank); an
    empty node table gives an empty result.

    Small graphs (``collected_graph``) run the numpy iteration on the
    driver (three Spark actions per distributed iteration would otherwise
    dominate); large graphs run the join-aggregate loop. ``n_edges`` /
    ``n_nodes``: caller-known counts for the gate."""
    n = n_nodes if n_nodes is not None else nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("pagerank"))
    g = collected_graph(edges, nodes, n_edges, n)
    if g is not None:
        return _pagerank_driver(edges.sparkSession, *g, damping, max_iter, tol)
    return _pagerank_distributed(edges, nodes, n, damping, max_iter, tol)


def _pagerank_driver(
    spark, edge_rows, node_list, node_type, damping: float, max_iter: int, tol: float
) -> DataFrame:
    import numpy as np

    idx = {v: i for i, v in enumerate(node_list)}
    n = len(node_list)
    e = [(idx[r["src"]], idx[r["dst"]]) for r in edge_rows]
    src = np.array([p[0] for p in e] + [p[1] for p in e], dtype=np.int64)
    dst = np.array([p[1] for p in e] + [p[0] for p in e], dtype=np.int64)
    deg = np.zeros(n)
    np.add.at(deg, src, 1.0)
    pr = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        prev = pr
        share = np.where(deg > 0, prev / np.where(deg > 0, deg, 1.0), 0.0)
        mass = np.zeros(n)
        np.add.at(mass, dst, share[src])
        dangling = prev[deg == 0].sum()
        pr = (1.0 - damping) / n + damping * (mass + dangling / n)
        if np.abs(pr - prev).sum() < n * tol:
            break
    return local_frame(
        spark, list(zip(node_list, pr.tolist())), f"node {node_type}, pagerank double"
    )


def _pagerank_distributed(
    edges: DataFrame,
    nodes: DataFrame,
    n: int,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1.0e-6,
) -> DataFrame:
    """The join-aggregate loop over ``n`` > 0 nodes."""
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .cache()
    )
    outdeg = sym.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("deg"))

    def step(ranks: DataFrame) -> DataFrame:
        with_deg = ranks.join(outdeg, "node", "left")
        dangling = (
            with_deg.filter(F.col("deg").isNull()).agg(F.sum("pr").alias("d")).collect()[0]["d"]
            or 0.0
        )
        contrib = (
            sym.join(with_deg.filter(F.col("deg").isNotNull()), sym["src"] == F.col("node"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("mass"))
        )
        base = (1.0 - damping) / n + damping * dangling / n
        return (
            ranks.select("node")
            .join(contrib, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.lit(damping) * F.coalesce("mass", F.lit(0.0))).alias("pr"),
            )
        )

    def converged(new: DataFrame, old: DataFrame) -> bool:
        delta = (
            new.alias("a")
            .join(old.alias("b"), "node")
            .agg(F.sum(F.abs(F.col("a.pr") - F.col("b.pr"))).alias("d"))
            .collect()[0]["d"]
        )
        return delta < n * tol

    ranks, _ = generations(
        nodes.select("node", F.lit(1.0 / n).alias("pr")), step, max_iter, converged
    )
    sym.unpersist()
    return ranks.select("node", F.col("pr").alias("pagerank"))


def core_numbers(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 100,
    n_edges: int | None = None,
    n_nodes: int | None = None,
) -> DataFrame:
    """K-core decomposition: for each node the largest k such that the node
    belongs to a subgraph where every member has degree >= k. Returns
    (node, core) — the cohesion measure behind community trimming and
    spam-farm detection. Same dual-strategy contract as
    ``connected_components``: small graphs run the exact Batagelj-
    Zaversnik peeling on the collected edge list (O(E) with bucket
    queues); large graphs run the DISTRIBUTED H-INDEX FIXPOINT (Lu et al.
    2016, Nature Communications 7:10168: the iteration
    c_v <- H({c_u : u in N(v)}) from
    c_v = deg(v) converges to the core number, where H is the h-index) —
    per iteration ONE join-aggregate whose shuffle is O(E), monotone
    non-increasing, O(graph-dependent, typically << diameter) rounds,
    every generation a lineage cut (caching.generations).

    ``nodes=None`` declares node set == edge endpoints (candidate-pair
    graphs); isolated nodes then don't exist and every core >= 1.
    ``n_edges`` / ``n_nodes``: caller-known counts for the gate."""
    g = collected_graph(edges, nodes, n_edges, n_nodes)
    if g is not None:
        return _core_driver(edges.sparkSession, *g)
    return _core_distributed(edges, nodes, max_iter)


def _core_driver(spark, edge_rows, node_list, node_type) -> DataFrame:
    """Batagelj-Zaversnik bucket peeling over collected edges: repeatedly
    remove the minimum-degree vertex; its degree at removal (monotone
    max'd over the removal sequence) is its core number."""
    schema = f"node {node_type}, core int"
    if not node_list:
        return local_frame(spark, [], schema)
    adj: dict = {v: set() for v in node_list}
    for r in edge_rows:
        s, d = r["src"], r["dst"]
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    deg = {v: len(adj[v]) for v in node_list}
    # bucket queue over degrees
    max_deg = max(deg.values(), default=0)
    buckets: list[set] = [set() for _ in range(max_deg + 1)]
    for v, d in deg.items():
        buckets[d].add(v)
    core: dict = {}
    k = 0
    removed: set = set()
    for _ in range(len(node_list)):
        d = 0
        while not buckets[d]:
            d += 1
        v = buckets[d].pop()
        k = max(k, d)
        core[v] = k
        removed.add(v)
        for u in adj[v]:
            if u in removed:
                continue
            du = deg[u]
            if du > d:
                buckets[du].discard(u)
                deg[u] = du - 1
                buckets[du - 1].add(u)
    return local_frame(spark, [(v, int(core[v])) for v in node_list], schema)


def _core_distributed(
    edges: DataFrame, nodes: DataFrame | None = None, max_iter: int = 100
) -> DataFrame:
    from pyspark.sql import Window as W

    if nodes is None:
        nodes = _endpoints(edges)
    # distinct AFTER symmetrizing: an input carrying both orientations of
    # an edge (or repeats) would otherwise contribute the same neighbor's
    # value twice to the h-index multiset and inflate the fixpoint — the
    # driver path's adjacency SETS dedupe implicitly, and the 50K parity
    # benchmark caught exactly this off-by-one (max diff 1.0) before the
    # distinct was added. One extra exchange, once, before the loop.
    sym = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        .distinct()
        .cache()
    )
    deg = sym.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("int").alias("core")
    )

    def step(labels: DataFrame) -> DataFrame:
        # h-index of the neighbor core values: sort desc per node, then
        # h = max over ranks r of min(r, value_r) — one window + one agg,
        # both riding the same hashpartitioning(n) exchange
        nbr = sym.join(labels, sym["src"] == labels["node"]).select(
            F.col("dst").alias("n"), F.col("core").alias("c")
        )
        w = W.partitionBy("n").orderBy(F.col("c").desc())
        h = (
            nbr.withColumn("r", F.row_number().over(w))
            .groupBy("n")
            .agg(F.max(F.least(F.col("r"), F.col("c"))).cast("int").alias("h"))
        )
        return labels.join(h, labels["node"] == F.col("n"), "left").select(
            "node", F.least("core", F.coalesce("h", F.lit(0))).alias("core")
        )

    labels, _ = generations(
        nodes.join(deg, "node", "left").select(
            "node", F.coalesce("core", F.lit(0)).alias("core")
        ),
        step,
        max_iter,
        lambda new, old: _unchanged(new, old, "core"),
    )
    sym.unpersist()
    return labels


def label_propagation(
    edges: DataFrame,
    n_iter: int = 5,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Synchronous label propagation communities (Raghavan, Albert &
    Kumara 2007), made DETERMINISTIC and therefore oracle-able: labels
    initialize to the node id; each iteration EVERY node simultaneously
    adopts the most frequent label among its neighbors, ties broken by
    the MINIMUM label; isolated nodes keep their label. Exactly
    ``n_iter`` rounds — a fixed iteration count (not run-to-convergence)
    because synchronous LPA can 2-cycle on bipartite-ish structure (the
    classic star/ring oscillation; asynchronous update orders fix it at
    the cost of determinism, which this engine will not trade away).
    Returns (node, community).

    Scale design: per iteration ONE join of the symmetric edge list to
    the label table (keyed on the edge source) and one two-level
    aggregate — (dst, label) counts with map-side partials, then the
    argmax-with-min-tie-break as a single max(struct(cnt, -label))
    aggregate, no window — each generation a lineage cut, like
    _cc_distributed. Labels stay node ids (BIGINT), so
    the tie-break negation is exact.

    Edge semantics are SET semantics (ADVICE r8): the symmetric edge
    list is de-duplicated, so multi-edges and both-orientation inputs
    ((a,b) and (b,a)) contribute ONE vote per neighbor — matching the
    python-recompute parity tests (adjacency sets) and the DuckDB
    oracle (DISTINCT d1<d2 pairs). The distinct is one extra shuffle,
    paid once outside the iteration loop on the already-shuffling edge
    list.

    The reference engine has no community detection; LPA complements
    connected_components (communities respect component boundaries but
    split dense subregions) on the same edge tables. Registration plan:
    r10 gate over the near-dup pair graph with an unrolled fixed-K
    DuckDB oracle (see queries/registry.py).

    Strategy selection (optimization r13, ``collected_graph``): on a
    small graph the ``n_iter`` synchronous rounds run driver-side over
    adjacency sets — the distributed loop costs ~8 tiny Spark jobs per
    round (join + two-level aggregate + checkpoint), pure scheduler
    latency on a candidate-pair graph of a few hundred edges (measured
    3.8s/32 jobs -> ~0.4s/3 jobs at sf0.1). Exact-parity with the
    distributed path is pinned in tests/test_graph_algorithms.py (integer
    votes + integer min tie-break: no float hazard)."""
    g = collected_graph(edges, nodes)
    if g is not None:
        return _lpa_driver(edges.sparkSession, *g, n_iter)
    return _lpa_distributed(edges, n_iter, nodes)


def _lpa_distributed(
    edges: DataFrame, n_iter: int = 5, nodes: DataFrame | None = None
) -> DataFrame:
    if nodes is None:
        nodes = _endpoints(edges)
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .cache()
    )

    def step(labels: DataFrame) -> DataFrame:
        votes = (
            sym.join(labels, sym["src"] == labels["node"])
            .groupBy(F.col("dst").alias("n"), F.col("community").alias("lbl"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax count, ties -> min label: one aggregate, no window
        winner = votes.groupBy("n").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("lbl")).alias("neg"))).alias(
                "m"
            )
        )
        return labels.join(winner, labels["node"] == F.col("n"), "left").select(
            "node",
            F.coalesce((-F.col("m.neg")), F.col("community")).alias("community"),
        )

    labels, _ = generations(
        nodes.select("node", F.col("node").alias("community")), step, n_iter
    )
    sym.unpersist()
    return labels


def _lpa_driver(spark, edge_rows, node_list, node_type, n_iter: int) -> DataFrame:
    """Driver twin of the distributed LPA loop: identical semantics
    (synchronous update, most-frequent neighbor label, ties -> minimum
    label, isolated nodes keep their label), integer-only arithmetic so
    the two strategies are exactly equal. Adjacency SETS give the
    distributed loop's distinct symmetric edge list."""
    from collections import Counter, defaultdict

    adj: dict = defaultdict(set)
    for r in edge_rows:
        adj[r["src"]].add(r["dst"])
        adj[r["dst"]].add(r["src"])
    schema = f"node {node_type}, community {node_type}"
    labels = {v: v for v in node_list}
    for _ in range(n_iter):
        new = {}
        for v in node_list:
            # votes only from neighbors that HOLD a label (the distributed
            # join keys on the label table, so endpoints outside ``nodes``
            # cast no vote); a node with zero voting neighbors keeps its
            # label (the distributed left join's coalesce)
            cnt = Counter(
                labels[u] for u in adj.get(v, ()) if u in labels
            )
            if not cnt:
                new[v] = labels[v]
                continue
            best = max(cnt.values())
            new[v] = min(l for l, c in cnt.items() if c == best)
        labels = new
    return local_frame(spark, [(v, labels[v]) for v in node_list], schema)


def triangle_counts(
    edges: DataFrame,
    nodes: DataFrame,
    n_edges: int | None = None,
    n_nodes: int | None = None,
) -> DataFrame:
    """Per-node triangle participation counts + degree over a CANONICALLY
    ORIENTED edge list (src < dst): returns (node, n_triangles, degree) for
    every node in ``nodes`` (0/0 for nodes without edges).

    Strategy selection (optimization r13, ``collected_graph``): on a small
    graph the enumeration runs driver-side over successor maps — the
    distributed two-equi-join form costs ~12 small Spark jobs (three
    joins + two union-aggregates under AQE), pure scheduler latency on a
    thresholded corr graph of a few hundred edges (measured 3.1s/12 jobs
    warm at sf0.1). Large graphs keep the two-equi-join plan: each
    triangle a<b<c matches exactly one path e(a,b)->e(b,c) closed by
    e(a,c), so no symmetrized blow-up (the degree-ordered orientation
    trick bounds the join fan-out at scale).

    Both strategies are multiplicity-faithful (a duplicate edge row
    multiplies matched paths exactly as the joins would), so they are
    exactly equal on ANY input — pinned in tests/test_graph_algorithms.py.
    Only integer counts are produced here; ratio columns belong to the
    caller so both strategies flow through identical float expressions.

    ``n_edges`` / ``n_nodes``: caller-known counts — when given the gate
    launches NO count() jobs, so the large-graph path costs exactly the
    join plan (optimization r14: ``edges`` is not guaranteed cached for
    arbitrary callers)."""
    g = collected_graph(edges, nodes, n_edges, n_nodes)
    if g is not None:
        return _triangle_driver(edges.sparkSession, *g)
    return _triangles_distributed(edges, nodes)


def _triangles_distributed(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    e = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    tpn = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select("y"))
        .unionAll(tri.select("z"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select("b"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return (
        nodes.join(deg, "node", "left")
        .join(tpn, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("t"), F.lit(0).cast("long")).alias("n_triangles"),
            F.coalesce(F.col("d"), F.lit(0).cast("long")).alias("degree"),
        )
    )


def _triangle_driver(spark, edge_rows, node_list, node_type) -> DataFrame:
    """Driver twin of the two-equi-join triangle enumeration: successor
    maps keyed src -> {dst: multiplicity}; a triangle x<y<z contributes
    m(x,y)*m(y,z)*m(x,z) to each corner — exactly the distributed join's
    path count — and degree sums edge-row endpoint incidences."""
    from collections import defaultdict

    succ: dict = defaultdict(dict)
    deg: dict = defaultdict(int)
    for r in edge_rows:
        a, b = r["src"], r["dst"]
        succ[a][b] = succ[a].get(b, 0) + 1
        deg[a] += 1
        deg[b] += 1
    tri: dict = defaultdict(int)
    for a, nbrs in succ.items():
        for b, m_ab in nbrs.items():
            sb = succ.get(b)
            if not sb:
                continue
            small = nbrs if len(nbrs) <= len(sb) else sb
            large = sb if small is nbrs else nbrs
            for c in small:
                if c in large:
                    k = m_ab * nbrs[c] * sb[c]
                    tri[a] += k
                    tri[b] += k
                    tri[c] += k
    schema = f"node {node_type}, n_triangles bigint, degree bigint"
    return local_frame(spark, [(v, tri.get(v, 0), deg.get(v, 0)) for v in node_list], schema)


def modularity_summary(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman-Girvan modularity Q of a node partition (Newman 2006):
    Q = sum_c [m_c/m - (d_c/2m)^2] over communities c, m = |E|, m_c =
    intra-community edges, d_c = the community's total degree. Returns
    ONE row (n_nodes, n_edges, n_communities, modularity — unrounded;
    callers round for oracles).

    ``edges`` must be distinct single-orientation pairs with src != dst
    (the label_propagation edge contract); ``labels`` is (node,
    community) covering every endpoint. Plan: two keyed joins tag each
    edge's endpoint communities, one community-grain aggregate builds
    (d_c, m_c), one bounded reduce sums the Q terms — no window, no
    driver iteration; the three driver scalars (m, n_nodes,
    n_communities) are single-row counts."""
    l1 = labels.select(F.col("node").alias("src"), F.col("community").alias("c1"))
    l2 = labels.select(F.col("node").alias("dst"), F.col("community").alias("c2"))
    tagged = edges.join(l1, "src").join(l2, "dst")
    deg = (
        tagged.select(F.col("c1").alias("c")).unionAll(
            tagged.select(F.col("c2").alias("c"))
        )
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("d_c"))
    )
    intra = (
        tagged.filter(F.col("c1") == F.col("c2"))
        .groupBy(F.col("c1").alias("c"))
        .agg(F.count(F.lit(1)).alias("m_c"))
    )
    per_c = deg.join(intra, "c", "left").select(
        "c", "d_c", F.coalesce("m_c", F.lit(0)).alias("m_c")
    )
    spark = edges.sparkSession
    m = edges.count()
    if m == 0:
        return local_frame(
            spark,
            [(0, 0, 0, None)],
            "n_nodes long, n_edges long, n_communities long, modularity double",
        )
    n_nodes = labels.count()
    n_comms = per_c.count()
    q_terms = per_c.select(
        (
            F.col("m_c") / F.lit(float(m))
            - (F.col("d_c") / F.lit(2.0 * m)) * (F.col("d_c") / F.lit(2.0 * m))
        ).alias("term")
    )
    return q_terms.agg(
        F.lit(n_nodes).cast("long").alias("n_nodes"),
        F.lit(m).cast("long").alias("n_edges"),
        F.lit(n_comms).cast("long").alias("n_communities"),
        F.sum("term").alias("modularity"),
    )
