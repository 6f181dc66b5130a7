"""Connected components + PageRank parity vs networkx, on both the driver
and distributed execution paths."""

import networkx as nx
import pytest

from drug_target_discovery_spark.graph import algorithms as ga
from drug_target_discovery_spark.graph.algorithms import (
    _cc_distributed,
    _core_distributed,
    _lpa_distributed,
    _pagerank_distributed,
    _triangles_distributed,
    connected_components,
    pagerank,
)


@pytest.fixture(scope="module")
def graph_dfs(spark):
    g = nx.gnm_random_graph(40, 45, seed=5)  # sparse -> several components
    g.add_nodes_from([90, 91])
    edges = list(g.edges())
    return (
        g,
        spark.createDataFrame([(n,) for n in g.nodes()], "node INT"),
        spark.createDataFrame(edges, "src INT, dst INT"),
    )


def _cc_expected(g):
    out = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        for v in comp:
            out[v] = m
    return out


class TestCC:
    def test_driver_path(self, spark, graph_dfs):
        g, nodes, edges = graph_dfs
        out = connected_components(edges, nodes)
        assert out.dtypes == [("node", "int"), ("component", "int")]  # INT ids kept
        got = {r["node"]: r["component"] for r in out.collect()}
        assert got == _cc_expected(g)

    def test_distributed_path(self, spark, graph_dfs):
        g, nodes, edges = graph_dfs
        out = _cc_distributed(edges, nodes)
        assert out.dtypes == [("node", "int"), ("component", "int")]
        got = {r["node"]: r["component"] for r in out.collect()}
        assert got == _cc_expected(g)

    def test_endpoints_only_paths(self, spark, graph_dfs, monkeypatch):
        # nodes=None declares node set == edge endpoints: isolated nodes
        # (90, 91) are excluded, everything else matches, on BOTH paths
        g, _, edges = graph_dfs
        exp = _cc_expected(g)
        exp = {v: c for v, c in exp.items() if g.degree(v) > 0}
        for thr in (ga.DRIVER_TWIN_THRESHOLD, 0):
            monkeypatch.setattr(ga, "DRIVER_TWIN_THRESHOLD", thr)
            got = {
                r["node"]: r["component"]
                for r in connected_components(edges, nodes=None).collect()
            }
            assert got == exp, f"DRIVER_TWIN_THRESHOLD={thr}"


def _pagerank_reference(g, alpha=0.85, max_iter=200, tol=1e-10):
    """Pure-python power iteration with dangling redistribution (the
    textbook formulation nx.pagerank implements; nx itself needs scipy,
    which this runtime deliberately lacks)."""
    nodes = list(g.nodes())
    n = len(nodes)
    adj = {v: list(g[v]) for v in nodes}
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(max_iter):
        dangling = sum(pr[v] for v in nodes if not adj[v])
        nxt = {v: (1 - alpha) / n + alpha * dangling / n for v in nodes}
        for u in nodes:
            if adj[u]:
                share = pr[u] / len(adj[u])
                for v in adj[u]:
                    nxt[v] += alpha * share
        delta = sum(abs(nxt[v] - pr[v]) for v in nodes)
        pr = nxt
        if delta < n * tol:
            break
    return pr


class TestPageRank:
    def test_driver_path_matches_reference(self, spark, graph_dfs):
        g, nodes, edges = graph_dfs
        got = {r["node"]: r["pagerank"] for r in pagerank(edges, nodes, max_iter=100).collect()}
        expected = _pagerank_reference(g)
        for n, v in expected.items():
            assert got[n] == pytest.approx(v, abs=1e-5), n

    def test_distributed_path_matches_driver(self, spark, graph_dfs):
        g, nodes, edges = graph_dfs  # INT node ids
        drv = pagerank(edges, nodes, max_iter=15)
        dist = _pagerank_distributed(edges, nodes, len(g), max_iter=15)
        assert drv.dtypes == dist.dtypes == [("node", "int"), ("pagerank", "double")]
        a = {r["node"]: r["pagerank"] for r in drv.collect()}
        b = {r["node"]: r["pagerank"] for r in dist.collect()}
        for n in a:
            assert a[n] == pytest.approx(b[n], rel=1e-9), n

    def test_empty_node_table(self, spark, monkeypatch):
        # an empty top-K gives an empty node table: both strategies return
        # an empty typed frame instead of dividing by n = 0
        nodes = spark.createDataFrame([], "node int")
        edges = spark.createDataFrame([], "src int, dst int")
        for thr in (ga.DRIVER_TWIN_THRESHOLD, 0):
            monkeypatch.setattr(ga, "DRIVER_TWIN_THRESHOLD", thr)
            out = pagerank(edges, nodes)
            assert out.dtypes == [("node", "int"), ("pagerank", "double")], thr
            assert out.count() == 0, thr


class TestCCEmptyGraph:
    def test_empty_edges_endpoints_path(self, spark):
        # zero LSH candidate pairs must yield an empty result, not a
        # CANNOT_INFER_EMPTY_SCHEMA crash
        edges = spark.createDataFrame([], "src BIGINT, dst BIGINT")
        out = connected_components(edges, nodes=None)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == ["node", "component"]

    def test_empty_edges_with_nodes(self, spark):
        nodes = spark.createDataFrame([(7,)], "node BIGINT")
        edges = spark.createDataFrame([], "src BIGINT, dst BIGINT")
        got = {r["node"]: r["component"] for r in connected_components(edges, nodes).collect()}
        assert got == {7: 7}


class TestCoreNumbers:
    def test_driver_path_matches_networkx(self, spark, graph_dfs):
        from drug_target_discovery_spark.graph.algorithms import core_numbers

        g, nodes, edges = graph_dfs
        got = {r["node"]: r["core"] for r in core_numbers(edges, nodes).collect()}
        assert got == nx.core_number(g)

    def test_distributed_hindex_matches_networkx(self, spark, graph_dfs):
        # h-index fixpoint (Lu et al. 2016) must converge to the exact
        # core numbers, isolated nodes included (core 0)
        from drug_target_discovery_spark.graph.algorithms import core_numbers

        g, nodes, edges = graph_dfs
        got = {r["node"]: r["core"] for r in _core_distributed(edges, nodes).collect()}
        assert got == nx.core_number(g)

    def test_both_orientations_do_not_inflate(self, spark, monkeypatch):
        # regression (50K parity run): an edge list carrying BOTH (a,b) and
        # (b,a) must not double-count the neighbor in the h-index multiset —
        # the driver path's adjacency sets dedupe implicitly, the
        # distributed path needs the post-symmetrize distinct
        from drug_target_discovery_spark.graph.algorithms import core_numbers

        g = nx.complete_graph(4)
        both = [(a, b) for a, b in g.edges()] + [(b, a) for a, b in g.edges()]
        edges = spark.createDataFrame(both, "src INT, dst INT")
        for thr in (ga.DRIVER_TWIN_THRESHOLD, 0):
            monkeypatch.setattr(ga, "DRIVER_TWIN_THRESHOLD", thr)
            got = {
                r["node"]: r["core"]
                for r in core_numbers(edges, None).collect()
            }
            assert got == nx.core_number(g), thr

    def test_dense_clique_plus_tail(self, spark, monkeypatch):
        # a 6-clique (core 5) with a pendant path (core 1): the shape where
        # naive degree-propagation over-estimates and h-index must decrease
        from drug_target_discovery_spark.graph.algorithms import core_numbers

        g = nx.complete_graph(6)
        g.add_edges_from([(5, 10), (10, 11), (11, 12)])
        edges = spark.createDataFrame(list(g.edges()), "src INT, dst INT")
        for thr in (ga.DRIVER_TWIN_THRESHOLD, 0):
            monkeypatch.setattr(ga, "DRIVER_TWIN_THRESHOLD", thr)
            got = {
                r["node"]: r["core"]
                for r in core_numbers(edges, None).collect()
            }
            assert got == nx.core_number(g), thr


class TestLabelPropagation:
    @staticmethod
    def _python_lpa(edge_list, n_iter):
        """Independent recompute of the synchronous min-tie rule."""
        from collections import Counter, defaultdict

        adj = defaultdict(set)
        for a, b in edge_list:
            adj[a].add(b)
            adj[b].add(a)
        nodes = sorted(adj)
        lbl = {v: v for v in nodes}
        for _ in range(n_iter):
            nxt = {}
            for v in nodes:
                c = Counter(lbl[u] for u in adj[v])
                best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
                nxt[v] = best[0]
            lbl = nxt
        return lbl

    def _run(self, spark, edge_list, n_iter=5):
        from drug_target_discovery_spark.graph.algorithms import (
            label_propagation,
        )

        edges = spark.createDataFrame(edge_list, "src long, dst long")
        return {
            r["node"]: r["community"]
            for r in label_propagation(edges, n_iter=n_iter).collect()
        }

    def test_two_cliques_with_bridge(self, spark):
        cl1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        cl2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
        got = self._run(spark, cl1 + cl2 + [(3, 10)])
        # each clique collapses to one community; the bridge does not merge
        assert len({got[v] for v in range(4)}) == 1
        assert len({got[v] for v in range(10, 14)}) == 1
        assert got[0] != got[10]

    def test_matches_python_recompute(self, spark):
        import random

        rng = random.Random(42)
        nodes = list(range(30))
        edge_list = sorted(
            {
                tuple(sorted(rng.sample(nodes, 2)))
                for _ in range(60)
            }
        )
        for k in (1, 3, 5):
            got = self._run(spark, edge_list, n_iter=k)
            exp = self._python_lpa(edge_list, k)
            assert got == exp, f"divergence at n_iter={k}"

    def test_deterministic_across_runs(self, spark):
        edge_list = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3)]
        assert self._run(spark, edge_list) == self._run(spark, edge_list)

    def test_communities_respect_components(self, spark):
        # two disjoint triangles can never share a community label
        got = self._run(spark, [(0, 1), (1, 2), (2, 0), (5, 6), (6, 7), (7, 5)])
        assert {got[0], got[1], got[2]}.isdisjoint({got[5], got[6], got[7]})

    def test_multi_edges_and_both_orientations_vote_once(self, spark):
        """ADVICE r8: the symmetric edge list is de-duplicated, so a
        duplicated edge or a both-orientation pair contributes ONE vote
        per neighbor — same result as the canonical single-orientation
        input, matching the adjacency-SET python recompute."""
        canonical = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]
        noisy = (
            canonical
            + [(1, 0), (2, 1)]  # reversed orientations
            + [(2, 3), (2, 3), (3, 4)]  # multi-edges
        )
        for k in (1, 3, 5):
            got = self._run(spark, noisy, n_iter=k)
            exp = self._python_lpa(canonical, k)
            assert got == exp, f"multi-edge divergence at n_iter={k}"

    def test_driver_equals_distributed(self, spark):
        """Optimization r13: the threshold-gated driver fast path must be
        EXACTLY equal to the distributed join-aggregate loop (integer
        votes, integer min tie-break — no float hazard), including on a
        node table with isolated nodes and endpoints outside it."""
        import random

        from drug_target_discovery_spark.graph.algorithms import (
            label_propagation,
        )

        rng = random.Random(7)
        nodes = list(range(40))
        edge_list = sorted(
            {tuple(sorted(rng.sample(nodes, 2))) for _ in range(90)}
        )
        edges = spark.createDataFrame(edge_list, "src long, dst long")
        for k in (1, 4):
            fast = {
                r["node"]: r["community"]
                for r in label_propagation(edges, n_iter=k).collect()
            }
            slow = {
                r["node"]: r["community"]
                for r in _lpa_distributed(edges, k).collect()
            }
            assert fast == slow, f"strategy divergence at n_iter={k}"
        # nodes-given path: isolated node 99 keeps its label; endpoint 0
        # excluded from the node table casts no votes and gets no row
        node_df = spark.createDataFrame(
            [(v,) for v in nodes[1:] + [99]], "node long"
        )
        fast = {
            r["node"]: r["community"]
            for r in label_propagation(edges, n_iter=3, nodes=node_df).collect()
        }
        slow = {
            r["node"]: r["community"]
            for r in _lpa_distributed(edges, 3, node_df).collect()
        }
        assert fast == slow
        assert fast[99] == 99 and 0 not in fast


class TestTriangleCounts:
    """Optimization r13: triangle_counts grew the same threshold-gated
    driver twin as CC/PageRank/core/LPA above. Both strategies must be
    exactly equal (integer counts) on any input, including multi-edges."""

    @staticmethod
    def _run(spark, edge_list, node_list, distributed):
        from drug_target_discovery_spark.graph.algorithms import triangle_counts

        edges = spark.createDataFrame(edge_list, "src long, dst long")
        nodes = spark.createDataFrame([(v,) for v in node_list], "node long")
        fn = _triangles_distributed if distributed else triangle_counts
        return {
            r["node"]: (r["n_triangles"], r["degree"])
            for r in fn(edges, nodes).collect()
        }

    def test_matches_networkx_on_random_graph(self, spark, graph_dfs):
        g, _, _ = graph_dfs
        # canonical orientation (src < dst), as the corr-graph builder emits
        edge_list = sorted(tuple(sorted(e)) for e in g.edges())
        node_list = sorted(g.nodes())
        exp = {
            v: (nx.triangles(g, v), g.degree(v)) for v in node_list
        }
        for distributed in (False, True):
            got = self._run(spark, edge_list, node_list, distributed)
            assert got == exp, f"distributed={distributed}"

    def test_multi_edge_multiplicity_parity(self, spark):
        # a duplicated edge must multiply matched triangle paths the same
        # way on BOTH strategies (multiplicity-faithful, not set semantics)
        edge_list = [(0, 1), (1, 2), (0, 2), (0, 2), (2, 3)]
        node_list = [0, 1, 2, 3, 9]
        fast = self._run(spark, edge_list, node_list, False)
        slow = self._run(spark, edge_list, node_list, True)
        assert fast == slow
        # triangle 0-1-2 matched twice via the duplicated (0,2) closure
        assert fast[0] == (2, 3) and fast[1] == (2, 2)
        assert fast[3] == (0, 1) and fast[9] == (0, 0)

    def test_empty_edges_with_nodes(self, spark):
        for distributed in (False, True):
            got = self._run(spark, [], [5], distributed)
            assert got == {5: (0, 0)}, f"distributed={distributed}"


def _next_job_id(spark):
    v = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return int(v) if isinstance(v, int) else int(v.get())


class TestDriverTwinPolicy:
    """One gate (``collected_graph``) picks every driver twin from one
    constant, and caller-known count hints must neither change results
    nor change the selected strategy."""

    def test_no_graph_operator_takes_driver_threshold(self):
        import inspect
        from pathlib import Path

        from drug_target_discovery_spark.graph import centrality
        from drug_target_discovery_spark.queries import graphq

        for fn in (
            ga.connected_components,
            ga.pagerank,
            ga.core_numbers,
            ga.label_propagation,
            ga.triangle_counts,
            centrality.eigenvector_centrality,
            centrality.betweenness_centrality,
            centrality.closeness_centrality,
            centrality.harmonic_centrality,
            centrality.target_scores,
            graphq.adamic_adar_pairs,
        ):
            assert "driver_threshold" not in inspect.signature(fn).parameters, fn.__name__
        pkg = Path(ga.__file__).parents[1]
        named = [
            str(p.relative_to(pkg))
            for p in sorted(pkg.rglob("*.py"))
            if "driver_threshold" in p.read_text()
        ]
        assert named == []

    def test_gate_bounds_edges_and_nodes(self, spark, graph_dfs):
        g, nodes, edges = graph_dfs
        t = ga.DRIVER_TWIN_THRESHOLD
        j0 = _next_job_id(spark)
        # the edge bound holds on the nodes-given paths too
        assert ga.collected_graph(edges, nodes, n_edges=t // 2, n_nodes=1) is None
        assert ga.collected_graph(edges, nodes, n_edges=1, n_nodes=t) is None
        assert ga.collected_graph(edges, None, n_edges=t // 2) is None
        assert _next_job_id(spark) == j0, "a hinted gate must not launch jobs"
        rows, node_list, node_type = ga.collected_graph(edges, None)
        assert len(rows) == len(g.edges())
        assert node_list == sorted(v for v in g if g.degree(v))
        assert node_type == "int"
        _, node_list, _ = ga.collected_graph(edges, nodes)
        assert sorted(node_list) == sorted(g.nodes())

    def test_count_hints_do_not_change_results(self, spark, graph_dfs):
        from drug_target_discovery_spark.graph.algorithms import (
            connected_components,
            core_numbers,
            pagerank,
            triangle_counts,
        )

        g, nodes, edges = graph_dfs
        ne, nn = len(g.edges()), len(g.nodes())

        def rows(df):
            return sorted(map(tuple, df.collect()))

        assert rows(
            connected_components(edges, nodes, n_edges=ne, n_nodes=nn)
        ) == rows(connected_components(edges, nodes))
        assert rows(core_numbers(edges, nodes, n_edges=ne, n_nodes=nn)) == rows(
            core_numbers(edges, nodes)
        )
        assert rows(triangle_counts(edges, nodes, n_edges=ne, n_nodes=nn)) == rows(
            triangle_counts(edges, nodes)
        )
        assert rows(pagerank(edges, nodes, n_edges=ne, n_nodes=nn)) == rows(
            pagerank(edges, nodes)
        )

    def test_count_hints_select_strategy_without_count_jobs(self, spark, graph_dfs):
        # hinted ABOVE the gate -> distributed plan, and the gate itself
        # must launch no jobs (the hints replace the count() actions)
        from drug_target_discovery_spark.graph.algorithms import triangle_counts

        g, nodes, edges = graph_dfs
        exp = {
            v: (nx.triangles(g, v), g.degree(v)) for v in sorted(g.nodes())
        }
        j0 = _next_job_id(spark)
        df = triangle_counts(edges, nodes, n_edges=10**9, n_nodes=10**9)
        assert _next_job_id(spark) == j0, "gating with hints must not launch Spark jobs"
        got = {r["node"]: (r["n_triangles"], r["degree"]) for r in df.collect()}
        assert got == exp


class TestTargetScores:
    def test_int_graph_against_networkx_and_empty(self, spark, graph_dfs):
        # the three centralities, their min-max and the composite mean
        # against networkx; INT ids stay INT, and an empty node table
        # gives an empty result of the same schema
        from drug_target_discovery_spark.graph.centrality import target_scores

        g, nodes, edges = graph_dfs
        cols = [
            "degree_centrality",
            "betweenness_centrality",
            "eigenvector_centrality",
            "composite_score",
        ]
        dtypes = [("node", "int")] + [(c, "double") for c in cols]
        out = target_scores(edges, nodes)
        assert out.dtypes == dtypes
        got = {r["node"]: r for r in out.collect()}

        def scale(d):
            lo, hi = min(d.values()), max(d.values())
            return {k: (0.0 if hi == lo else (v - lo) / (hi - lo)) for k, v in d.items()}

        raw = [
            nx.degree_centrality(g),
            nx.betweenness_centrality(g, normalized=True),
            nx.eigenvector_centrality(g, max_iter=1000, tol=1e-6),
        ]
        scaled = [scale(d) for d in raw]
        assert set(got) == set(g.nodes())
        for v in g:
            exp = [d[v] for d in raw] + [sum(s[v] for s in scaled) / 3]
            for c, e in zip(cols, exp):
                assert got[v][c] == pytest.approx(e, abs=1e-9), (v, c)

        empty = target_scores(edges, nodes.limit(0))
        assert empty.dtypes == dtypes and empty.collect() == []
