"""Centrality parity vs networkx (the reference's graph engine,
pipeline2.py:747-749) on random graphs — SURVEY §5 test strategy #4."""

import networkx as nx
import numpy as np
import pytest
from pyspark.sql import functions as F

from drug_target_discovery_spark.graph.centrality import (
    _eigenvector_distributed,
    betweenness_centrality,
    degree_centrality,
    eigenvector_centrality,
)


@pytest.fixture(scope="module")
def graph_dfs(spark):
    rng = np.random.RandomState(42)
    g = nx.gnm_random_graph(60, 150, seed=42)
    # add two isolated nodes to exercise the zero paths
    g.add_nodes_from([100, 101])
    edges = [(min(u, v), max(u, v)) for u, v in g.edges()]
    edges_df = spark.createDataFrame(edges, "src INT, dst INT")
    nodes_df = spark.createDataFrame([(n,) for n in g.nodes()], "node INT")
    return g, nodes_df, edges_df


def _collect(df, col):
    return {r["node"]: r[col] for r in df.collect()}


class TestCentralities:
    def test_degree(self, spark, graph_dfs):
        g, nodes, edges = graph_dfs
        got = _collect(degree_centrality(edges, nodes), "degree_centrality")
        expected = nx.degree_centrality(g)
        assert set(got) == set(expected)
        for n, v in expected.items():
            assert got[n] == pytest.approx(v, rel=1e-12), n

    def test_eigenvector(self, spark, graph_dfs):
        g, nodes, edges = graph_dfs
        # networkx requires a connected computation; isolated nodes converge
        # to 0 mass in (I+A) iteration — compare on the giant component
        got = _collect(eigenvector_centrality(edges, nodes, max_iter=1000, tol=1e-6),
                       "eigenvector_centrality")
        expected = nx.eigenvector_centrality(g, max_iter=1000)
        for n, v in expected.items():
            if v > 1e-9:
                assert got[n] == pytest.approx(v, abs=1e-4), n

    def test_betweenness(self, spark, graph_dfs):
        g, nodes, edges = graph_dfs
        got = _collect(betweenness_centrality(edges, nodes), "betweenness_centrality")
        expected = nx.betweenness_centrality(g, normalized=True)
        assert set(got) == set(expected)
        for n, v in expected.items():
            assert got[n] == pytest.approx(v, abs=1e-12), n

    def test_eigenvector_distributed_path(self, spark):
        # the join-aggregate variant on a fast-converging graph must match
        # networkx and the driver path, INT node ids kept on both
        g = nx.complete_graph(6)
        edges = spark.createDataFrame(list(g.edges()), "src INT, dst INT")
        nodes = spark.createDataFrame([(n,) for n in g.nodes()], "node INT")
        dist = _eigenvector_distributed(edges, nodes, 6, max_iter=100, tol=1e-6)
        drv = eigenvector_centrality(edges, nodes, max_iter=100, tol=1e-6)
        assert drv.dtypes == dist.dtypes == [("node", "int"), ("eigenvector_centrality", "double")]
        got = _collect(dist, "eigenvector_centrality")
        drv_got = _collect(drv, "eigenvector_centrality")
        expected = nx.eigenvector_centrality(g, max_iter=1000)
        for n, v in expected.items():
            assert got[n] == pytest.approx(v, abs=1e-6)
            assert got[n] == pytest.approx(drv_got[n], rel=1e-9)

    def test_betweenness_path_graph(self, spark):
        # P4: known closed-form betweenness (middle nodes carry all paths)
        edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src INT, dst INT")
        nodes = spark.createDataFrame([(i,) for i in range(4)], "node INT")
        got = _collect(betweenness_centrality(edges, nodes), "betweenness_centrality")
        expected = nx.betweenness_centrality(nx.path_graph(4))
        for n, v in expected.items():
            assert got[n] == pytest.approx(v, abs=1e-12)


class TestCorrGraphPipeline:
    def test_network_target_scores_against_networkx(self, spark):
        """End-to-end G1->scores at sf0.001 vs a networkx recomputation
        from the engine's own edge list."""
        from drug_target_discovery_spark.queries.graphq import (
            _corr_graph,
            network_target_scores,
        )

        sf = "/root/testdata/sf0.001"
        nodes, edges = _corr_graph(spark, sf)
        node_list = [r["node"] for r in nodes.collect()]
        edge_list = [(r["src"], r["dst"]) for r in edges.select("src", "dst").collect()]
        g = nx.Graph()
        g.add_nodes_from(node_list)
        g.add_edges_from(edge_list)

        dc = nx.degree_centrality(g)
        bc = nx.betweenness_centrality(g, normalized=True)
        try:
            ec = nx.eigenvector_centrality(g, max_iter=1000, tol=1e-6)
        except nx.PowerIterationFailedConvergence:
            pytest.skip("networkx itself fails to converge on this graph")

        def scale(d):
            vals = np.array(list(d.values()))
            lo, hi = vals.min(), vals.max()
            return {k: (0.0 if hi == lo else (v - lo) / (hi - lo)) for k, v in d.items()}

        dcs, bcs, ecs = scale(dc), scale(bc), scale(ec)
        expected = {n: (dcs[n] + bcs[n] + ecs[n]) / 3 for n in node_list}

        got = {r["node"]: r["composite_score"] for r in network_target_scores(spark, sf).collect()}
        assert set(got) == set(expected)
        for n, v in expected.items():
            assert got[n] == pytest.approx(v, abs=5e-4), n

    def test_node_table_reads_without_a_job(self, spark):
        """The memo's node table is a local relation: collecting it runs
        no Spark job (counted per job group, as perfbench/trace.py counts
        a stage)."""
        from drug_target_discovery_spark.queries.graphq import _corr_graph

        nodes, _ = _corr_graph(spark, "/root/testdata/sf0.001")
        sc = spark.sparkContext
        group = "corr-graph-node-table"
        sc.setJobGroup(group, group)
        try:
            assert nodes.collect()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0


class TestAdamicAdar:
    def test_parity_vs_networkx(self, spark, graph_dfs):
        from drug_target_discovery_spark.queries.graphq import adamic_adar_pairs

        g, nodes, edges = graph_dfs
        got = {
            (r["u"], r["w"]): (r["n_common"], r["s_q"] / 1e6)
            for r in adamic_adar_pairs(
                edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            ).collect()
        }
        # networkx scores every non-adjacent pair incl. zero-common ones;
        # the operator only emits pairs with >= 1 common neighbor
        expected = {
            (min(u, v), max(u, v)): s
            for u, v, s in nx.adamic_adar_index(g)
            if s > 0
        }
        assert set(got) == set(expected)
        for pair, s in expected.items():
            n_common, score = got[pair]
            # per-term micro-unit quantization: error <= n_common * 5e-7
            assert abs(score - s) <= n_common * 5e-7 + 1e-12, pair

    def test_adjacent_pairs_excluded(self, spark, graph_dfs):
        from drug_target_discovery_spark.queries.graphq import adamic_adar_pairs

        g, nodes, edges = graph_dfs
        scored = {
            (r["u"], r["w"])
            for r in adamic_adar_pairs(
                edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            ).collect()
        }
        existing = {(min(u, v), max(u, v)) for u, v in g.edges()}
        assert not (scored & existing)

    def test_driver_equals_distributed(self, spark, graph_dfs):
        # the r6 driver fast path must be EXACTLY the distributed wedge
        # join's answer — same integer quantization, same pair set
        from drug_target_discovery_spark.queries.graphq import (
            _adamic_adar_distributed,
            adamic_adar_pairs,
        )

        g, nodes, edges = graph_dfs
        can = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        drv = {
            (r["u"], r["w"]): (r["n_common"], r["s_q"])
            for r in adamic_adar_pairs(can).collect()
        }
        dist = {
            (r["u"], r["w"]): (r["n_common"], r["s_q"])
            for r in _adamic_adar_distributed(can).collect()
        }
        assert drv == dist


class TestCloseness:
    def test_parity_vs_networkx(self, spark, graph_dfs):
        from drug_target_discovery_spark.graph.centrality import (
            closeness_centrality,
        )

        g, nodes, edges = graph_dfs
        got = _collect(closeness_centrality(edges, nodes), "closeness_centrality")
        expected = nx.closeness_centrality(g)
        assert set(got) == set(expected)
        for n_, v in expected.items():
            assert got[n_] == pytest.approx(v, rel=1e-12), n_


class TestHarmonic:
    def test_parity_vs_networkx(self, spark, graph_dfs):
        from drug_target_discovery_spark.graph.centrality import (
            harmonic_centrality,
        )

        g, nodes, edges = graph_dfs
        got = _collect(harmonic_centrality(edges, nodes), "harmonic_centrality")
        expected = nx.harmonic_centrality(g)
        assert set(got) == set(expected)
        for n_, v in expected.items():
            assert got[n_] == pytest.approx(v, rel=1e-12), n_
        # the fixture's isolated nodes score exactly 0 (no reachable peers)
        assert got[100] == 0.0 and got[101] == 0.0
