"""Lloyd k-means: the fixture VALUES oracle pins sf0.01; these tests pin
(a) the sf0.001 result against the generator's independent numpy
implementation and (b) partition-invariance — the exactness contract says
batching must not change a single digit."""

import os
import sys

import numpy as np

from drug_target_discovery_spark.queries.registry import all_queries
from drug_target_discovery_spark.sources.tables import load_table

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

SF = "/root/testdata/sf0.001"


def _numpy_expected(spark):
    from gen_kmeans_oracle import K, ITERS, S, numpy_lloyd

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding").toPandas()
    ids = emb.vec_id.to_numpy(dtype=np.int64)
    V = np.stack(emb.embedding.map(lambda a: np.asarray(a, dtype=np.float64)))
    V_int = np.floor(V * S + 0.5).astype(np.int64)
    return numpy_lloyd(V_int, ids, K, ITERS)  # (summary_rows, silhouette_rows)


class TestKmeansLloyd:
    def test_matches_independent_numpy(self, spark):
        rows = all_queries()["kmeans_lloyd_clusters"].fn(spark, SF).collect()
        got = [(r["cluster_id"], r["n_members"], r["centroid_norm_micro"]) for r in rows]
        assert got == _numpy_expected(spark)[0]

    def test_partition_invariance(self, spark):
        from drug_target_discovery_spark.operators.kmeans import (
            final_assignment,
            lloyd_iterations,
            quantize_embeddings,
        )

        emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
        a = quantize_embeddings(emb.repartition(1))
        b = quantize_embeddings(emb.repartition(13))
        ca = lloyd_iterations(a, 4, 3)
        cb = lloyd_iterations(b, 4, 3)
        assert ca == cb  # exact float equality: int sums are order-free
        la = {r["vid"]: r["cluster"] for r in final_assignment(a, ca).collect()}
        lb = {r["vid"]: r["cluster"] for r in final_assignment(b, cb).collect()}
        assert la == lb


class TestKmeansSilhouette:
    def test_matches_independent_numpy(self, spark):
        """The silhouette query at sf0.001 against the generator's
        independent numpy derivation on the same data — exact equality
        (micro-quantized per-point scores, integer per-cluster sums)."""
        rows = all_queries()["kmeans_silhouette_by_cluster"].fn(spark, SF).collect()
        got = [
            (r["cluster_id"], r["n_members"], r["mean_silhouette"]) for r in rows
        ]
        exp = [(j, n, m) for j, n, m, _raw in _numpy_expected(spark)[1]]
        assert got == exp

    def test_scores_are_valid_silhouettes(self, spark):
        rows = all_queries()["kmeans_silhouette_by_cluster"].fn(spark, SF).collect()
        assert len(rows) == 8
        assert sum(r["n_members"] for r in rows) == load_table(
            spark, SF, "embeddings"
        ).count()
        for r in rows:
            if r["n_members"]:
                # simplified silhouette is bounded in [-1, 1]; a converged
                # Lloyd model on separated synthetic clusters should score
                # positive on average
                assert -1.0 <= r["mean_silhouette"] <= 1.0


class TestLloydMemo:
    def test_sweep_scoped_sharing_and_release(self, spark):
        """kmeans_lloyd_clusters and the silhouette rider share ONE
        training run per sweep; releasing fixtures clears the memo so a
        later sweep retrains cleanly."""
        from drug_target_discovery_spark import caching
        from drug_target_discovery_spark.caching import release_caches
        from drug_target_discovery_spark.queries.similarity import _lloyd_cached

        def lloyd_memos():
            return [k for k in caching._MEMO if k[0] == "similarity.lloyd"]

        release_caches(fixtures=True)
        assert not lloyd_memos()
        a = _lloyd_cached(spark, SF)
        b = _lloyd_cached(spark, SF)
        assert a is b  # second consumer reuses the trained model
        assert len(lloyd_memos()) == 1
        release_caches(fixtures=True)
        assert not lloyd_memos()  # memo cleared: next sweep retrains
