"""Cache lifecycle: a sweep over the cache-heavy registry queries must not
leak persistent RDDs once the harness releases both tiers (VERDICT r1 #8).

Asserted as a DELTA against the session's pre-existing persistent RDDs so
the check is independent of other test modules' fixtures."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from drug_target_discovery_spark import caching
from drug_target_discovery_spark.caching import (
    fixture_checkpoint,
    release_caches,
    scoped_cache,
)
from drug_target_discovery_spark.graph.algorithms import (
    _cc_distributed,
    _core_distributed,
    _lpa_distributed,
    _pagerank_distributed,
)
from drug_target_discovery_spark.graph.centrality import _eigenvector_distributed
from drug_target_discovery_spark.queries.registry import all_queries
from drug_target_discovery_spark.queries.round9 import bpe_top_merges
from drug_target_discovery_spark.queries.round12 import bpe_top_merges_batched

SF = "/root/testdata/sf0.001"

# every query family that routes something through cache()/localCheckpoint
CACHE_HEAVY = [
    "ngram_jaccard_near_dups",      # operators/dedup shingle diamond
    "minhash_signatures",           # shared signature fixture
    "lsh_candidate_pairs",
    "near_dup_groups",              # scoped candidate cache
    "connected_components_near_dups",  # union-find / label propagation
    "bh_fdr_adjust",                # one single-partition window program
    "corr_edges_top_parts",         # shared graph fixture
    "eigenvector_centrality_corr_graph",
    "mllib_minhash_neardups",       # MLlib staged cache
]


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


class TestCacheLifecycle:
    def test_scoped_cache_releases(self, spark):
        """Each tier's release frees its storage for real and counts only
        what it freed: a scoped cache on ``release_caches()``, a
        checkpointed fixture (which ``DataFrame.unpersist`` cannot free) on
        ``release_caches(fixtures=True)``."""
        release_caches(fixtures=True)
        for persist, fixtures in ((scoped_cache, False), (fixture_checkpoint, True)):
            before = _persistent_ids(spark)
            df = persist(spark.range(100).select(F.col("id") * 2))
            df.count()
            assert len(_persistent_ids(spark)) > len(before)
            released = release_caches(fixtures=fixtures)
            assert released == 1
            assert _persistent_ids(spark) <= before
            assert release_caches(fixtures=fixtures) == 0  # nothing left

    def test_registry_sweep_leaves_no_new_persistent_rdds(self, spark):
        before = _persistent_ids(spark)
        reg = all_queries()
        for name in CACHE_HEAVY:
            assert name in reg, name
            reg[name].fn(spark, SF).write.format("noop").mode("overwrite").save()
            release_caches()  # per-query tier, as bench.py does
        release_caches(fixtures=True)  # sweep tier, as bench.py does
        leaked = _persistent_ids(spark) - before
        assert not leaked, f"leaked persistent RDD ids: {leaked}"

    def test_fixture_memo_rebuilds_after_release(self, spark):
        """Releasing fixtures clears the memo dicts — a later call must
        rebuild (not serve a dangling unpersisted frame) and still be
        correct."""
        reg = all_queries()
        a = reg["corr_edges_top_parts"].fn(spark, SF).toPandas()
        release_caches(fixtures=True)
        b = reg["corr_edges_top_parts"].fn(spark, SF).toPandas()
        key = ["g1", "g2"]
        assert a.sort_values(key).reset_index(drop=True).equals(
            b.sort_values(key).reset_index(drop=True)
        )
        release_caches(fixtures=True)


def _graph(spark):
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4)], "src INT, dst INT"
    )
    nodes = spark.createDataFrame([(i,) for i in range(5)], "node INT")
    return edges, nodes


# the seven driver-looped fixpoints, graph loops on their distributed plans
LOOPS = {
    "cc": lambda s: _cc_distributed(*_graph(s)),
    "pagerank": lambda s: _pagerank_distributed(*_graph(s), 5),
    "core": lambda s: _core_distributed(*_graph(s)),
    "lpa": lambda s: _lpa_distributed(_graph(s)[0], 3, _graph(s)[1]),
    "eigenvector": lambda s: _eigenvector_distributed(*_graph(s), 5),
    "bpe": lambda s: bpe_top_merges(s, SF, k=8),
    "bpe_batched": lambda s: bpe_top_merges_batched(s, SF, k=8),
}


@pytest.mark.parametrize("loop", list(LOOPS))
def test_loop_generations_are_freed_by_release(spark, loop):
    """Every driver-looped fixpoint frees its superseded generations and
    registers the survivor: after the query-scoped release no persistent
    RDD of the loop is left, and the release counted what it freed."""
    release_caches()
    before = _persistent_ids(spark)
    LOOPS[loop](spark).collect()
    released = release_caches()
    leaked = _persistent_ids(spark) - before
    assert not leaked, f"leaked persistent RDD ids: {leaked}"
    assert released >= 1


@pytest.mark.parametrize("fails_in", ["step", "converged"])
def test_generations_free_live_frames_when_the_loop_raises(spark, fails_in):
    """An exception in ``step`` or in the stop test leaves no generation
    holding storage and nothing registered for release."""
    release_caches()
    before = _persistent_ids(spark)
    calls = []

    def step(df):
        calls.append(1)
        if fails_in == "step" and len(calls) == 2:
            raise ValueError("step")
        return df.select((F.col("id") + 1).alias("id"))

    def converged(new, old):
        if fails_in == "converged" and len(calls) == 2:
            raise ValueError("converged")
        return False

    with pytest.raises(ValueError, match=fails_in):
        caching.generations(spark.range(10), step, 5, converged)
    assert _persistent_ids(spark) <= before
    assert release_caches() == 0


def test_local_checkpoint_only_in_caching():
    """caching.py owns every lineage cut: no other package file calls
    ``localCheckpoint`` directly."""
    pkg = Path(caching.__file__).parent
    offenders = [
        str(p.relative_to(pkg))
        for p in sorted(pkg.rglob("*.py"))
        if p != pkg / "caching.py" and "localCheckpoint(" in p.read_text()
    ]
    assert not offenders, offenders


class TestLoadTablePlanMemo:
    """The lazy-PLAN memo in sources.tables (optimization r13): repeated
    load_table calls must return the SAME DataFrame object (skipping the
    per-call file listing + footer schema read) without caching any DATA —
    executions still scan parquet, and releasing sweep fixtures clears the
    memo so a fresh build happens."""

    def test_same_object_and_no_persisted_data(self, spark):
        from drug_target_discovery_spark.sources.tables import load_table

        before = _persistent_ids(spark)
        a = load_table(spark, SF, "lineitem")
        b = load_table(spark, SF, "lineitem")
        assert a is b  # plan object reused
        a.limit(5).collect()
        # no persistent RDDs appear: the memo holds a lazy plan, not data
        assert _persistent_ids(spark) <= before

    def test_fixture_release_clears_plan_memo(self, spark):
        from drug_target_discovery_spark.sources import tables

        a = tables.load_table(spark, SF, "orders")
        release_caches(fixtures=True)
        assert not caching._MEMO
        b = tables.load_table(spark, SF, "orders")
        assert a is not b  # rebuilt after release
        assert a.schema == b.schema

    def test_distinct_dirs_distinct_plans(self, spark):
        from drug_target_discovery_spark.sources.tables import load_table

        a = load_table(spark, SF, "nation")
        b = load_table(spark, "/root/testdata/sf0.01", "nation")
        assert a is not b
        release_caches(fixtures=True)

    def test_rewrite_invalidates_plan(self, spark, tmp_path):
        """Overwriting a table path mid-session must yield a FRESH plan (the
        memoized one captured the old file listing — executing it would hit
        deleted files). Regression for the test_round11_ops overwrite edge;
        the memo keys on the path's (mtime_ns, size) via one local stat."""
        from drug_target_discovery_spark.sources.tables import load_table

        p = str(tmp_path / "t.parquet")
        spark.range(3).write.parquet(p)
        a = load_table(spark, str(tmp_path), "t")
        assert a.count() == 3
        spark.range(7).write.mode("overwrite").parquet(p)
        b = load_table(spark, str(tmp_path), "t")
        assert b is not a
        assert b.count() == 7
        release_caches(fixtures=True)
