"""Numeric parity tests for the statistical kernels (SURVEY §5.2).

scipy/statsmodels are not runtime dependencies, so references are
closed-form t-distribution cases (df=1 Cauchy, df=2 algebraic) and a
pure-numpy BH implementation.
"""

import math

import numpy as np
import pandas as pd
import pytest

from drug_target_discovery_spark.functions.stats import (
    bh_fdr,
    bh_fdr_scalable,
    t_sf_numpy,
    welch_t_stats,
    zscore,
)


# ---------------------------------------------------------------------------
# Student-t two-sided p-value
# ---------------------------------------------------------------------------
class TestTSF:
    def test_df1_cauchy_closed_form(self):
        # two-sided p for df=1: 1 - (2/pi) * atan(|t|)
        for t in [0.0, 0.5, 1.0, 2.0, 5.0, 10.0]:
            expected = 1.0 - (2.0 / math.pi) * math.atan(abs(t))
            got = float(t_sf_numpy(np.array([t]), np.array([1.0]))[0])
            assert got == pytest.approx(expected, rel=1e-10), t

    def test_df2_closed_form(self):
        # two-sided p for df=2: 1 - |t| / sqrt(t^2 + 2)
        for t in [0.0, 0.7, 1.5, 2.0, 4.0]:
            expected = 1.0 - abs(t) / math.sqrt(t * t + 2.0)
            got = float(t_sf_numpy(np.array([t]), np.array([2.0]))[0])
            assert got == pytest.approx(expected, rel=1e-10), t

    def test_symmetry_and_monotonicity(self):
        df = np.full(100, 7.3)
        ts = np.linspace(0.01, 8, 100)
        p_pos = t_sf_numpy(ts, df)
        p_neg = t_sf_numpy(-ts, df)
        assert np.allclose(p_pos, p_neg)
        assert np.all(np.diff(p_pos) < 0)  # strictly decreasing in |t|
        assert float(t_sf_numpy(np.array([0.0]), np.array([7.3]))[0]) == pytest.approx(1.0)

    def test_large_df_approaches_normal(self):
        # t(inf) == normal: two-sided p at 1.959964 ~ 0.05
        got = float(t_sf_numpy(np.array([1.959964]), np.array([1e8]))[0])
        assert got == pytest.approx(0.05, abs=1e-4)


# ---------------------------------------------------------------------------
# BH-FDR
# ---------------------------------------------------------------------------
def bh_numpy(p: np.ndarray) -> np.ndarray:
    """Reference BH implementation (statsmodels fdr_bh semantics)."""
    p = np.asarray(p, dtype=float)
    mask = ~np.isnan(p)
    pv = p[mask]
    m = len(pv)
    order = np.argsort(pv, kind="mergesort")
    ranked = pv[order] * m / np.arange(1, m + 1)
    adj = np.minimum.accumulate(ranked[::-1])[::-1]
    adj = np.minimum(adj, 1.0)
    out = np.full_like(p, np.nan)
    out[np.where(mask)[0][order]] = adj
    return out


class TestBH:
    @pytest.fixture(scope="class")
    def pdata(self):
        rng = np.random.RandomState(7)
        p = rng.uniform(0, 1, 500)
        p[rng.choice(500, 30, replace=False)] = np.nan
        p[:20] = rng.uniform(0, 1e-4, 20)  # a significant cluster
        p[100:104] = 0.42  # exact ties
        return p

    def _run(self, spark, p, fn):
        df = spark.createDataFrame(
            pd.DataFrame({"gene": np.arange(len(p)), "pvalue": p})
        )
        out = fn(df, "pvalue", "adj").toPandas().sort_values("gene")
        return out["adj"].to_numpy()

    def test_matches_numpy_reference(self, spark, pdata):
        got = self._run(spark, pdata, bh_fdr)
        expected = bh_numpy(pdata)
        assert np.allclose(got, expected, rtol=1e-12, equal_nan=True)

    def test_scalable_variant_matches(self, spark, pdata):
        got = self._run(spark, pdata, lambda df, p, o: bh_fdr_scalable(df, p, o, partitions=7))
        expected = bh_numpy(pdata)
        assert np.allclose(got, expected, rtol=1e-12, equal_nan=True)

    @pytest.fixture(scope="class")
    def big_p(self, spark):
        """>=10^5-row p-table with NULLs and hash-collision ties, built
        distributed (spark.range) so the input spans many partitions."""
        from pyspark.sql import functions as F

        return spark.range(120_000).select(
            F.col("id").alias("gene"),
            F.expr(
                "CASE WHEN id % 97 = 0 THEN CAST(NULL AS DOUBLE) "
                "ELSE ((id * 2654435761) % 49999) / 49999e0 END"
            ).alias("pvalue"),
        )

    def test_scalable_exactly_equals_window_variant_at_1e5(self, spark, big_p):
        """The designed 100x-cardinality path must be EXACTLY the single-
        partition window program, value for value (not just allclose): both
        compute p * m / r in the same double order."""
        a = bh_fdr(big_p, "pvalue", "adj").toPandas().sort_values("gene").reset_index(drop=True)
        b = (
            bh_fdr_scalable(big_p, "pvalue", "adj", partitions=32)
            .toPandas()
            .sort_values("gene")
            .reset_index(drop=True)
        )
        assert len(a) == len(b) == 120_000
        assert a["gene"].equals(b["gene"])
        av, bv = a["adj"].to_numpy(), b["adj"].to_numpy()
        nan_a, nan_b = np.isnan(av), np.isnan(bv)
        assert (nan_a == nan_b).all()
        assert (av[~nan_a] == bv[~nan_b]).all(), "scalable BH diverges from bh_fdr"

    def test_static_boundaries_exactly_equal_sampled(self, spark, big_p):
        """Optimization r14: a caller-supplied static boundary grid must be
        value-for-value identical to the sampled-boundary path AND to
        bh_fdr — correctness is boundary-independent (ranks are exact
        per-bucket row_numbers + counted offsets for any deterministic
        value->bucket function). The grid here is deliberately UNBALANCED
        (skewed toward 0) to prove independence, not just balance."""
        import numpy as np

        a = bh_fdr(big_p, "pvalue", "adj").toPandas().sort_values("gene").reset_index(drop=True)
        b = (
            bh_fdr_scalable(
                big_p, "pvalue", "adj", partitions=32,
                boundaries=[0.001, 0.01, 0.05, 0.1, 0.3, 0.5, 0.9],
            )
            .toPandas()
            .sort_values("gene")
            .reset_index(drop=True)
        )
        av, bv = a["adj"].to_numpy(), b["adj"].to_numpy()
        nan_a, nan_b = np.isnan(av), np.isnan(bv)
        assert (nan_a == nan_b).all()
        assert (av[~nan_a] == bv[~nan_b]).all(), "static-boundary BH diverges"

    def test_scalable_plan_has_no_single_partition_exchange(self, spark, big_p):
        """Plan shape: bh_fdr's global windows hit Exchange SinglePartition
        (fine at post-aggregation cardinality); the scalable variant must
        never funnel the fact table through one partition."""
        small_plan = (
            bh_fdr(big_p, "pvalue", "adj")._jdf.queryExecution().executedPlan().toString()
        )
        assert "SinglePartition" in small_plan  # positive control
        big_plan = (
            bh_fdr_scalable(big_p, "pvalue", "adj", partitions=32)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SinglePartition" not in big_plan, big_plan

    def test_window_plan_is_one_exchange_no_cache_no_union(self, spark, big_p):
        """Plan shape: bh_fdr is one window program: the count, the rank
        and the running minimum share one single-partition exchange, with
        no cache of its input and no union of a NULL branch."""
        from drug_target_discovery_spark.caching import release_caches

        release_caches()  # bh_fdr_scalable's scoped cache of the same input
        plan = bh_fdr(big_p, "pvalue", "adj")._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange SinglePartition") == 1, plan
        assert "InMemoryRelation" not in plan and "Union" not in plan, plan


# ---------------------------------------------------------------------------
# z-score (ddof=0) and Welch sufficient statistics
# ---------------------------------------------------------------------------
class TestZscoreWelch:
    def test_zscore_population_ddof(self, spark):
        rng = np.random.RandomState(3)
        pdf = pd.DataFrame(
            {
                "g": np.repeat(["a", "b", "c"], 20),
                "v": np.concatenate([rng.normal(5, 2, 20), rng.normal(-1, 0.5, 20), np.full(20, 3.0)]),
            }
        )
        out = zscore(spark.createDataFrame(pdf), "g", "v").toPandas()
        for g, grp in pdf.groupby("g"):
            vals = grp["v"].to_numpy()
            sd = vals.std(ddof=0)  # sklearn StandardScaler convention
            expected = np.zeros_like(vals) if sd == 0 else (vals - vals.mean()) / sd
            got = out[out.g == g].sort_index()["zscore"].to_numpy()
            assert np.allclose(np.sort(got), np.sort(expected), rtol=1e-12)

    def test_welch_formulas(self, spark):
        rng = np.random.RandomState(11)
        case = rng.normal(10, 3, 25)
        control = rng.normal(8, 5, 15)
        pdf = pd.DataFrame(
            {
                "g": ["x"] * 40,
                "v": np.concatenate([case, control]),
                "cond": ["case"] * 25 + ["control"] * 15,
            }
        )
        row = (
            welch_t_stats(spark.createDataFrame(pdf), "g", "v", "cond")
            .toPandas()
            .iloc[0]
        )
        v1, v2 = case.var(ddof=1), control.var(ddof=1)
        n1, n2 = len(case), len(control)
        se2 = v1 / n1 + v2 / n2
        t_expected = (case.mean() - control.mean()) / math.sqrt(se2)
        df_expected = se2**2 / ((v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1))
        assert row["t_stat"] == pytest.approx(t_expected, rel=1e-12)
        assert row["t_df"] == pytest.approx(df_expected, rel=1e-12)
        assert row["log2fc"] == pytest.approx(case.mean() - control.mean(), rel=1e-12)

    def test_welch_zero_variance_null(self, spark):
        pdf = pd.DataFrame(
            {"g": ["x"] * 8, "v": [2.0] * 8, "cond": ["case"] * 4 + ["control"] * 4}
        )
        row = welch_t_stats(spark.createDataFrame(pdf), "g", "v", "cond").toPandas().iloc[0]
        assert pd.isna(row["t_stat"])  # reference NaN path, pipeline2.py:602-603
        assert pd.isna(row["t_df"])

    def test_welch_single_sample_group_null(self, spark):
        pdf = pd.DataFrame(
            {"g": ["x"] * 5, "v": [1.0, 2.0, 3.0, 4.0, 9.0], "cond": ["case"] * 4 + ["control"]}
        )
        row = welch_t_stats(spark.createDataFrame(pdf), "g", "v", "cond").toPandas().iloc[0]
        assert pd.isna(row["t_stat"])
