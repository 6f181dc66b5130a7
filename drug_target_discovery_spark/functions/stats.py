"""Statistical operators (SURVEY.md §2.6) as composable DataFrame transforms.

Every transform here replaces an eager pandas/scipy construct from the
reference with a declarative Spark program:

- z-score standardization (T1, pipeline2.py:492-494): window over the long
  table, ``stddev_pop`` (sklearn StandardScaler ddof=0 semantics).
- Welch t sufficient statistics (T2, pipeline2.py:598-603): one aggregate
  pass computes (n, mean, var) per group per key — all keys in one shuffle,
  replacing the reference's per-gene Python loop; ``welch_t`` is the t/df
  formula over those statistics, wherever they come from.
- Student-t two-sided p-value: vectorized numpy incomplete-beta inside an
  Arrow-batched pandas_udf (scipy is deliberately not a dependency).
- Benjamini-Hochberg FDR (T3, pipeline2.py:619-627): rank + reverse running
  min as window functions. NOTE the global windows are single-partition; fine
  up to ~10^7 keys (the p-value table is post-aggregation, tiny relative to
  the fact data). The two-pass range-partitioned variant is
  ``bh_fdr_scalable`` below for cardinalities beyond that.
- Min-max scaling (T4, pipeline2.py:759-763): global min/max windows with the
  sklearn constant-column -> 0 convention.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

# ---------------------------------------------------------------------------
# T1: z-score standardization over a long table
# ---------------------------------------------------------------------------


def zscore(df: DataFrame, key: str, value: str, out: str = "zscore") -> DataFrame:
    """Per-key z-score across the key's rows: (v - mean) / stddev_pop.

    Population stddev (ddof=0) mirrors sklearn's StandardScaler used by the
    reference (pipeline2.py:492-494). Constant groups (stddev 0) -> 0.0,
    sklearn's convention. One shuffle (window partitioned by key).
    """
    w = W.partitionBy(key)
    mu = F.avg(value).over(w)
    sd = F.stddev_pop(value).over(w)
    return df.withColumn(
        out, F.when(sd == 0.0, F.lit(0.0)).otherwise((F.col(value) - mu) / sd)
    )


# ---------------------------------------------------------------------------
# T2: Welch's t-test from sufficient statistics
# ---------------------------------------------------------------------------


def welch_t_stats(
    df: DataFrame,
    key: str,
    value: str,
    condition: str,
    case_label: str = "case",
    control_label: str = "control",
    value_scale: int | None = None,
) -> DataFrame:
    """Welch t statistic + Satterthwaite df per key, in ONE aggregation pass.

    Returns (key, n_case, n_control, mean_case, mean_control, log2fc,
    t_stat, t_df). Keys where either group has <2 rows or both variances are
    zero get NULL t (mirrors the reference's NaN on scipy failure,
    pipeline2.py:602-603). log2fc = mean_case - mean_control
    (pipeline2.py:596 — values are already log2-scale).

    ``value_scale``: when the values live on a decimal lattice (prices in
    cents -> 100), group means are computed from EXACT int64 sums of the
    scaled values instead of float avg. Float sums are summation-order
    dependent, and Spark's partial-aggregate merge order is not
    deterministic across runs — a mean landing within 1 ulp of a rounding
    boundary (which lattice data does: means of .XX25-lattice prices
    produce true .XXXX5 ties) can flip its rounded digit between runs.
    Integer sums make the mean a single exact-operand division:
    bit-identical across runs, engines, and partitionings.
    """
    is_case = F.col(condition) == case_label
    is_control = F.col(condition) == control_label
    v = F.col(value)
    if value_scale is not None:
        vi = F.round(v * value_scale).cast("long")
        # denominator counts NON-NULL values (count over vi, not the row
        # predicate) so NULL cells are excluded from the mean exactly as
        # F.avg excludes them — the two paths must agree on any input
        mean_case = F.sum(F.when(is_case, vi)).cast("double") / (
            F.count(F.when(is_case, vi)) * float(value_scale)
        )
        mean_control = F.sum(F.when(is_control, vi)).cast("double") / (
            F.count(F.when(is_control, vi)) * float(value_scale)
        )
    else:
        mean_case = F.avg(F.when(is_case, v))
        mean_control = F.avg(F.when(is_control, v))
    agg = df.groupBy(key).agg(
        F.count(F.when(is_case, 1)).alias("n_case"),
        F.count(F.when(is_control, 1)).alias("n_control"),
        mean_case.alias("mean_case"),
        mean_control.alias("mean_control"),
        F.var_samp(F.when(is_case, v)).alias("var_case"),
        F.var_samp(F.when(is_control, v)).alias("var_control"),
    )
    t_stat, t_df = welch_t(
        *(F.col(c) for c in ("n_case", "n_control", "mean_case", "mean_control",
                             "var_case", "var_control"))
    )
    return agg.select(
        key,
        "n_case",
        "n_control",
        "mean_case",
        "mean_control",
        (F.col("mean_case") - F.col("mean_control")).alias("log2fc"),
        t_stat.alias("t_stat"),
        t_df.alias("t_df"),
    )


def welch_t(
    n1: Column, n2: Column, mean1: Column, mean2: Column, var1: Column, var2: Column
) -> tuple[Column, Column]:
    """Welch t statistic and Satterthwaite df from two groups' sufficient
    statistics (count, mean, sample variance); both NULL where either group
    has <2 values or both variances are zero."""
    se2 = var1 / n1 + var2 / n2
    valid = (n1 >= 2) & (n2 >= 2) & (se2 > 0) & var1.isNotNull() & var2.isNotNull()
    t_stat = (mean1 - mean2) / F.sqrt(se2)
    t_df = (se2 * se2) / (
        (var1 / n1) ** 2 / (n1 - 1) + (var2 / n2) ** 2 / (n2 - 1)
    )
    return F.when(valid, t_stat), F.when(valid, t_df)


# ---------------------------------------------------------------------------
# Student-t survival function in pure numpy (no scipy in the runtime).
# ---------------------------------------------------------------------------


def _betacf(a: np.ndarray, b: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Continued fraction for the regularized incomplete beta (modified
    Lentz), element-wise over numpy arrays. Standard public-domain numerics
    (Numerical Recipes §6.4 algorithm shape)."""
    FPMIN = 1e-300
    qab = a + b
    qap = a + 1.0
    qam = a - 1.0
    c = np.ones_like(x)
    d = 1.0 - qab * x / qap
    d = np.where(np.abs(d) < FPMIN, FPMIN, d)
    d = 1.0 / d
    h = d.copy()
    for m in range(1, 300):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        d = np.where(np.abs(d) < FPMIN, FPMIN, d)
        c = 1.0 + aa / c
        c = np.where(np.abs(c) < FPMIN, FPMIN, c)
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        d = np.where(np.abs(d) < FPMIN, FPMIN, d)
        c = 1.0 + aa / c
        c = np.where(np.abs(c) < FPMIN, FPMIN, c)
        d = 1.0 / d
        delta = d * c
        h *= delta
        if np.all(np.abs(delta - 1.0) < 3e-14):
            break
    return h


_lgamma = np.vectorize(math.lgamma, otypes=[np.float64])


def betainc_reg(a: np.ndarray, b: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Regularized incomplete beta I_x(a, b), vectorized."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    x = np.asarray(x, dtype=np.float64)
    x = np.clip(x, 0.0, 1.0)
    with np.errstate(divide="ignore", over="ignore", invalid="ignore"):
        ln_front = (
            _lgamma(a + b)
            - _lgamma(a)
            - _lgamma(b)
            + a * np.log(np.where(x > 0, x, 1.0))
            + b * np.log1p(-np.where(x < 1, x, 0.0))
        )
        front = np.exp(ln_front)
        use_direct = x < (a + 1.0) / (a + b + 2.0)
        # continued fraction converges fast on the chosen side; evaluate both
        # sides element-wise and select (vector-friendly, arrays are small)
        direct = front * _betacf(a, b, x) / a
        swapped = 1.0 - front * _betacf(b, a, 1.0 - x) / b
        out = np.where(use_direct, direct, swapped)
    out = np.where(x <= 0.0, 0.0, out)
    out = np.where(x >= 1.0, 1.0, out)
    return np.clip(out, 0.0, 1.0)


def t_sf_numpy(t: np.ndarray, df: np.ndarray) -> np.ndarray:
    """Two-sided p-value P(|T_df| >= |t|) = I_{df/(df+t^2)}(df/2, 1/2)."""
    t = np.asarray(t, dtype=np.float64)
    df = np.asarray(df, dtype=np.float64)
    x = df / (df + t * t)
    return betainc_reg(df / 2.0, np.full_like(df, 0.5), x)


@F.pandas_udf(DoubleType())
def student_t_two_sided_p(t_stat: pd.Series, t_df: pd.Series) -> pd.Series:
    """Arrow-batched two-sided Student-t p-value (replaces
    scipy.stats.ttest_ind's CDF step, pipeline2.py:598-601). NULL-safe."""
    t = t_stat.to_numpy(dtype=np.float64, na_value=np.nan)
    df = t_df.to_numpy(dtype=np.float64, na_value=np.nan)
    mask = np.isnan(t) | np.isnan(df) | (df <= 0)
    safe_t = np.where(mask, 0.0, t)
    safe_df = np.where(mask, 1.0, df)
    p = t_sf_numpy(safe_t, safe_df)
    p = np.where(mask, np.nan, p)
    return pd.Series(p)


# ---------------------------------------------------------------------------
# T3: Benjamini-Hochberg FDR
# ---------------------------------------------------------------------------


def bh_fdr(df: DataFrame, p: str = "pvalue", out: str = "adjusted_pvalue") -> DataFrame:
    """BH-adjusted p-values as one window program (pipeline2.py:619-627).

    adj_i = min(1, min_{j >= i} p_(j) * m / j) over the m valid p ascending.
    A NULL or NaN p gives NULL and is excluded from m (matching
    statsmodels' behavior on the reference's NaN mask).

    Every window is global, so the table passes through one
    single-partition exchange: correct and fine for post-aggregation key
    tables (<=10^7 rows). For larger, see ``bh_fdr_scalable``.
    """
    valid = F.col(p).isNotNull() & ~F.isnan(p)
    # unpartitioned windows bounded: input = the per-gene p-value table
    # (feature-dimension-sized, never the fact); the 2-pass
    # bh_fdr_scalable_adjust is the unbounded-dimension path. NaN sorts
    # above every double and NULLs go last, so the valid p take ranks 1..m.
    w_rank = W.orderBy(F.col(p).asc_nulls_last())
    w_all = w_rank.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    # The textbook suffix-min frame (CURRENT ROW .. UNBOUNDED FOLLOWING) is
    # O(n^2) in Spark's WindowExec (per-row frame rescan). A running min over
    # the unique rank DESCENDING is the O(n) incremental formulation of the
    # exact same quantity (rank is duplicate-free, so tie order cannot change
    # the result).
    w_rev = W.orderBy(F.col("_r").desc()).rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        df.withColumn("_m", F.count(F.when(valid, 1)).over(w_all))
        .withColumn("_r", F.row_number().over(w_rank))
        .withColumn("_raw", F.when(valid, F.col(p) * F.col("_m") / F.col("_r")))
        .withColumn(out, F.when(valid, F.least(F.min("_raw").over(w_rev), F.lit(1.0))))
        .drop("_m", "_r", "_raw")
    )


def bh_fdr_scalable(
    df: DataFrame,
    p: str = "pvalue",
    out: str = "adjusted_pvalue",
    partitions: int = 200,
    boundaries: list[float] | None = None,
) -> DataFrame:
    """BH at extreme cardinality: range-partitioned sort + per-partition
    suffix-min + a second pass folding in the running min from higher
    partitions (SURVEY §4). Same results as ``bh_fdr``; avoids the
    single-partition window.

    Design: assign each row a RANGE BUCKET from approxQuantile boundaries
    embedded as literals — a deterministic expression of the VALUE, so every
    pass of this multi-pass algorithm sees identical bucket assignment.
    (``repartitionByRange`` + ``spark_partition_id`` would NOT work here:
    its sampled boundaries are seeded per-execution, so the rank offsets
    collected in pass 1 could disagree with the partitioning of pass 2.)
    The bucket id is a SUM OF COMPARISONS against the boundary literals —
    whole-stage-codegen'd; the earlier ``aggregate(array(...))``
    higher-order function ran on the interpreted expression path and cost
    ~2x on every consumer of the bucketed frame.

    ONE sort total: rank and suffix-min come out of the SAME descending
    window. Sorting each bucket by p DESC, ``row_number`` plus the
    broadcast count of strictly-higher buckets gives the global descending
    rank _rd, so the ascending rank is ``m - _rd + 1``, and the running
    min over that same descending order IS the suffix min of the ascending
    order. (BH's adjusted values are tie-order invariant as long as rank
    and suffix-min use the same total order — which a single window
    guarantees by construction; pinned exact-equal vs ``bh_fdr`` in
    tests/test_stats.py.) The asc formulation needed a second sort by _r
    desc inside each bucket.

    Multi-pass discipline: four actions (approxQuantile, bucket counts,
    per-bucket tails, the consumer's final job). The reused frames — the
    RAW SOURCE frame (cached once so both the non-null and the null/NaN
    branch read it without rescanning parquet; each pass re-applies the
    cheap null filter over the cached rows) and the ranked/windowed frame —
    are query-scoped caches (MEMORY_AND_DISK, spill-not-OOM), so the sweep
    is 1 source scan and 1 sort. The two tiny per-bucket tables (rank offsets, cross-bucket
    suffix mins) are folded in as map LITERALS (``element_at`` on a
    ``create_map`` of the collected rows) — codegen'd lookups, no join
    operators at all.
    """
    from drug_target_discovery_spark.caching import scoped_cache

    df = scoped_cache(df)
    nn = df.filter(F.col(p).isNotNull() & ~F.isnan(p))
    nulls = df.filter(F.col(p).isNull() | F.isnan(p)).withColumn(
        out, F.lit(None).cast("double")
    )
    # boundaries only balance the buckets — correctness is boundary-
    # independent (rank = per-bucket row_number + offsets, exact either
    # way, and equal values always land in one bucket because the bucket
    # id is a function of the VALUE), so a loose 1% quantile error buys a
    # much cheaper first pass. Callers that KNOW their p distribution
    # (e.g. uniform-by-construction pseudo p-values) may pass static
    # ``boundaries`` and skip the approxQuantile action entirely
    # (optimization r14, guide §8: problem knowledge the optimizer lacks);
    # skew-prone inputs keep the default sampled boundaries.
    qs = (
        list(boundaries)
        if boundaries is not None
        else nn.stat.approxQuantile(
            p, [i / partitions for i in range(1, partitions)], 0.01
        )
    )
    bucket: Column = F.lit(0)
    for b in qs:
        bucket = bucket + F.when(F.col(p) >= F.lit(float(b)), 1).otherwise(0)
    # no explicit repartition: the per-bucket window below induces its own
    # hashpartitioning(_pid) exchange — adding one here would shuffle twice
    ranged = nn.withColumn("_pid", bucket)
    # pass 1: per-bucket counts -> descending-rank offsets (tiny table)
    counts = (
        ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt")).orderBy("_pid").collect()
    )
    m = sum(r["_cnt"] for r in counts)
    higher = {}  # bucket -> #rows in strictly-higher buckets
    acc = 0
    for r in sorted(counts, key=lambda r: -r["_pid"]):
        higher[r["_pid"]] = acc
        acc += r["_cnt"]
    off_kv: list[Column] = []
    for k, v in higher.items():
        off_kv += [F.lit(int(k)), F.lit(int(v))]
    off_at = (
        F.element_at(F.create_map(*off_kv), F.col("_pid")) if off_kv else F.lit(0)
    )
    w = W.partitionBy("_pid").orderBy(F.col(p).desc())
    w_run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    with_rank = scoped_cache(
        ranged.withColumn("_rd", F.row_number().over(w) + off_at)
        .withColumn("_r", F.lit(int(m)) - F.col("_rd") + 1)
        .withColumn("_raw", F.col(p) * F.lit(float(m)) / F.col("_r"))
        .withColumn("_sufmin", F.min("_raw").over(w_run))
    )
    # pass 2: fold in min of all higher-p partitions (tiny per-bucket table)
    tails = (
        with_rank.groupBy("_pid").agg(F.min("_raw").alias("_pmin")).orderBy("_pid").collect()
    )
    suffix = {}
    run = float("inf")
    for r in sorted(tails, key=lambda r: -r["_pid"]):
        suffix[r["_pid"]] = run  # min over strictly-higher partitions
        run = min(run, r["_pmin"])
    suf_kv: list[Column] = []
    for k, v in suffix.items():
        suf_kv += [
            F.lit(int(k)),
            F.lit(float(v)) if v != float("inf") else F.lit(None).cast("double"),
        ]
    suf_at = (
        F.element_at(F.create_map(*suf_kv), F.col("_pid"))
        if suf_kv
        else F.lit(None).cast("double")
    )
    result = (
        with_rank.withColumn(
            out,
            F.least(
                F.least(F.col("_sufmin"), F.coalesce(suf_at, F.lit(float("inf")))),
                F.lit(1.0),
            ),
        )
        .drop("_pid", "_rd", "_r", "_raw", "_sufmin")
    )
    return result.unionByName(nulls)


# ---------------------------------------------------------------------------
# T4: min-max scaling
# ---------------------------------------------------------------------------


def minmax_scale(df: DataFrame, cols: list[str], suffix: str = "_scaled") -> DataFrame:
    """Global min-max scale each column to [0,1]; constant column -> 0.0
    (sklearn MinMaxScaler convention used at pipeline2.py:759-763).

    Implemented as a single agg + broadcast cross-join (no global window):
    one tiny 1-row stats table joined to every row — scales to any
    cardinality.
    """
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        rng = F.col(f"_max_{c}") - F.col(f"_min_{c}")
        out = out.withColumn(
            c + suffix,
            F.when(rng == 0.0, F.lit(0.0)).otherwise((F.col(c) - F.col(f"_min_{c}")) / rng),
        )
    drop = [f"_min_{c}" for c in cols] + [f"_max_{c}" for c in cols]
    return out.drop(*drop)
