"""Similarity-search tier (SURVEY §2.12 [EXT]) over `embeddings`
(vec_id BIGINT, embedding ARRAY<FLOAT>, label INT).

Vector math stays JVM-side: ``zip_with``/``aggregate`` fold the dot product
inside whole-stage codegen (no Python, no UDF). The fold is left-to-right in
both Spark and DuckDB, so doubles match bit-for-bit.

Brute-force top-k is the exactness baseline (O(Q x N) — fine for small Q or
reranking); the IVF-style bucketed variant is the scale path: a deterministic
coarse quantizer (sign bits of leading dimensions) prunes candidates to one
bucket, turning the cross join into a bucket-equi-join — the same plan shape
a 100 TB ANN sweep needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from drug_target_discovery_spark.caching import fixture_cache, fixture_checkpoint, memo
from drug_target_discovery_spark.functions.rounding import rnd, rnd_sql
from drug_target_discovery_spark.queries.registry import register
from drug_target_discovery_spark.sources.tables import load_table

_N_QUERIES = 10  # vec_id < 10 are the query vectors
_TOP_K = 5

# dot(a,b) as a left-to-right fold — identical association in both engines
_DOT_SPARK = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
_NORM_SPARK = "sqrt(aggregate(transform({a}, x -> x * x), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
_DOT_DUCK = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, v) -> acc + v)"
_NORM_DUCK = "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, v) -> acc + v))"


def _emb_double(df: DataFrame, out: str = "emb") -> DataFrame:
    return df.withColumn(out, F.col("embedding").cast("array<double>"))


def _cosine_expr() -> F.Column:
    return (
        F.expr(_DOT_SPARK.format(a="qemb", b="emb"))
        / (F.expr(_NORM_SPARK.format(a="qemb")) * F.expr(_NORM_SPARK.format(a="emb")))
    ).alias("cosine")


# Sweep-scoped memo for the two ranked tables (optimization r13): the
# exact brute-force top-k is the O(Q·N) scoring pass and feeds BOTH
# cosine_topk_bruteforce and ann_recall_eval's ground truth; the IVF
# ranked set feeds ann_ivf_bucketed_topk and ann_recall_eval's candidate
# side. Each memo holds the Q·k-row RESULT (bounded by construction), so
# the scoring pass runs once per sweep instead of once per consumer.
def _ranked_cached(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    def build() -> DataFrame:
        v = _emb_double(load_table(spark, sf_dir, "embeddings")).select(
            "vec_id", "emb"
        )
        fn = exact_cosine_ranked if kind == "exact" else ivf_cosine_ranked
        # checkpoint, not cache: the O(Q*N) scoring lineage otherwise rides
        # inside every consumer plan (optimization r14)
        return fixture_checkpoint(fn(v))

    return memo(spark, "similarity.ranked", build, sf_dir, kind)


def exact_cosine_ranked(v: DataFrame) -> DataFrame:
    """(qid, nbr_id, cosine, rnk) exact brute-force top-{_TOP_K} per query
    vector — the ranked set behind ``cosine_topk_bruteforce`` and the
    ground truth for ``ann_recall_eval``. Unrounded cosine."""
    q = v.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(v)
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", F.col("vec_id").alias("nbr_id"), _cosine_expr())
    )
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _TOP_K
    )


def ivf_cosine_ranked(v: DataFrame) -> DataFrame:
    """(qid, nbr_id, cosine, rnk) IVF-bucketed approximate top-{_TOP_K}:
    the ranked set behind ``ann_ivf_bucketed_topk`` and the candidate
    side of ``ann_recall_eval``. Unrounded cosine."""
    b = v.withColumn("bucket", F.expr(_BUCKET_SPARK))
    q = b.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb"), "bucket"
    )
    scored = (
        F.broadcast(q)
        .join(b, "bucket")
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", F.col("vec_id").alias("nbr_id"), _cosine_expr())
    )
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _TOP_K
    )


# --------------------------------------------------------------------------
# Brute-force cosine top-k
# --------------------------------------------------------------------------
@register(
    "cosine_topk_bruteforce",
    tags=("similarity", "topk"),
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, emb AS qemb FROM v WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.qid, v.vec_id AS nbr_id,
             {_DOT_DUCK.format(a="q.qemb", b="v.emb")}
               / ({_NORM_DUCK.format(a="q.qemb")} * {_NORM_DUCK.format(a="v.emb")})
             AS cosine
      FROM q CROSS JOIN v
      WHERE q.qid <> v.vec_id
    ),
    ranked AS (
      SELECT qid, nbr_id, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nbr_id ASC) AS rnk
      FROM scored
    )
    SELECT qid, nbr_id, {rnd_sql("cosine", 6)} AS cosine, rnk
    FROM ranked WHERE rnk <= {_TOP_K}
    """,
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{_TOP_K} per query vector (brute force): broadcast
    the small query set against all candidates, fold the dot product
    JVM-side, per-query window top-k with deterministic tie-break."""
    return _ranked_cached(spark, sf_dir, "exact").select(
        "qid", "nbr_id", rnd("cosine", 6).alias("cosine"), "rnk"
    )


# --------------------------------------------------------------------------
# IVF-style bucketed ANN (the scale path)
# --------------------------------------------------------------------------
_BUCKET_SPARK = (
    "CAST(CASE WHEN element_at(emb, 1) > 0 THEN 4 ELSE 0 END "
    "+ CASE WHEN element_at(emb, 2) > 0 THEN 2 ELSE 0 END "
    "+ CASE WHEN element_at(emb, 3) > 0 THEN 1 ELSE 0 END AS INT)"
)
_BUCKET_DUCK = (
    "CAST(CASE WHEN emb[1] > 0 THEN 4 ELSE 0 END "
    "+ CASE WHEN emb[2] > 0 THEN 2 ELSE 0 END "
    "+ CASE WHEN emb[3] > 0 THEN 1 ELSE 0 END AS INT)"
)


@register(
    "ann_ivf_bucketed_topk",
    tags=("similarity", "topk"),
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    b AS (SELECT vec_id, emb, {_BUCKET_DUCK} AS bucket FROM v),
    q AS (SELECT vec_id AS qid, emb AS qemb, bucket FROM b WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.qid, b.vec_id AS nbr_id,
             {_DOT_DUCK.format(a="q.qemb", b="b.emb")}
               / ({_NORM_DUCK.format(a="q.qemb")} * {_NORM_DUCK.format(a="b.emb")})
             AS cosine
      FROM q JOIN b USING (bucket)
      WHERE q.qid <> b.vec_id
    ),
    ranked AS (
      SELECT qid, nbr_id, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nbr_id ASC) AS rnk
      FROM scored
    )
    SELECT qid, nbr_id, {rnd_sql("cosine", 6)} AS cosine, rnk
    FROM ranked WHERE rnk <= {_TOP_K}
    """,
)
def ann_ivf_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: a deterministic 8-cell coarse quantizer (sign bits
    of dims 1-3) restricts each query to its own cell — the cross join
    becomes a bucket equi-join. Same recall/cost trade as IVF-nprobe=1;
    swap the quantizer for k-means centroids without changing the plan."""
    return _ranked_cached(spark, sf_dir, "ivf").select(
        "qid", "nbr_id", rnd("cosine", 6).alias("cosine"), "rnk"
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (dedup by vector similarity)
# --------------------------------------------------------------------------
_NEAR_DUP_T = 0.40
_GEMM_BLOCK = 2048  # target rows per GEMM block (block-pair prescreen)


@register(
    "embedding_cosine_near_dups",
    tags=("dedup", "similarity"),
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    -- normalize ONCE per vector (N folds), so each of the N^2/2 pairs costs
    -- a single dot-product fold; element-wise division and the left-to-right
    -- fold are deterministic in both engines, so cosine stays bit-identical
    nrm AS (
      SELECT vec_id, emb, {_NORM_DUCK.format(a="emb")} AS nrm FROM v
    ),
    nv AS (
      SELECT vec_id, list_transform(emb, x -> x / nrm) AS nemb FROM nrm
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_DOT_DUCK.format(a="a.nemb", b="b.nemb")} AS cosine
      FROM nv a JOIN nv b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, {rnd_sql("cosine", 6)} AS cosine
    FROM pairs WHERE cosine > {_NEAR_DUP_T}
    """,
)
def embedding_cosine_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection by embedding cosine: all pairs with
    cosine > {_NEAR_DUP_T}, upper triangle only (id_a < id_b). Exact — and
    at this low threshold an LSH blocker would drop true pairs, so the pair
    space is covered losslessly by BLOCK-PAIR GEMM:

    - vectors are unit-normalized once (JVM fold), hashed into B blocks of
      ~{_GEMM_BLOCK} rows;
    - every block pair (i <= j) becomes one cogrouped task: left = block i,
      right = block j, kernel = one BLAS matmul + threshold (1e-9 slack so
      fold-vs-GEMM drift can't drop a true pair);
    - survivors get the engine-identical left-to-right dot fold, so emitted
      cosines hash-match the DuckDB oracle bit-for-bit.

    Fully distributed: no driver collect, no closure-captured matrix. Each
    vector is shuffled to B+1 tasks, so shuffle volume grows as N·sqrt(N /
    block) while the (unavoidable-for-exact) O(N^2) FLOPs stay inside BLAS.
    On a cluster, B block-pair tasks spread over all executors; the same
    kernel serves LSH-blocked rerank when the threshold is high enough to
    prune."""
    import numpy as np
    import pandas as pd

    from drug_target_discovery_spark.caching import scoped_cache

    v = _emb_double(load_table(spark, sf_dir, "embeddings")).select("vec_id", "emb")
    # cached: FOUR consumers read the normalized table (left/right GEMM
    # replicas + both rerank join sides), and the block-sizing count
    # doubles as the materializing action (optimization r13 — each
    # consumer previously re-ran the scan + normalize transform)
    nv = scoped_cache(
        v.withColumn("nrm", F.expr(_NORM_SPARK.format(a="emb")))
        .select("vec_id", F.expr("transform(emb, x -> x / nrm)").alias("nemb"))
    )
    n_vec = nv.count()
    n_blocks = max(1, -(-n_vec // _GEMM_BLOCK))
    slack = _NEAR_DUP_T - 1e-9

    blk = F.pmod(F.hash("vec_id"), F.lit(n_blocks))
    # left member of pair (i, j): block i replicated to every j >= i
    left = nv.withColumn("bi", blk).withColumn(
        "bj", F.explode(F.sequence(F.col("bi"), F.lit(n_blocks - 1)))
    )
    # right member: block j replicated to every i <= j
    right = nv.withColumn("bj", blk).withColumn(
        "bi", F.explode(F.sequence(F.lit(0), F.col("bj")))
    )

    def gemm_pair(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                                 "id_b": pd.Series([], dtype="int64")})
        lm = np.vstack(lpdf["nemb"].to_numpy()).astype(np.float64)
        rm = np.vstack(rpdf["nemb"].to_numpy()).astype(np.float64)
        lids = lpdf["vec_id"].to_numpy(dtype=np.int64)
        rids = rpdf["vec_id"].to_numpy(dtype=np.int64)
        sims = lm @ rm.T
        li, rj = np.nonzero((sims > slack) & (lids[:, None] < rids[None, :]))
        return pd.DataFrame({"id_a": lids[li], "id_b": rids[rj]})

    cand = (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(gemm_pair, "id_a BIGINT, id_b BIGINT")
    )

    # Exact rerank: the surviving ~0.01% of pairs get the engine-identical
    # fold. Plain equi-joins — AQE broadcasts the small side at runtime; at
    # scale these are shuffle joins on vec_id, never a full-table broadcast.
    a = nv.select(F.col("vec_id").alias("id_a"), F.col("nemb").alias("nemb_a"))
    b = nv.select(F.col("vec_id").alias("id_b"), F.col("nemb").alias("nemb_b"))
    pairs = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr(_DOT_SPARK.format(a="nemb_a", b="nemb_b")).alias("cosine"),
        )
    )
    return pairs.filter(F.col("cosine") > _NEAR_DUP_T).select(
        "id_a", "id_b", rnd("cosine", 6).alias("cosine")
    )


# --------------------------------------------------------------------------
# Per-label embedding statistics
# --------------------------------------------------------------------------
@register(
    "embedding_label_stats",
    tags=("similarity", "agg"),
    oracle=f"""
    WITH v AS (
      SELECT label, {_NORM_DUCK.format(a="CAST(embedding AS DOUBLE[])")} AS nrm
      FROM embeddings
    )
    SELECT label, count(*) AS n,
           {rnd_sql("avg(nrm)", 6)} AS avg_norm,
           {rnd_sql("min(nrm)", 6)} AS min_norm,
           {rnd_sql("max(nrm)", 6)} AS max_norm
    FROM v GROUP BY label
    """,
)
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm distribution per label: array fold map-side, one aggregation
    shuffle on the (tiny) label key."""
    v = _emb_double(load_table(spark, sf_dir, "embeddings"))
    nrm = F.expr(_NORM_SPARK.format(a="emb"))
    return (
        v.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            rnd(F.avg("nrm"), 6).alias("avg_norm"),
            rnd(F.min("nrm"), 6).alias("min_norm"),
            rnd(F.max("nrm"), 6).alias("max_norm"),
        )
    )


# --------------------------------------------------------------------------
# Centroid assignment (one k-means E-step)
# --------------------------------------------------------------------------
@register(
    "centroid_assignment",
    tags=("similarity", "iterative"),
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    dims AS (
      SELECT label, i, avg(emb[i]) AS c
      FROM v, unnest(range(1, len(emb) + 1)) AS t(i)
      GROUP BY label, i
    ),
    centroids AS (
      SELECT label AS clabel, list(c ORDER BY i) AS cemb FROM dims GROUP BY label
    ),
    dist AS (
      SELECT v.vec_id, v.label AS actual_label, c.clabel,
             {_DOT_DUCK.format(a="v.emb", b="c.cemb")}
               / ({_NORM_DUCK.format(a="v.emb")} * {_NORM_DUCK.format(a="c.cemb")}) AS cosine
      FROM v CROSS JOIN centroids c
    ),
    ranked AS (
      SELECT vec_id, actual_label, clabel, cosine,
             row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, clabel ASC) AS rnk
      FROM dist
    )
    SELECT vec_id, actual_label, clabel AS assigned_label, {rnd_sql("cosine", 6)} AS cosine
    FROM ranked WHERE rnk = 1
    """,
)
def centroid_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means E-step with label-seeded centroids: per-label mean vector
    (posexplode + two aggregations), broadcast centroids, nearest-by-cosine
    assignment. The building block for iterative clustering over 100 TB —
    per iteration: one agg shuffle + a map-side broadcast join.

    The assignment table itself is the sweep-scoped ``_estep_cached`` memo
    shared with ``semantic_dedup_prune`` (which clusters the same way
    before pruning) — built once per sweep, whichever query runs first."""
    return _estep_cached(spark, sf_dir).select(
        "vec_id",
        F.col("label").alias("actual_label"),
        F.col("clabel").alias("assigned_label"),
        rnd("cosine", 6).alias("cosine"),
    )


# Sweep-scoped E-step memo: (vec_id, label, emb, clabel, cosine) with clabel
# the nearest label-seeded centroid. Consumed by centroid_assignment and
# semantic_dedup_prune.
def _estep_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The E-step BUILD plan (centroids broadcast into the cross join +
    per-vector argmax window) — exposed un-memoized so the plan-shape test
    can assert on it now that the memo is a lineage-truncating checkpoint
    (tests/test_plans.py::test_semantic_dedup_broadcast_and_cluster_local_gemm)."""
    v = _emb_double(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", "emb"
    )
    dims = (
        v.select("label", F.posexplode("emb").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg("x").alias("c"))
    )
    centroids = (
        dims.groupBy(F.col("label").alias("clabel"))
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("_sc"))
        .select("clabel", F.expr("transform(_sc, s -> s.c)").alias("cemb"))
    )
    dist = v.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "label",
        "emb",
        "clabel",
        (
            F.expr(_DOT_SPARK.format(a="emb", b="cemb"))
            / (
                F.expr(_NORM_SPARK.format(a="emb"))
                * F.expr(_NORM_SPARK.format(a="cemb"))
            )
        ).alias("cosine"),
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("clabel"))
    return (
        dist.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("vec_id", "label", "emb", "clabel", "cosine")
    )


def _estep_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo(
        spark,
        "similarity.estep",
        lambda: fixture_checkpoint(_estep_plan(spark, sf_dir)),
        sf_dir,
    )


# --------------------------------------------------------------------------
# Int8 embedding quantization (ANN storage/scale path)
# --------------------------------------------------------------------------
@register(
    "embedding_quantize_int8",
    tags=("similarity", "quantize"),
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    s AS (
      SELECT vec_id, emb,
             list_max(list_transform(emb, x -> abs(x))) AS scale
      FROM v
    ),
    c AS (
      SELECT vec_id, emb, scale,
             list_transform(emb, x ->
               CASE WHEN scale = 0 THEN 0
                    ELSE CAST(floor(x / scale * 127 + 0.5) AS INT) END) AS codes
      FROM s
    )
    SELECT vec_id,
           CAST(len(emb) AS INT) AS n_dims,
           {rnd_sql("scale", 6)} AS scale,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
                            (a, b) -> a + b) AS BIGINT) AS code_sum,
           CAST(list_min(codes) AS INT) AS code_min,
           CAST(list_max(codes) AS INT) AS code_max,
           {rnd_sql('''list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(list_zip(emb, codes),
                          p -> abs(CAST(p[1] AS DOUBLE) - (p[2] * scale) / 127.0))),
                        (a, b) -> greatest(a, b))''', 6)} AS max_abs_err
    FROM c
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per embedding (max-abs scaling): the
    standard 4x storage/bandwidth reduction for ANN sweeps — at 100 TB the
    quantized codes are what the IVF buckets scan, with the float rerank
    only on the shortlist. Entirely JVM-side array algebra (transform /
    aggregate folds inside codegen, no UDF); code arithmetic is integer
    (order-independent), float reductions are max-folds (order-independent),
    and the quantize expression mirrors the oracle op-for-op. Emits per-
    vector code stats + the max reconstruction error |x - c*s/127|."""
    emb = _emb_double(load_table(spark, sf_dir, "embeddings")).select("vec_id", "emb")
    s = F.array_max(F.transform(F.col("emb"), lambda x: F.abs(x)))
    q = emb.withColumn("scale", s)
    codes = F.transform(
        F.col("emb"),
        lambda x: F.when(F.col("scale") == 0, F.lit(0))
        .otherwise(F.floor(x / F.col("scale") * 127 + 0.5))
        .cast("int"),
    )
    q = q.withColumn("codes", codes)
    err = F.aggregate(
        F.zip_with(
            F.col("emb"),
            F.col("codes"),
            lambda x, c: F.abs(x - (c * F.col("scale")) / F.lit(127.0)),
        ),
        F.lit(0.0).cast("double"),
        lambda a, b: F.greatest(a, b),
    )
    # bind err to the RAW scale before the output projection re-aliases
    # "scale" to its rounded rendering — a late F.col("scale") inside the
    # lambda would resolve against the rounded column and drift off the
    # oracle by an ulp
    q = q.withColumn("_err", err)
    return q.select(
        "vec_id",
        F.size("emb").cast("int").alias("n_dims"),
        rnd("scale", 6).alias("scale"),
        F.aggregate(
            F.col("codes"), F.lit(0).cast("long"), lambda a, b: a + b
        ).alias("code_sum"),
        F.array_min("codes").cast("int").alias("code_min"),
        F.array_max("codes").cast("int").alias("code_max"),
        rnd("_err", 6).alias("max_abs_err"),
    )


# --------------------------------------------------------------------------
# Embedding covariance matrix (PCA/whitening input) — join-free outer product
# --------------------------------------------------------------------------
@register(
    "embedding_covariance",
    tags=("similarity", "linalg"),
    oracle=f"""
    WITH x AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    )
    SELECT i, j,
           count(*) AS n,
           {rnd_sql("avg(emb[i+1] * emb[j+1]) - avg(emb[i+1]) * avg(emb[j+1])", 6)}
             AS cov
    FROM x,
         unnest(generate_series(0, len(emb) - 1)) AS t1(i),
         unnest(generate_series(0, len(emb) - 1)) AS t2(j)
    WHERE j >= i
    GROUP BY i, j
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance of the embedding dimensions (the input to
    PCA/whitening, the classic pre-step before quantization or IVF
    training). JOIN-FREE distributed GEMM: each partition reduces its rows
    to ONE X^T X tile plus column sums via BLAS inside an Arrow-batched
    mapInPandas kernel, so the exchange carries O(tasks * D^2) partial
    sums regardless of row count — the shape that survives 100 TB (a
    self-join on vec_id would shuffle the entire exploded table instead).
    The earlier pure-SQL form exploded D*(D+1)/2 products per row through
    nested transform() higher-order functions — semantically identical,
    but HOFs evaluate on Catalyst's interpreted path and the exploded
    stream is rows x D^2/2 wide before the map-side combine; the BLAS tile
    is ~2x faster cold here and arbitrarily better as D grows. Driver-side
    eigendecomposition of the resulting D x D matrix (64 x 64 here) is
    then trivial. cov = E[xy] - E[x]E[y], mirrored in the oracle (which
    keeps the explode form — DuckDB has no tile kernel; rnd-6 absorbs the
    partial-sum order difference, measured <= 3e-17 raw)."""
    cov = _covariance_df(spark, sf_dir)
    return cov.select("i", "j", "n", rnd("_cov", 6).alias("cov"))


# covariance cells are consumed by two queries (the cell table and the PCA
# eigendecomposition) — sweep-scoped memo like the LSH signatures
def _covariance_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unrounded upper-triangle covariance cells (i, j, n, _cov) — the
    join-free outer-product aggregation described in embedding_covariance.
    Memoized per (application, sf_dir); the cell table is D^2-bounded."""
    return memo(
        spark,
        "similarity.covariance",
        lambda: fixture_checkpoint(_covariance_plan(spark, sf_dir)),
        sf_dir,
    )


def _covariance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    # NULL embeddings are dropped BEFORE the kernel — the replaced explode
    # form ignored them implicitly (explode of NULL emits nothing); without
    # the filter a single NULL row would TypeError np.stack mid-task
    emb = (
        _emb_double(load_table(spark, sf_dir, "embeddings"))
        .filter(F.col("emb").isNotNull())
        .select("emb")
    )

    def partials(batches):
        # one X^T X tile + column sums per PARTITION (not per batch): the
        # kernel's output is D^2-bounded however many rows stream through
        S = sx = None
        n = 0
        for b in batches:
            if not len(b):
                continue
            X = np.stack(b["emb"].to_numpy())
            S = X.T @ X if S is None else S + X.T @ X
            sx = X.sum(0) if sx is None else sx + X.sum(0)
            n += X.shape[0]
        if n == 0:
            return
        iu = np.triu_indices(S.shape[0])
        yield pd.DataFrame(
            {
                "i": iu[0].astype("int32"),
                "j": iu[1].astype("int32"),
                "sxy": S[iu],
                "sx": sx[iu[0]],
                "sy": sx[iu[1]],
                "n": np.full(len(iu[0]), n, dtype="int64"),
            }
        )

    cells = emb.mapInPandas(
        partials, "i int, j int, sxy double, sx double, sy double, n long"
    )
    return (
        cells.groupBy("i", "j")
        .agg(
            F.sum("sxy").alias("sxy"),
            F.sum("sx").alias("sx"),
            F.sum("sy").alias("sy"),
            F.sum("n").alias("n"),
        )
        .select(
            "i",
            "j",
            "n",
            (
                F.col("sxy") / F.col("n")
                - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n"))
            ).alias("_cov"),
        )
    )


# --------------------------------------------------------------------------
# PCA variance explained (eigendecomposition of the covariance)
# --------------------------------------------------------------------------
try:  # fixture VALUES oracle — generated by tools/gen_pca_oracle.py
    from drug_target_discovery_spark.queries._pca_oracle import PCA_ORACLE
except ImportError:  # pragma: no cover — regenerate via the tool
    PCA_ORACLE = None


@register(
    "embedding_pca_variance_explained",
    tags=("similarity", "linalg", "iterative"),
    oracle=PCA_ORACLE,
)
def embedding_pca_variance_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 principal-component eigenvalues + cumulative variance ratio of
    the embedding covariance: the whitening/IVF-training diagnostic. The
    covariance aggregation is fully distributed (see embedding_covariance);
    only the D x D cell table — bounded by DIMENSIONALITY, not corpus size
    — is collected for the driver-side symmetric eigendecomposition, the
    standard split for tall-and-skinny PCA at any scale. Oracle: fixture
    VALUES (tools/gen_pca_oracle.py — DuckDB covariance + numpy eigh)."""
    import math

    import numpy as np

    out_schema = "component INT, eigenvalue DOUBLE, cum_variance_ratio DOUBLE"
    cells = _covariance_df(spark, sf_dir).select("i", "j", "_cov").collect()
    if not cells:  # empty embeddings table -> typed empty result
        return spark.createDataFrame([], out_schema)
    d = max(r["i"] for r in cells) + 1
    cov = np.zeros((d, d))
    for r in cells:
        cov[r["i"], r["j"]] = r["_cov"]
        cov[r["j"], r["i"]] = r["_cov"]
    vals = np.linalg.eigvalsh(cov)[::-1]
    total = float(vals.sum())
    r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # rnd's IEEE formula
    rows = []
    cum = 0.0
    for k in range(min(8, d)):
        cum += float(vals[k])
        rows.append((k + 1, r6(float(vals[k])), r6(cum / total)))
    return spark.createDataFrame(rows, out_schema)


# --------------------------------------------------------------------------
# SemDeDup: cluster-then-prune semantic deduplication
# --------------------------------------------------------------------------
_SEMDEDUP_T = 0.40  # intra-cluster cosine above this -> prune (keep min id)


@register(
    "semantic_dedup_prune",
    tags=("similarity", "dedup"),
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    dims AS (
      SELECT label, i, avg(emb[i]) AS c
      FROM v, unnest(range(1, len(emb) + 1)) AS t(i)
      GROUP BY label, i
    ),
    centroids AS (
      SELECT label AS clabel, list(c ORDER BY i) AS cemb FROM dims GROUP BY label
    ),
    dist AS (
      SELECT v.vec_id, v.emb, c.clabel,
             {_DOT_DUCK.format(a="v.emb", b="c.cemb")}
               / ({_NORM_DUCK.format(a="v.emb")} * {_NORM_DUCK.format(a="c.cemb")}) AS cosine
      FROM v CROSS JOIN centroids c
    ),
    asn AS (
      SELECT vec_id, emb, clabel FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cosine DESC, clabel ASC) AS rnk
        FROM dist) WHERE rnk = 1
    ),
    prior AS (
      -- Zero-norm convention (matches Spark): a zero-norm vector has
      -- similarity 0 to everything, so it never prunes and is never
      -- pruned. Without this guard DuckDB computes 0/0 = NaN and NaN
      -- compares greater than the threshold, silently pruning such rows.
      SELECT b.vec_id, max(
               {_DOT_DUCK.format(a="a.emb", b="b.emb")}
                 / ({_NORM_DUCK.format(a="a.emb")} * {_NORM_DUCK.format(a="b.emb")})
             ) AS max_sim
      FROM asn a JOIN asn b ON a.clabel = b.clabel AND a.vec_id < b.vec_id
        AND {_NORM_DUCK.format(a="a.emb")} > 0
        AND {_NORM_DUCK.format(a="b.emb")} > 0
      GROUP BY b.vec_id
      HAVING max({_DOT_DUCK.format(a="a.emb", b="b.emb")}
                   / ({_NORM_DUCK.format(a="a.emb")} * {_NORM_DUCK.format(a="b.emb")}))
             > {_SEMDEDUP_T}
    )
    SELECT s.vec_id, s.clabel AS cluster,
           {rnd_sql("p.max_sim", 6)} AS max_sim_to_prior,
           p.vec_id IS NULL AS is_kept
    FROM asn s LEFT JOIN prior p ON s.vec_id = p.vec_id
    """,
)
def semantic_dedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the embedding
    space (here: one label-seeded k-means E-step, the same deterministic
    centroids as ``centroid_assignment``), then prune any vector whose
    cosine to a LOWER-ID member of its own cluster exceeds τ — the
    keep-one-representative-per-ε-ball rule made deterministic by the
    min-id convention. Returns every vector with its cluster, the max
    similarity to a prior member (NULL if none above τ), and the keep flag.
    Zero-norm embeddings have similarity 0 to everything by convention on
    BOTH engines: they are never pruned and never prune others — the GEMM
    prefilter's norm clamp implements this on the Spark side, and the
    oracle's prior CTE excludes zero-norm rows explicitly.

    Scale design — the point of SemDeDup: pairwise similarity runs only
    WITHIN clusters, so FLOPs drop from O(N²) to O(Σ cᵢ²) with cᵢ ≈ N/k
    chosen so each cluster's pair block fits an executor; the candidate
    join is clabel-partitioned (cluster-local, no global shuffle of pairs)
    and centroids broadcast exactly as in the E-step. For clusters still
    too big, the block-pair GEMM kernel of ``embedding_cosine_near_dups``
    drops in per-cluster unchanged.
    """
    asn = _estep_cached(spark, sf_dir).select("vec_id", "emb", "clabel")
    # Cluster-local candidate generation: one numpy GEMM per cluster inside
    # applyInPandas (slacked threshold), then the engine-identical fold
    # cosine ONLY on survivors — the same coarse-filter/exact-rerank split
    # as embedding_cosine_near_dups, so the hot path is BLAS, not per-pair
    # HOF lambdas, and the oracle match stays bit-exact.
    import numpy as np
    import pandas as pd

    slack = _SEMDEDUP_T - 1e-9

    def cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        E = np.vstack(pdf["emb"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        nrm = np.linalg.norm(E, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        S = (E / nrm) @ (E / nrm).T
        ii, jj = np.nonzero((S > slack) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame({"v1": ids[ii], "v2": ids[jj]})

    # A single NULL embedding would TypeError np.vstack mid-task (same
    # hazard as _covariance_plan); a NULL-emb vector has undefined cosine,
    # can never be pruned, and still gets its output row from `asn` below.
    cand = (
        asn.filter(F.col("emb").isNotNull())
        .select("clabel", "vec_id", "emb")
        .groupBy("clabel")
        .applyInPandas(cluster_pairs, "v1 BIGINT, v2 BIGINT")
    )
    e1 = asn.select(F.col("vec_id").alias("v1"), F.col("emb").alias("e1"))
    e2 = asn.select(F.col("vec_id").alias("v2"), F.col("emb").alias("e2"))
    pair_cos = F.expr(_DOT_SPARK.format(a="e1", b="e2")) / (
        F.expr(_NORM_SPARK.format(a="e1")) * F.expr(_NORM_SPARK.format(a="e2"))
    )
    prior = (
        cand.join(e1, "v1")
        .join(e2, "v2")
        .select("v2", pair_cos.alias("cs"))
        .filter(F.col("cs") > _SEMDEDUP_T)
        .groupBy("v2")
        .agg(F.max("cs").alias("max_sim"))
    )
    return (
        asn.join(prior, asn.vec_id == prior.v2, "left")
        .select(
            "vec_id",
            F.col("clabel").alias("cluster"),
            rnd(F.col("max_sim"), 6).alias("max_sim_to_prior"),
            F.col("v2").isNull().alias("is_kept"),
        )
    )


# --------------------------------------------------------------------------
# Distributed Lloyd k-means (the training loop the E-step query assumes)
# --------------------------------------------------------------------------
try:  # fixture VALUES oracle (independent numpy Lloyd on sf0.01) — generated
    from drug_target_discovery_spark.queries._kmeans_oracle import KMEANS_ORACLE
except ImportError:  # pragma: no cover - regenerate via tools/gen_kmeans_oracle.py
    KMEANS_ORACLE = None

_KM_K = 8
_KM_ITERS = 5

# Sweep-scoped Lloyd memo: the trained model (quantized vectors + final
# centroids) is shared by kmeans_lloyd_clusters and the silhouette
# evaluation query, so the 5-round training loop runs once per sweep.
def _lloyd_cached(spark: SparkSession, sf_dir: str):
    from drug_target_discovery_spark.operators.kmeans import (
        lloyd_iterations,
        quantize_embeddings,
    )

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        vq = fixture_cache(quantize_embeddings(emb.select("vec_id", "embedding")))
        return vq, lloyd_iterations(vq, _KM_K, _KM_ITERS)

    return memo(spark, "similarity.lloyd", build, sf_dir)



@register(
    "kmeans_lloyd_clusters",
    tags=("similarity", "iterative", "mapinpandas"),
    oracle=KMEANS_ORACLE,
)
def kmeans_lloyd_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Lloyd k-means training ({_KM_K} clusters, {_KM_ITERS} rounds)
    over the embeddings — the loop `centroid_assignment` (one E-step) and
    `semantic_dedup_prune` (cluster-local GEMM) presume ran upstream.
    Driver-coordinated iteration, MLlib-KMeans shape: per round, an
    Arrow-batched kernel computes per-partition integer sufficient
    statistics, only the K×(D+1) partial-sum table is collected, and the
    K×D centroid model re-broadcasts.

    Exact end to end (see operators/kmeans.py): micro-unit quantization
    makes every M-step sum order-independent int64 arithmetic, so the
    independent numpy fixture oracle matches to the last digit — an
    iterative algorithm held to the same exact-value bar as the SQL
    queries. Output: per-cluster member count (distributed aggregate
    under the final model) and the centroid L2 norm in micro units."""
    import math

    from drug_target_discovery_spark.operators.kmeans import (
        QUANT_SCALE,
        final_assignment,
    )

    vq, centroids = _lloyd_cached(spark, sf_dir)
    counts = (
        final_assignment(vq, centroids)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    summary = []
    for j, c in enumerate(centroids):
        acc = 0.0
        for x in c:  # left-to-right, mirrored by the oracle generator
            acc += (x / QUANT_SCALE) ** 2
        summary.append((j, int(math.floor(math.sqrt(acc) * 1e6 + 0.5))))
    model = spark.createDataFrame(summary, "cluster INT, centroid_norm_micro BIGINT")
    return (
        model.join(counts, "cluster", "left_outer")
        .select(
            F.col("cluster").alias("cluster_id"),
            F.coalesce(F.col("n_members"), F.lit(0)).cast("long").alias("n_members"),
            "centroid_norm_micro",
        )
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data prep)
# --------------------------------------------------------------------------
_HN_TOP_K = 5


@register(
    "hard_negative_mining",
    tags=("similarity", "selection", "topk"),
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    q AS (
      SELECT vec_id AS qid, label AS qlabel, emb AS qemb
      FROM v WHERE vec_id < {_N_QUERIES}
    ),
    scored AS (
      SELECT q.qid, v.vec_id AS neg_id, v.label AS neg_label,
             {_DOT_DUCK.format(a="q.qemb", b="v.emb")}
               / ({_NORM_DUCK.format(a="q.qemb")} * {_NORM_DUCK.format(a="v.emb")})
             AS cosine
      FROM q JOIN v ON v.label <> q.qlabel
    ),
    ranked AS (
      SELECT qid, neg_id, neg_label, cosine,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, neg_id ASC) AS rnk
      FROM scored
    )
    SELECT qid, neg_id, neg_label, {rnd_sql("cosine", 6)} AS cosine, rnk
    FROM ranked WHERE rnk <= {_HN_TOP_K}
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/SimCLR
    data-prep step): for each anchor vector, the top-{_HN_TOP_K} most
    cosine-similar vectors carrying a DIFFERENT label — the negatives
    that actually move a contrastive loss, as opposed to random ones.

    Scale shape: identical to the brute-force retrieval path — the
    bounded anchor set broadcasts, the label inequality filters map-side
    (no shuffle added over cosine_topk_bruteforce), the dot product folds
    JVM-side, and per-anchor top-k is one bounded window with a
    deterministic neg_id tie-break. At production scale the candidate
    side swaps to the IVF-bucketed ranked set unchanged — mining quality
    then degrades exactly by the measured ann_recall_eval recall."""
    v = _emb_double(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", "emb"
    )
    q = v.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("emb").alias("qemb"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(v)
        .filter(F.col("label") != F.col("qlabel"))
        .select(
            "qid",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            _cosine_expr(),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("neg_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _HN_TOP_K)
        .select("qid", "neg_id", "neg_label", rnd("cosine", 6).alias("cosine"), "rnk")
    )


# --------------------------------------------------------------------------
# Simplified silhouette (k-means cluster-quality evaluation)
# --------------------------------------------------------------------------
try:  # fixture VALUES oracle (shares the numpy Lloyd generator) — generated
    from drug_target_discovery_spark.queries._kmeans_oracle import (
        KMEANS_SIL_ORACLE,
    )
except ImportError:  # pragma: no cover - regenerate via tools/gen_kmeans_oracle.py
    KMEANS_SIL_ORACLE = None


@register(
    "kmeans_silhouette_by_cluster",
    tags=("similarity", "eval", "mapinpandas"),
    oracle=KMEANS_SIL_ORACLE,
)
def kmeans_silhouette_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster mean SIMPLIFIED silhouette under the trained Lloyd
    model — the clustering-quality readout an embedding pipeline runs
    after (re)training: s(x) = (b-a)/max(a,b) with a = distance to the
    own centroid and b = distance to the nearest OTHER centroid (the
    centroid-based simplification of Rousseeuw 1987, the form MLlib and
    large-scale evaluators use because it needs K distances per point,
    not N). Completes the model-evaluation family next to AUC / PR-curve
    / calibration / ANN-recall.

    Rides the sweep-scoped Lloyd memo (the 5-round training loop runs
    once for it and ``kmeans_lloyd_clusters``). Exactness: distances are
    computed from integer micro-unit vectors against the model's
    centroids in the same per-centroid order as the independent numpy
    oracle generator, each point's silhouette quantizes to micro-units,
    and the per-cluster mean divides two exact integers — the iterative
    model held to the exact-value bar end to end.

    Scale design: map-only Arrow kernel (broadcast K x D model, one pass,
    K distances per row), then ONE bounded aggregate to the K-row output
    — corpus size touches only the map side, the same envelope as the
    E-step."""
    import numpy as np
    import pandas as pd

    from collections.abc import Iterator

    vq, centroids = _lloyd_cached(spark, sf_dir)
    C = [list(c) for c in centroids]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Carr = [np.asarray(c, dtype=np.float64) for c in C]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(
                pdf["v_int"].map(lambda a: np.asarray(a, dtype=np.float64))
            )
            # same reduction order as operators/kmeans._assign_ids and the
            # numpy oracle: per-centroid squared distance, first-min argmin
            D2 = np.stack([((V - c) ** 2).sum(axis=1) for c in Carr], axis=1)
            lab = D2.argmin(axis=1)
            idx = np.arange(len(V))
            a = np.sqrt(D2[idx, lab])
            D2[idx, lab] = np.inf
            b = np.sqrt(D2.min(axis=1))
            mx = np.maximum(a, b)
            sil = np.where(mx > 0.0, (b - a) / mx, 0.0)
            yield pd.DataFrame(
                {
                    "cluster": lab.astype(np.int32),
                    "s_q": np.floor(sil * 1e6 + 0.5).astype(np.int64),
                }
            )

    per_point = vq.mapInPandas(kernel, schema="cluster INT, s_q BIGINT")
    agg = per_point.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"), F.sum("s_q").alias("sq")
    )
    clusters = spark.range(_KM_K).select(F.col("id").cast("int").alias("cluster"))
    return (
        clusters.join(agg, "cluster", "left_outer")
        .select(
            F.col("cluster").alias("cluster_id"),
            F.coalesce(F.col("n_members"), F.lit(0)).cast("long").alias("n_members"),
            rnd(F.col("sq") / (1e6 * F.col("n_members")), 6).alias(
                "mean_silhouette"
            ),
        )
        .orderBy("cluster_id")
    )
