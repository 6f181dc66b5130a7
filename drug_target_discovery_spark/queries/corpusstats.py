"""Corpus-statistics tier (SURVEY §2.12 [EXT]): exact sketch-bounded heavy
hitters, CCNet-style unigram LM document scoring, and BM25 keyword
retrieval over ``documents``.

All are standard large-scale training-data-pipeline operators with no
reference-engine counterpart (the reference has no corpus tier); they join
the dedup/similarity/quality families the build brief adds beyond
/root/reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as PWindow
from pyspark.sql import functions as F

from drug_target_discovery_spark.caching import fixture_checkpoint, memo
from drug_target_discovery_spark.functions.rounding import rnd, rnd_sql
from drug_target_discovery_spark.operators.dedup import MD5_INT_DUCK, MD5_INT_SPARK
from drug_target_discovery_spark.operators.heavyhitters import exact_heavy_hitters
from drug_target_discovery_spark.queries.registry import register
from drug_target_discovery_spark.sources.tables import load_table

_HH_K = 31  # Misra-Gries counters; threshold = N/(k+1). Production: ~10^4.


@register(
    "heavy_hitter_tokens",
    tags=("corpus", "sketch", "scalable"),
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    t2 AS (SELECT token FROM toks WHERE token <> ''),
    tot AS (SELECT count(*) AS n FROM t2)
    SELECT token, count(*) AS cnt
    FROM t2, tot
    GROUP BY token, n
    HAVING count(*) * {_HH_K + 1} > n
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters — every token with count > N/{k+1} and its exact
    count — via two-pass Misra-Gries (operators/heavyhitters.py): pass 1 is
    a map-only Arrow-batched k-counter summary per partition (only
    O(k·partitions) summary rows ever shuffle), pass 2 re-counts the
    candidate superset exactly behind a broadcast semi-join. The oracle is
    the brute-force GROUP BY/HAVING — the sketch changes what shuffles, not
    the answer, which is why this row can hash-match. The synthetic corpus
    vocabulary (31 tokens) sits below production k; the summary-shrink path
    (vocab >> k) is pinned on a skewed fixture in
    tests/test_heavyhitters.py."""
    return exact_heavy_hitters(
        load_table(spark, sf_dir, "documents"), text_col="text", k=_HH_K
    )


# Quantized unigram log-probability: floor(log10(p)*1e6 + 0.5) as BIGINT.
# Integer token scores make the per-document SUM order-independent and
# therefore cross-engine exact — summing raw double log-probs would expose
# the driver's value-hash to Spark-vs-DuckDB float addition order.
_LP_Q_SQL = "CAST(floor(log10(cnt / n) * 1000000.0 + 0.5) AS BIGINT)"


@register(
    "unigram_logprob_quality",
    tags=("corpus", "quality", "scalable"),
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    t2 AS (SELECT doc_id, token FROM toks WHERE token <> ''),
    tot AS (SELECT count(*)::DOUBLE AS n FROM t2),
    model AS (
      SELECT token, {_LP_Q_SQL} AS lp_q
      FROM (SELECT token, count(*)::DOUBLE AS cnt FROM t2 GROUP BY token), tot
    )
    SELECT t2.doc_id,
           count(*) AS n_tokens,
           {rnd_sql("sum(lp_q) / (1000000.0 * count(*))", 6)} AS mean_logprob
    FROM t2 JOIN model ON t2.token = model.token
    GROUP BY t2.doc_id
    """,
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shape LM quality score: train a unigram model on the corpus
    (token -> log10 relative frequency), then score every document by its
    mean token log-probability — the classic "perplexity filter" used to
    rank web text against a reference LM, here with the corpus as its own
    model so the whole query is closed-form and oracle-checkable.

    Scale design: TWO SCANS, NO CACHED FACT. Pass 1 aggregates the token
    stream down to the vocabulary (map-side partial counts; only
    vocab-sized partials shuffle). Pass 2 re-scans, broadcast-joins the
    vocabulary model onto the exploded tokens (a vocabulary fits executor
    memory up to ~10^7 entries), and partial-aggregates per doc_id — the
    token stream itself never shuffles; only (doc_id, sum, count) partials
    do. Caching the exploded fact between passes would trade a cheap
    columnar re-scan for materializing the corpus ×tokens — wrong at 100
    TB. Token log-probs are quantized to integer micro-log units before
    the per-doc sum (see _LP_Q_SQL) so the aggregation is order-independent
    and the driver's value-hash is stable."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    # corpus size N comes from the vocab-sized model table (sum of counts),
    # NOT from a separate toks.agg — that would be a third full scan+explode
    # of the fact (the thing the two-scan claim forbids). The counts table
    # is query-scope cached: it is vocab-sized (cheap to hold) and has two
    # consumers (N and the model); uncached, each would re-scan the fact.
    from drug_target_discovery_spark.caching import scoped_cache

    counts = scoped_cache(
        toks.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    n_row = counts.agg(F.sum("cnt").alias("n"))
    model = (
        counts.crossJoin(F.broadcast(n_row))
        .select(
            "token",
            F.floor(F.log10(F.col("cnt") / F.col("n")) * 1000000.0 + F.lit(0.5))
            .cast("long")
            .alias("lp_q"),
        )
    )
    return (
        toks.join(F.broadcast(model), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            rnd(
                F.sum("lp_q") / (F.lit(1000000.0) * F.count(F.lit(1))), 6
            ).alias("mean_logprob"),
        )
    )


# BM25 parameters (Robertson-Sparck Jones defaults)
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("join", "hash", "stream")  # fixed keyword query

_BM25_TERMS_SQL = ", ".join(f"('{t}')" for t in _BM25_TERMS)

# Single home for the BM25 scoring CTE chain (token stream -> per-(doc,
# term) integer micro-unit scores) — referenced by bm25_keyword_search AND
# hybrid_retrieval_rerank so the two oracles cannot drift.
_BM25_SCORED_SQL = f"""
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    t2 AS (SELECT doc_id, token FROM toks WHERE token <> ''),
    dl AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY doc_id),
    stats AS (
      SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl
    ),
    q(term) AS (VALUES {_BM25_TERMS_SQL}),
    tf AS (
      SELECT doc_id, token AS term, count(*)::DOUBLE AS tf
      FROM t2 WHERE token IN (SELECT term FROM q)
      GROUP BY doc_id, token
    ),
    df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
               * 1000000.0 + 0.5) AS BIGINT) AS s_q
      FROM tf
      JOIN df ON tf.term = df.term
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    ),
    persum AS (
      SELECT doc_id, count(*) AS n_matched_terms, sum(s_q) AS s_sum
      FROM scored GROUP BY doc_id
    )
"""


# Sweep-scoped BM25 memo (optimization r13): three registered queries
# (bm25_keyword_search, hybrid_retrieval_rerank, reciprocal_rank_fusion)
# consume the same scored table; the matched-docs result is corpus-bounded
# and small, so one build per sweep replaces three token-stream passes.
def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared BM25 scorer: (doc_id, n_matched_terms, s_sum) with s_sum the
    per-doc sum of integer micro-unit term scores (un-rounded — consumers
    round or normalize). Plan shape documented on bm25_keyword_search.
    Sweep-memoized; checkpoint, not cache: the token-stream lineage
    otherwise rides inside all three consumer plans (optimization r14)."""
    return memo(
        spark,
        "corpus.bm25",
        lambda: fixture_checkpoint(_bm25_plan(spark, sf_dir)),
        sf_dir,
    )


def _bm25_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 BUILD plan (df + corpus stats broadcast into the tf table)
    — exposed un-memoized so the plan-shape test can assert on it now that
    the memo is a lineage-truncating checkpoint
    (tests/test_plans.py::test_bm25_no_payload_shuffle)."""
    k1, b = _BM25_K1, _BM25_B
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    # dl > 0 keeps empty/whitespace-only docs out of n_docs/avgdl, exactly
    # as the oracle's explode-based dl CTE does
    dl = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("dl"),
    ).filter(F.col("dl") > 0)
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").cast("double").alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", F.col("token").alias("term"))
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    s_q = F.floor(
        idf * (F.col("tf") * (k1 + 1.0)) / denom * 1000000.0 + F.lit(0.5)
    ).cast("long")
    return (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", s_q.alias("s_q"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched_terms"),
            F.sum("s_q").alias("s_sum"),
        )
    )


@register(
    "bm25_keyword_search",
    tags=("corpus", "retrieval", "scalable"),
    oracle=f"""
    WITH {_BM25_SCORED_SQL}
    SELECT doc_id, n_matched_terms,
           {rnd_sql("s_sum / 1000000.0", 6)} AS bm25
    FROM persum
    """,
)
def bm25_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (k1=1.2, b=0.75) for a fixed term set —
    the lexical-search scorer production corpora pair with ANN retrieval.

    Scale design: NOTHING shuffles the full token stream. Document length
    is a map-side projection — ``size(filter(split(text)))`` on the
    original scan, no explode and no doc_id exchange; the per-(doc, term)
    tf aggregation sees only tokens matching the query terms (an ``isin``
    over a literal set, codegen'd, applied before the shuffle); the df and
    corpus stats are term-count- and 1-row-sized broadcasts. Per-term
    scores are quantized to integer micro-units before the per-doc sum
    (order-independent, cross-engine exact — same discipline as
    unigram_logprob_quality). Every exchange is therefore proportional to
    query matches or doc count, never corpus tokens. The scorer lives in
    ``_bm25_scored`` (shared with ``hybrid_retrieval_rerank``)."""
    scored = _bm25_scored(spark, sf_dir)
    return scored.select(
        "doc_id",
        "n_matched_terms",
        rnd(F.col("s_sum") / F.lit(1000000.0), 6).alias("bm25"),
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: BM25 lexical candidates -> embedding cosine rerank
# --------------------------------------------------------------------------
_HYBRID_K = 50     # final top-k
_HYBRID_QVEC = 0   # vec_id of the fixed query embedding


@register(
    "hybrid_retrieval_rerank",
    tags=("corpus", "retrieval", "similarity", "pipeline"),
    oracle=f"""
    WITH {_BM25_SCORED_SQL},
    maxs AS (SELECT max(s_sum) AS max_s FROM persum),
    qv AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qemb FROM embeddings
      WHERE vec_id = {_HYBRID_QVEC}
    ),
    cand AS (
      SELECT p.doc_id, p.n_matched_terms, p.s_sum,
             CAST(e.embedding AS DOUBLE[]) AS emb
      FROM persum p JOIN embeddings e ON e.vec_id = p.doc_id
      WHERE {{norm_e}} > 0
    ),
    scored2 AS (
      SELECT c.doc_id, c.n_matched_terms, c.s_sum, m.max_s,
             {{dot}} / ({{norm_c}} * {{norm_q}}) AS cosine
      FROM cand c CROSS JOIN qv CROSS JOIN maxs m
    ),
    hybrid AS (
      SELECT doc_id, n_matched_terms, s_sum, cosine,
             CAST(floor((0.5 * s_sum * 1.0 / max_s + 0.5 * cosine)
                        * 1000000.0 + 0.5) AS BIGINT) AS h_q
      FROM scored2
    ),
    topk AS (
      SELECT * FROM hybrid
      ORDER BY h_q DESC, doc_id ASC LIMIT {_HYBRID_K}
    )
    SELECT doc_id, n_matched_terms,
           {rnd_sql("s_sum / 1000000.0", 6)} AS bm25,
           {rnd_sql("cosine", 6)} AS cosine,
           {rnd_sql("h_q / 1000000.0", 6)} AS hybrid,
           CAST(row_number() OVER (ORDER BY h_q DESC, doc_id ASC) AS INT) AS rank
    FROM topk
    """.format(
        dot="list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(list_zip(c.emb, qv.qemb), p -> "
        "CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, v) -> acc + v)",
        norm_c="sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(c.emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
        "(acc, v) -> acc + v))",
        norm_q="sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(qv.qemb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
        "(acc, v) -> acc + v))",
        norm_e="sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(CAST(e.embedding AS DOUBLE[]), "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, v) -> acc + v))",
    ),
)
def hybrid_retrieval_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the RAG-serving composition: BM25 lexical
    candidates reranked by embedding cosine to a fixed query vector
    (vec_id {_HYBRID_QVEC}), final score = 0.5·(bm25/max_bm25) +
    0.5·cosine, top-{_HYBRID_K} by the micro-unit-quantized hybrid score
    (floor to integer units BEFORE ranking, so the order — and therefore
    the selected set — is identical on both engines regardless of float
    formatting). Zero-norm candidate embeddings are excluded on both
    sides (cosine undefined); the query vector is assumed nonzero.

    Scale shape: the lexical stage is the shared ``_bm25_scored`` plan
    (nothing shuffles the full token stream); the candidate set is
    matched-docs-sized — orders smaller than the corpus — so the
    embeddings join keys on vec_id and AQE broadcasts the candidate side
    (NO hint: the embedding table is data-proportional). The query vector
    and the 1-row max normalizer broadcast. Top-k plans as
    TakeOrderedAndProject; the rank window runs over exactly
    {_HYBRID_K} rows. This is the serving-path twin of the batch ANN
    tier (``ann_ivf_bucketed_topk``)."""
    from drug_target_discovery_spark.queries.similarity import (
        _DOT_SPARK,
        _NORM_SPARK,
    )

    scored = _bm25_scored(spark, sf_dir)
    maxs = scored.agg(F.max("s_sum").alias("max_s"))
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    qv = emb.filter(F.col("vec_id") == _HYBRID_QVEC).select(
        F.col("emb").alias("qemb")
    )
    cand = (
        scored.join(emb, scored.doc_id == emb.vec_id)
        .filter(F.expr(_NORM_SPARK.format(a="emb")) > 0)
        .select("doc_id", "n_matched_terms", "s_sum", "emb")
    )
    cosine = F.expr(_DOT_SPARK.format(a="emb", b="qemb")) / (
        F.expr(_NORM_SPARK.format(a="emb")) * F.expr(_NORM_SPARK.format(a="qemb"))
    )
    h_q = F.floor(
        (
            0.5 * F.col("s_sum") * F.lit(1.0) / F.col("max_s")
            + 0.5 * F.col("cosine")
        )
        * 1000000.0
        + F.lit(0.5)
    ).cast("long")
    hybrid = (
        cand.crossJoin(F.broadcast(qv))
        .crossJoin(F.broadcast(maxs))
        .withColumn("cosine", cosine)
        .withColumn("h_q", h_q)
    )
    topk = hybrid.orderBy(F.col("h_q").desc(), F.col("doc_id").asc()).limit(
        _HYBRID_K
    )
    # unpartitioned window is bounded: input = top-_HYBRID_K truncation
    # (constant-size, never the corpus)
    w = PWindow.orderBy(F.col("h_q").desc(), F.col("doc_id").asc())
    return topk.select(
        "doc_id",
        "n_matched_terms",
        rnd(F.col("s_sum") / F.lit(1000000.0), 6).alias("bm25"),
        rnd(F.col("cosine"), 6).alias("cosine"),
        rnd(F.col("h_q") / F.lit(1000000.0), 6).alias("hybrid"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


# --------------------------------------------------------------------------
# Count-Min Sketch frequency estimation (bounded-memory, deterministic)
# --------------------------------------------------------------------------
_CMS_D = 4    # hash rows (depth)
_CMS_W = 256  # cells per row (width); memory = d*w counters regardless of N

_CMS_HASH_DUCK = MD5_INT_DUCK.format(col="j || ':' || token")
_CMS_HASH_SPARK = MD5_INT_SPARK.format(col="concat(j, ':', token)")


@register(
    "count_min_frequency_probe",
    tags=("corpus", "sketch", "scalable"),
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    t2 AS (SELECT token FROM toks WHERE token <> ''),
    hashed AS (
      SELECT token, j, ({_CMS_HASH_DUCK}) % {_CMS_W} AS cell
      FROM t2, unnest(range(0, {_CMS_D})) AS r(j)
    ),
    cells AS (
      SELECT j, cell, count(*) AS c FROM hashed GROUP BY j, cell
    ),
    exact AS (SELECT token, count(*) AS exact_count FROM t2 GROUP BY token),
    probes AS (
      SELECT e.token, e.exact_count, min(cells.c) AS cms_estimate
      FROM exact e,
           unnest(range(0, {_CMS_D})) AS r(j)
      JOIN cells ON cells.j = r.j
       AND cells.cell = ({MD5_INT_DUCK.format(col="r.j || ':' || e.token")}) % {_CMS_W}
      GROUP BY e.token, e.exact_count
    )
    SELECT token, CAST(exact_count AS BIGINT) AS exact_count,
           CAST(cms_estimate AS BIGINT) AS cms_estimate,
           CAST(cms_estimate - exact_count AS BIGINT) AS overestimate
    FROM probes
    """,
)
def count_min_frequency_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch (Cormode & Muthukrishnan 2005) frequency estimates
    with the no-underestimate guarantee exhibited: the {_CMS_D}x{_CMS_W}
    counter table is built FROM THE TOKEN STREAM (map-side (j, cell)
    expansion, then one bounded d·w-cell aggregation — the sketch's memory
    is CONSTANT regardless of corpus size), every distinct token is probed
    (estimate = min over rows of its cell), and the exact count rides
    alongside so ``overestimate >= 0`` is checkable per row. The sketch is
    DETERMINISTIC given the md5-derived row hashes, so the DuckDB oracle
    reproduces the estimates bit-exactly — the same harness discipline as
    the Bloom probe (membership), Misra-Gries (heavy hitters), GK
    (quantiles) and HLL (distinct): every sketch ships with an oracle that
    checks its guarantee, not just its plumbing.

    Scale shape: the token stream shuffles ONLY as the vocab-sized exact
    aggregate (map-side combined), which the probe needs anyway; the
    {_CMS_D} row hashes are computed per DISTINCT token AFTER that
    aggregate — the sketch cell counts are sums of per-token counts, so
    hashing the vocabulary and summing is integer-identical to hashing
    every occurrence (optimization r13, guide §2.3: the md5 depends only
    on (j, token); the occurrence-grain form hashed the token STREAM
    {_CMS_D}x and exploded it twice). The probe join broadcasts the
    FIXED d·w = {_CMS_D * _CMS_W}-cell table (constant, the one table in
    this repo that is always broadcastable by construction); at 100 TB
    the probe set would be the MG candidate list instead of the full
    vocabulary — the synthetic corpus's 31-token vocab makes full
    probing exact here."""
    from drug_target_discovery_spark.caching import scoped_cache

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    # ONE pass over the token stream; everything downstream rides the
    # vocab-grain table (cached: it feeds both the sketch build and the
    # probe — without the cache the explode+aggregate would run twice).
    exact = scoped_cache(
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_count"))
    )
    js = F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("j")
    hashed = exact.select("token", "exact_count", js).select(
        "token",
        "exact_count",
        "j",
        (F.expr(_CMS_HASH_SPARK) % _CMS_W).alias("cell"),
    )
    cells = hashed.groupBy("j", "cell").agg(
        F.sum("exact_count").alias("c")
    )
    return (
        hashed.join(F.broadcast(cells), ["j", "cell"])
        .groupBy("token", "exact_count")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            "token",
            F.col("exact_count").cast("long").alias("exact_count"),
            F.col("cms_estimate").cast("long").alias("cms_estimate"),
            (F.col("cms_estimate") - F.col("exact_count"))
            .cast("long")
            .alias("overestimate"),
        )
    )


# --------------------------------------------------------------------------
# Bigram PMI collocations (tokenizer-training / corpus-analysis statistic)
# --------------------------------------------------------------------------
_PMI_MIN_COUNT = 5

# Fully-parenthesized left-associated ratio so both engines execute the
# identical IEEE operation sequence before the (quantized) ln. Inputs:
# c_ab (pair count), n_tok (total tokens), m_bi (total bigrams), c_a/c_b
# (unigram counts, DOUBLE).
_PMI_Q = (
    "CAST(floor(ln(((((CAST(c_ab AS DOUBLE) * n_tok) * n_tok) / m_bi)"
    " / {ca}) / {cb}) * 1000000.0 + 0.5) AS BIGINT)"
)


@register(
    "bigram_pmi_collocations",
    tags=("corpus", "tokenizer", "scalable"),
    oracle=f"""
    WITH toks AS (
      SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts
      FROM documents
    ),
    uni AS (
      SELECT t AS tok, count(*)::DOUBLE AS c
      FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY t
    ),
    tot AS (SELECT sum(c) AS n_tok FROM uni),
    bi AS (
      SELECT ts[i] AS tok_a, ts[i+1] AS tok_b
      FROM toks, unnest(range(1, len(ts))) AS r(i)
    ),
    bic AS (SELECT tok_a, tok_b, count(*) AS c_ab FROM bi GROUP BY 1, 2),
    mtot AS (SELECT sum(c_ab)::DOUBLE AS m_bi FROM bic)
    SELECT tok_a, tok_b, c_ab,
           {_PMI_Q.format(ca="ua.c", cb="ub.c")} AS pmi_micro
    FROM bic
    JOIN uni ua ON bic.tok_a = ua.tok
    JOIN uni ub ON bic.tok_b = ub.tok
    CROSS JOIN tot CROSS JOIN mtot
    WHERE c_ab >= {_PMI_MIN_COUNT}
    """,
)
def bigram_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of adjacent token pairs — the
    collocation / merge-candidate statistic a BPE-style tokenizer trainer
    ranks in its first iteration (most-attracted adjacent pairs), and the
    classic corpus-linguistics collocation score:
    PMI = ln(p(ab) / (p(a) p(b))) with p(ab) = c_ab/M, p(a) = c_a/N.

    Scale design: bigrams come from a map-side transform over each doc's
    token array (struct per adjacent pair; docs with < 2 tokens are
    filtered before the explode — never a positional self-join on
    (doc, pos)). Two aggregations collapse the streams to vocab-sized
    (unigram) and pair-vocab-sized (bigram) count tables; the unigram
    table rides the same broadcast justification as the CCNet unigram
    model (vocabulary grows sublinearly in corpus size), totals are 1-row
    broadcasts, and the pair table never re-touches the corpus. PMI values
    are quantized to integer micro-nats inside an identically-parenthesized
    ratio (_PMI_Q) so the driver hash is engine-stable. The c_ab >=
    {_PMI_MIN_COUNT} support floor is the standard collocation guard
    against PMI's low-count explosion (rare pairs otherwise dominate)."""
    from drug_target_discovery_spark.caching import scoped_cache

    docs = load_table(spark, sf_dir, "documents")
    ts = docs.select(
        F.filter(F.split(F.col("text"), " "), lambda t: t != "").alias("ts")
    )
    uni = scoped_cache(
        ts.select(F.explode("ts").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    n_row = uni.agg(F.sum("c").alias("n_tok"))
    bic = scoped_cache(
        ts.filter(F.size("ts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts)-1),"
                    " i -> struct(element_at(ts, i) AS tok_a,"
                    " element_at(ts, i+1) AS tok_b))"
                )
            ).alias("p")
        )
        .select("p.tok_a", "p.tok_b")
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    m_row = bic.agg(F.sum("c_ab").cast("double").alias("m_bi"))
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    return (
        bic.filter(F.col("c_ab") >= _PMI_MIN_COUNT)
        .join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(F.broadcast(n_row))
        .crossJoin(F.broadcast(m_row))
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            F.expr(_PMI_Q.format(ca="c_a", cb="c_b")).alias("pmi_micro"),
        )
    )


# --------------------------------------------------------------------------
# Reciprocal-rank fusion of the lexical and vector retrieval lists
# --------------------------------------------------------------------------
_RRF_K = 60     # the standard RRF damping constant (Cormack et al. 2009)
_RRF_C = 100    # per-list candidate cutoff before fusion
_RRF_TOP = 20   # fused top-k


@register(
    "reciprocal_rank_fusion",
    tags=("corpus", "retrieval", "similarity"),
    oracle=f"""
    WITH {_BM25_SCORED_SQL},
    cand AS (
      SELECT p.doc_id, p.s_sum,
             {{dot}} / ({{norm_c}} * {{norm_q}}) AS cosine
      FROM persum p
      JOIN embeddings e ON e.vec_id = p.doc_id
      CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS qemb FROM embeddings
                  WHERE vec_id = {_HYBRID_QVEC}) qv
      WHERE {{norm_e}} > 0
    ),
    bm AS (
      SELECT doc_id, r FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY s_sum DESC, doc_id ASC) AS r
        FROM cand
      ) WHERE r <= {_RRF_C}
    ),
    cs AS (
      SELECT doc_id, r FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS r
        FROM cand
      ) WHERE r <= {_RRF_C}
    ),
    fused AS (
      SELECT coalesce(bm.doc_id, cs.doc_id) AS doc_id,
             CAST(bm.r AS INT) AS bm25_rank,
             CAST(cs.r AS INT) AS cos_rank,
             CAST(coalesce(CAST(floor(1000000000.0 / ({_RRF_K} + bm.r) + 0.5)
                                AS BIGINT), 0)
                + coalesce(CAST(floor(1000000000.0 / ({_RRF_K} + cs.r) + 0.5)
                                AS BIGINT), 0) AS BIGINT) AS rrf_q
      FROM bm FULL JOIN cs ON bm.doc_id = cs.doc_id
    )
    SELECT doc_id, bm25_rank, cos_rank,
           {rnd_sql("rrf_q / 1000000000.0", 9)} AS rrf_score
    FROM fused
    ORDER BY rrf_q DESC, doc_id ASC
    LIMIT {_RRF_TOP}
    """.format(
        dot="list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), qv.qemb), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, v) -> acc + v)",
        norm_c="sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(CAST(e.embedding AS DOUBLE[]), "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, v) -> acc + v))",
        norm_q="sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(qv.qemb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
        "(acc, v) -> acc + v))",
        norm_e="sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(CAST(e.embedding AS DOUBLE[]), "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, v) -> acc + v))",
    ),
)
def reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. SIGIR 2009) of the BM25
    lexical list and the cosine vector list over the shared candidate
    set: score(d) = sum over lists of 1/({_RRF_K} + rank_d) for the
    top-{_RRF_C} of each list, fused top-{_RRF_TOP} — the rank-only
    alternative to hybrid_retrieval_rerank's score interpolation
    (RRF needs no score normalization, which is why serving stacks
    default to it).

    Scale shape: both lists ride the shared _bm25_scored plan and the
    candidate-side embedding join (nothing new shuffles); each list
    truncates to {_RRF_C} via TakeOrderedAndProject BEFORE its rank
    window, so the empty-partitionBy row_number runs over a
    CONSTANT-bounded table, never the corpus. Per-list reciprocal terms
    quantize to integer nano-units before the two-term sum (exact in
    both engines; ranks are exact ints since BM25 scores are already
    micro-quantized and cosine doubles are IEEE-identical). The fusion
    join is {_RRF_C}-row full-outer — driver-trivial at any SF."""
    from pyspark.sql import Window as W

    from drug_target_discovery_spark.queries.similarity import (
        _DOT_SPARK,
        _NORM_SPARK,
    )

    scored = _bm25_scored(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    qv = emb.filter(F.col("vec_id") == _HYBRID_QVEC).select(
        F.col("emb").alias("qemb")
    )
    cosine = F.expr(_DOT_SPARK.format(a="emb", b="qemb")) / (
        F.expr(_NORM_SPARK.format(a="emb")) * F.expr(_NORM_SPARK.format(a="qemb"))
    )
    cand = (
        scored.join(emb, scored.doc_id == emb.vec_id)
        .filter(F.expr(_NORM_SPARK.format(a="emb")) > 0)
        .crossJoin(F.broadcast(qv))
        .select("doc_id", "s_sum", cosine.alias("cosine"))
    )
    # unpartitioned rank windows bounded: inputs = top-_RRF_C
    # truncations (constant-size, truncate-before-rank)
    bm_top = cand.orderBy(F.desc("s_sum"), F.asc("doc_id")).limit(_RRF_C)
    bm = bm_top.withColumn(
        "r", F.row_number().over(W.orderBy(F.desc("s_sum"), F.asc("doc_id")))
    ).select(F.col("doc_id").alias("b_doc"), F.col("r").alias("b_r"))
    cs_top = cand.orderBy(F.desc("cosine"), F.asc("doc_id")).limit(_RRF_C)
    # bounded: top-_RRF_C truncation again
    cs = cs_top.withColumn(
        "r", F.row_number().over(W.orderBy(F.desc("cosine"), F.asc("doc_id")))
    ).select(F.col("doc_id").alias("c_doc"), F.col("r").alias("c_r"))
    term = lambda r: F.coalesce(  # noqa: E731
        F.floor(1000000000.0 / (_RRF_K + r) + F.lit(0.5)).cast("long"), F.lit(0)
    )
    fused = bm.join(cs, bm.b_doc == cs.c_doc, "full_outer").select(
        F.coalesce(F.col("b_doc"), F.col("c_doc")).alias("doc_id"),
        F.col("b_r").cast("int").alias("bm25_rank"),
        F.col("c_r").cast("int").alias("cos_rank"),
        (term(F.col("b_r")) + term(F.col("c_r"))).alias("rrf_q"),
    )
    return (
        fused.select(
            "doc_id",
            "bm25_rank",
            "cos_rank",
            rnd(F.col("rrf_q") / 1000000000.0, 9).alias("rrf_score"),
            "rrf_q",
        )
        .orderBy(F.desc("rrf_q"), F.asc("doc_id"))
        .limit(_RRF_TOP)
        .drop("rrf_q")
    )
