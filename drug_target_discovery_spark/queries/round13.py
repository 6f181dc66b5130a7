"""Round-13 operators (tests-only lane, capacity-policy rule 3):
per-domain incremental URL dedup, the per-domain downsampler,
frequency-capped BPE training, the PII redaction census, and CCNet
perplexity head/middle/tail buckets.

Per-domain INCREMENTAL URL dedup — the natural next CCNet pass after
round 12's ``url_canonical_dedup`` + ``domain_quality_rollup``
(VERDICT r12 #9): a NEW crawl batch is deduplicated against the
existing reference corpus by canonical URL, and the result is rolled
up to the domain grain the curation pipeline acts on. Rides two
existing memo families: the URL canonicalization expressions
(``round12.canonical_url_col`` / ``canonical_host_col`` and their
DuckDB twins) and the batch-vs-reference split convention of
``dedup.dedup_against_reference``.

Reference parity note: the reference engine (pipeline2.py) has no crawl
machinery — this tier extends the engine for LLM-data-pipeline work as
SURVEY.md §2.12 directs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drug_target_discovery_spark.functions.rounding import rnd, rnd_sql
from drug_target_discovery_spark.operators.dedup import (
    MD5_INT_DUCK,
    MD5_INT_SPARK,
)
from drug_target_discovery_spark.queries.round12 import (
    _BPE_SCHEMA,
    _CANON_URL_DUCK_CTES,
    _DOMAIN_FLAG_DEN,
    _DOMAIN_FLAG_NUM,
    _DOMAIN_LOWQ_CHARS,
    _LOCAL_VOCAB_CEILING,
    _MESSY_URL_DUCK,
    _local_bpe,
    _word_counts,
    canonical_host_col,
    canonical_url_col,
    domain_quality_rollup,
    messy_url_col,
)
from drug_target_discovery_spark.sources.tables import load_table

# New-crawl batch membership: doc_id % _BATCH_MOD == 0, plus the whole
# canonical class 13 (doc_id % 200 == 13). The modulus is 7, NOT the 5
# dedup_against_reference uses, because the messy-URL fixture's domain
# is doc_id % 40 and 5 | 40 — a %5 split would make batch membership a
# per-DOMAIN constant (only domains ≡ 0 mod 5 would ever see batch
# docs, and no batch canonical URL could exist in the reference). 7 is
# coprime with both fixture moduli (40 domains, 25 paths), so every
# domain mixes batch and reference docs and canonical collisions
# genuinely straddle the split. The class-13 clause makes ONE canonical
# group all-batch at every SF (a newly discovered URL re-crawled
# several times within one batch) — without it the within-batch dup
# tier is structurally zero below lcm(7, 200) = 1400 documents, and a
# committed artifact column that can't leave zero discriminates
# nothing (the VERDICT r12 #6 lesson).
_BATCH_MOD = 7
_BATCH_CLASS = 13  # doc_id % 200 == 13 -> all-batch canonical group


def _is_batch_col():
    d = F.col("doc_id")
    return (d % _BATCH_MOD == 0) | (d % 200 == _BATCH_CLASS)


_IS_BATCH_DUCK = (
    f"(doc_id % {_BATCH_MOD} = 0 OR doc_id % 200 = {_BATCH_CLASS})"
)


def incremental_url_dedup_by_domain(
    spark: SparkSession,
    sf_dir: str,
    docs: "DataFrame | None" = None,
    ref_urls: "DataFrame | None" = None,
) -> DataFrame:
    """Per-domain incremental crawl dedup by canonical URL — the CCNet
    pass run on every NEW crawl batch before any content hashing: a
    re-crawled page whose canonical URL the reference corpus already
    holds is a duplicate no text digest is needed to find, and the
    keep/drop decision is made per domain. One row per domain present
    in the batch:

      domain           canonical host (``canonical_host_col``)
      n_batch_docs     new-crawl docs under the domain
      n_ref_dup        batch docs whose canonical URL already exists in
                       the reference corpus
      n_batch_dup      batch docs that collapse into another batch doc's
                       canonical URL (group size - 1 per novel group)
      n_novel_urls     distinct canonical URLs the batch contributes
                       that the reference has never seen
      novel_url_share  n_novel_urls / n_batch_docs, rounded

    Every batch doc is counted exactly once:
    n_batch_docs = n_ref_dup + n_batch_dup + n_novel_urls (a novel
    group of size n contributes n-1 batch-dups + 1 novel URL) — pinned
    by a property test.

    Scale shape (the reason this is count-only, no representative
    join-back): canonicalization is map-side codegen (zero UDF); the
    batch aggregates ONCE to the (domain, canon_url) grain (map-side
    combined — the shuffle carries canonical URLs, never docs); the
    reference side is its DISTINCT canonical-URL set; the two meet in
    ONE equi-join on canon_url (batch-group-sized left, AQE broadcasts
    if small); then ONE domain-grain rollup. Whether a batch doc is a
    ref-dup or a batch-dup is a property of its GROUP, so no per-doc
    join or window is ever needed.

    Calling contracts:

    - PRODUCTION: pass ``docs`` = the NEW crawl batch (doc_id, url; all
      rows are the batch) and ``ref_urls`` = the pre-materialized
      reference canonical-URL set (one ``canon_url`` column — at 100 TB
      the precomputed, bucketed crawl-index table every CCNet
      deployment maintains; rebuilding it per batch would scan the
      corpus). Same contract as the streaming twin
      (``streaming.crawl.crawl_ingest_url_dedup``).
    - FIXTURE (``ref_urls=None``): ``docs`` defaults to the documents
      table with the deterministic ``messy_url_col`` column, split into
      batch/reference by ``_is_batch_col`` (doc_id % 7 == 0 plus
      canonical class 13) — this mode exists for the testdata, which
      carries no second crawl, and scans ``docs`` twice (fine at
      fixture scale; production uses the first contract).

    Tests-only lane; prepared oracle ``_INCR_URL_DEDUP_ORACLE``
    (DuckDB) + property/edge tests in tests/test_round13_ops.py.
    """
    if docs is None:
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id")
            .withColumn("url", messy_url_col())
        )
    if ref_urls is None:
        rows = docs.select(
            _is_batch_col().alias("is_batch"),
            canonical_host_col(F.col("url")).alias("domain"),
            canonical_url_col(F.col("url")).alias("canon_url"),
        )
        batch = rows.filter("is_batch").drop("is_batch")
        ref_urls = rows.filter(~F.col("is_batch")).select("canon_url")
    else:
        batch = docs.select(
            canonical_host_col(F.col("url")).alias("domain"),
            canonical_url_col(F.col("url")).alias("canon_url"),
        )
        ref_urls = ref_urls.select("canon_url")
    batch_groups = batch.groupBy("domain", "canon_url").agg(
        F.count(F.lit(1)).alias("n")
    )
    ref_set = ref_urls.distinct().withColumn("in_ref", F.lit(True))
    flagged = batch_groups.join(ref_set, "canon_url", "left").select(
        "domain", "n", F.coalesce("in_ref", F.lit(False)).alias("in_ref")
    )
    zero = F.lit(0).cast("long")
    g = flagged.groupBy("domain").agg(
        F.sum("n").alias("n_batch_docs"),
        F.sum(F.when(F.col("in_ref"), F.col("n")).otherwise(zero)).alias(
            "n_ref_dup"
        ),
        F.sum(
            F.when(~F.col("in_ref"), F.col("n") - 1).otherwise(zero)
        ).alias("n_batch_dup"),
        F.sum(F.when(~F.col("in_ref"), F.lit(1).cast("long")).otherwise(zero)).alias(
            "n_novel_urls"
        ),
    )
    return g.select(
        "domain",
        "n_batch_docs",
        "n_ref_dup",
        "n_batch_dup",
        "n_novel_urls",
        rnd(F.col("n_novel_urls") / F.col("n_batch_docs"), 6).alias(
            "novel_url_share"
        ),
    ).orderBy("domain")


# ---------------------------------------------------------------------------
# Per-domain downsampling (the CCNet ACT-on-rollup pass)
# ---------------------------------------------------------------------------

# Keep-rate (permille) for docs under a FLAGGED domain; unflagged
# domains keep everything. 300 gives the committed census real
# variation (flagged domains land near 0.3 with per-domain scatter).
_DOWNSAMPLE_PERMILLE = 300

_DOC_HASH_SPARK = MD5_INT_SPARK.format(col="CAST(doc_id AS STRING)")
_DOC_HASH_DUCK = MD5_INT_DUCK.format(col="CAST(doc_id AS VARCHAR)")


def per_domain_downsample(
    spark: SparkSession,
    sf_dir: str,
    docs: "DataFrame | None" = None,
    flagged_keep_permille: int = _DOWNSAMPLE_PERMILLE,
) -> DataFrame:
    """The CCNet curation chain's ACTING pass — the step after
    ``round12.domain_quality_rollup`` decides which domains are
    problematic: docs under an UNFLAGGED domain are kept in full; docs
    under a FLAGGED domain are deterministically downsampled (keep iff
    md5(doc_id) % 1000 < ``flagged_keep_permille`` — the
    ``hash_stratified_sample`` convention: no RNG, reproducible across
    engines and backfill reruns). One row per domain, the audit census
    a curation pipeline logs next to the shard manifest:

      domain       canonical host
      flagged      the rollup's strict-majority flag (same expression,
                   same canonical_host_col — the two passes cannot
                   disagree on a domain)
      n_docs       documents under the domain
      n_kept       documents surviving the downsample
      kept_share   n_kept / n_docs, rounded (1.0 for unflagged domains,
                   pinned by a property test)

    Scale shape: the flag table is the rollup's output — bounded by the
    registered-domain count — so it BROADCASTS into the doc stream
    (map-side join, the stream never shuffles for it); the keep
    decision is one md5 + modulo per doc (codegen, no UDF); then ONE
    map-side-combinable aggregate to the domain grain. Composes the
    rollup's two bounded aggregates; nothing here is corpus-shuffled.

    ``docs`` defaults to the documents table with the deterministic
    ``messy_url_col`` fixture; production callers pass
    (doc_id, url, n_chars) — the same contract as the rollup.

    Tests-only lane; prepared oracle ``_DOMAIN_DOWNSAMPLE_ORACLE`` +
    keep-rule property/edge tests (tests/test_round13_ops.py)."""
    if docs is None:
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "n_chars")
            .withColumn("url", messy_url_col())
        )
    flags = domain_quality_rollup(spark, sf_dir, docs=docs).select(
        F.col("domain").alias("f_domain"), "flagged"
    )
    rows = docs.select(
        "doc_id", canonical_host_col(F.col("url")).alias("domain")
    )
    keep = (~F.col("flagged")) | (
        F.expr(_DOC_HASH_SPARK) % 1000 < F.lit(flagged_keep_permille)
    )
    # NULL-SAFE equi-join: a NULL canonical domain (e.g. a NULL url in
    # production input) groups under NULL in the rollup, and the census
    # must carry the same row — a plain equi-join would silently drop
    # those docs and the two passes would disagree on corpus totals.
    joined = rows.join(
        F.broadcast(flags), F.col("domain").eqNullSafe(F.col("f_domain"))
    ).drop("f_domain")
    g = joined.groupBy("domain", "flagged").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(keep.cast("long")).alias("n_kept"),
    )
    return g.select(
        "domain",
        "flagged",
        "n_docs",
        "n_kept",
        rnd(F.col("n_kept") / F.col("n_docs"), 6).alias("kept_share"),
    ).orderBy("domain")


_DOMAIN_DOWNSAMPLE_ORACLE = f"""
WITH raw AS (
  SELECT doc_id, n_chars, {_MESSY_URL_DUCK} AS url FROM documents
),
{_CANON_URL_DUCK_CTES.format(src="raw")},
per_url AS (
  SELECT canon_host AS domain, canon_url,
         count(*) AS n,
         sum(CASE WHEN n_chars < {_DOMAIN_LOWQ_CHARS} THEN 1 ELSE 0 END)
           AS n_lowq
  FROM canon GROUP BY canon_host, canon_url
),
flags AS (
  SELECT domain,
         ({_DOMAIN_FLAG_DEN} * (sum(n) - count(*)) > {_DOMAIN_FLAG_NUM} * sum(n)
          OR {_DOMAIN_FLAG_DEN} * sum(n_lowq) > {_DOMAIN_FLAG_NUM} * sum(n))
           AS flagged
  FROM per_url GROUP BY domain
),
kept AS (
  SELECT c.canon_host AS domain, f.flagged,
         CASE WHEN NOT f.flagged
                   OR ({_DOC_HASH_DUCK}) % 1000 < {_DOWNSAMPLE_PERMILLE}
              THEN 1 ELSE 0 END AS keep
  -- null-safe: NULL canonical domains must survive the join (twin of
  -- the Spark eqNullSafe)
  FROM canon c JOIN flags f ON c.canon_host IS NOT DISTINCT FROM f.domain
)
SELECT domain, flagged,
       count(*) AS n_docs,
       CAST(sum(keep) AS BIGINT) AS n_kept,
       {rnd_sql("sum(keep) * 1.0 / count(*)", 6)} AS kept_share
FROM kept
GROUP BY domain, flagged
ORDER BY domain
"""


# ---------------------------------------------------------------------------
# Frequency-capped BPE training (the above-ceiling production path)
# ---------------------------------------------------------------------------


def bpe_top_merges_capped(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    docs: "DataFrame | None" = None,
    top_words: int = _LOCAL_VOCAB_CEILING,
) -> DataFrame:
    """Frequency-capped BPE training — the production answer for a
    corpus whose DISTINCT-WORD count exceeds the driver-collect ceiling
    (`round12.bpe_top_merges_local`'s 2M valve). Round 13's Zipf probe
    (SCALING.md) measured the supposed distributed fallback
    (``bpe_top_merges_batched``) at 1.4-1.8 merges per driver round on
    a natural Zipf spectrum — 0.3-0.5s/round means production k (32K+)
    is driver-round-bound and NOT viable there either. What production
    trainers actually do above the ceiling is CAP THE WORD TABLE:
    HF tokenizers exposes ``min_frequency``, SentencePiece subsamples
    its input — a frequency cutoff on the word-count table before the
    in-memory merge loop. This operator is that shape made
    deterministic: train on the TOP-``top_words`` words by count
    (ties broken by word string, so the cap is a total order and the
    result is reproducible and oracle-able).

    Exactness contract: EXACT given the cap — the capped word table is
    a deterministic function of the corpus (DuckDB twin: ORDER BY cnt
    DESC, w LIMIT N), and training on it follows the same deterministic
    merge rule as every other trainer in the family (pinned against an
    independent python recompute in tools/lane_check.py and
    tests/test_round13_ops.py). APPROXIMATE w.r.t. the uncapped corpus
    — dropped tail words contribute nothing to pair counts — with the
    approximation MEASURED, not assumed: the bpecap probe (SCALING.md,
    round 13) reported first-k merge agreement vs the uncapped trainer
    at caps V/2, V/4, V/8 on the Zipf vocabulary (on a Zipf spectrum the tail
    carries a vanishing share of token mass, so agreement is high; the
    committed row is the evidence).

    Scale shape: ONE distributed word-count aggregate (map-side
    combined, the only corpus-sized work at any k), then a distributed
    TakeOrdered top-N (the ceiling-sized result is the POINT — N is
    chosen to fit the driver), then the vocabulary-sized incremental
    heap loop (``_local_bpe``). At 100 TB this is exactly the
    HF-tokenizers pipeline with the word counting done by the cluster.
    ``top_words`` is capped at the family's driver-collect ceiling
    (the local trainer's 2M valve): a cap past driver memory would
    reintroduce the exact OOM this operator exists to avoid.
    """
    if top_words > _LOCAL_VOCAB_CEILING:
        raise ValueError(
            f"bpe_top_merges_capped: top_words={top_words} exceeds the "
            f"driver-collect ceiling ({_LOCAL_VOCAB_CEILING}) — the cap "
            "must fit in driver memory; lower it (the bpecap probe "
            "measures how little compression quality a smaller cap costs)"
        )
    words = _word_counts(spark, sf_dir, docs)
    rows = words.orderBy(F.desc("cnt"), F.asc("w")).limit(top_words).collect()
    word_counts = sorted((r["w"], int(r["cnt"])) for r in rows)
    merges = _local_bpe(word_counts, k)
    if not merges:
        return spark.createDataFrame([], _BPE_SCHEMA)
    return spark.createDataFrame(merges, _BPE_SCHEMA)


# Batch-twin oracle for streaming.crawl.crawl_ingest_url_dedup on the
# documents fixture: the DETERMINISTIC columns of the novel-doc output
# are the distinct batch canonical URLs absent from the reference set
# (WHICH doc survives a canonical group is arrival/partition order by
# design — see the operator's determinism note).
_CRAWL_NOVEL_ORACLE = f"""
WITH raw AS (
  SELECT doc_id, {{messy}} AS url FROM documents
),
{{ctes}}
SELECT DISTINCT canon_url FROM canon
WHERE {{isbatch}}
  AND canon_url NOT IN (
    SELECT canon_url FROM canon WHERE NOT {{isbatch}}
  )
ORDER BY canon_url
""".format(
    messy=_MESSY_URL_DUCK,
    ctes=_CANON_URL_DUCK_CTES.format(src="raw"),
    isbatch=_IS_BATCH_DUCK,
)


# ---------------------------------------------------------------------------
# CCNet perplexity buckets (head / middle / tail per language)
# ---------------------------------------------------------------------------

_CCNET_LABELS = ("head", "middle", "tail")


def ccnet_perplexity_buckets(
    spark: SparkSession,
    sf_dir: str,
    broadcast_ceiling: "int | None" = None,
) -> DataFrame:
    """CCNet's defining pass (Wenzek et al. 2020, "CCNet: Extracting
    High Quality Monolingual Datasets from Web Crawl Data"): score
    every document with a language model, then split EACH LANGUAGE into
    perplexity terciles — head (most fluent third), middle, tail — so
    downstream consumers can pick head-only, head+middle, etc. The LM
    here is the corpus-trained Jelinek-Mercer bigram model shared with
    ``bigram_lm_quality_by_source`` (``round10._jm_doc_scores``, values
    lane-pinned); CCNet uses a pretrained KenLM, but the bucketing
    machinery — per-language score distribution, cutoffs, census — is
    identical and model-agnostic. One row per (lang, bucket):

      lang            language tag
      bucket          'head' | 'middle' | 'tail' (by DESCENDING mean
                      bigram log-prob: head = most probable = lowest
                      perplexity, the CCNet orientation)
      n_docs          documents in the bucket
      doc_share       n_docs / language total, rounded (≈⅓ up to
                      cutoff-tie granularity)
      n_bigrams       total scored bigrams in the bucket
      mean_logprob    bucket mean of the per-doc mean log10-prob,
                      rounded
      cut_hi_micro /  the bucket's best/worst per-doc integer
      cut_lo_micro    micro-log score — the published cutoffs a
                      production run reuses to bucket FUTURE batches
                      without re-ranking

    Bucketing semantics (histogram-cutoff form, NOT a per-doc rank):
    each doc's score is its integer micro-log mean floor(lp_sum / nb);
    docs aggregate to the (lang, score) HISTOGRAM grain; a score's
    bucket is least((docs_above * 3) div lang_total, 2) where
    docs_above counts docs with strictly better scores. All docs
    sharing a score land in one bucket (cutoff ties move whole score
    classes, exactly like CCNet's histogram cutoffs), and every
    arithmetic step is integer, so the assignment is cross-engine
    exact with no float ordering anywhere.

    Scale shape: the corpus-sized work is the shared LM scorer (two
    scans + the threshold-gated model join — see the round-10
    docstring); everything after runs at the (lang, score) histogram
    grain, which the micro-quantization BOUNDS at ~3M rows per
    language REGARDLESS of corpus size (scores live in
    [-: a few million, 0]) — so the per-lang cumulative window is a
    bounded-table window (the test_window_boundedness contract), never
    a corpus-sized sort. This is precisely why CCNet computes cutoffs
    from a histogram instead of ranking documents.

    Tests-only lane; prepared oracle ``_CCNET_BUCKETS_ORACLE`` +
    tercile/determinism property tests in tests/test_round13_ops.py.

    Reference parity note: the reference engine (pipeline2.py) has no
    corpus-quality machinery — SURVEY.md §2.12 tier.
    """
    from pyspark.sql import Window

    from drug_target_discovery_spark.queries.round10 import (
        _BG_BROADCAST_CEILING,
        _jm_doc_scores,
    )

    if broadcast_ceiling is None:
        broadcast_ceiling = _BG_BROADCAST_CEILING
    per_doc = _jm_doc_scores(
        spark, sf_dir, broadcast_ceiling, keys=("lang",)
    )
    scored = per_doc.select(
        "lang",
        F.floor(F.col("lp_sum") / F.col("nb")).cast("long").alias("score_q"),
        "nb",
    )
    hist = scored.groupBy("lang", "score_q").agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum("nb").alias("nbs"),
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy(F.desc("score_q"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lang = Window.partitionBy("lang")
    cum = hist.select(
        "lang",
        "score_q",
        "nd",
        "nbs",
        (F.sum("nd").over(w_cum) - F.col("nd")).alias("docs_above"),
        F.sum("nd").over(w_lang).alias("n_lang"),
    )
    lab = cum.withColumn(
        "b", F.least(F.expr("(docs_above * 3) div n_lang"), F.lit(2))
    )
    g = lab.groupBy("lang", "b").agg(
        F.sum("nd").alias("n_docs"),
        F.max("n_lang").alias("n_lang"),
        F.sum("nbs").alias("n_bigrams"),
        F.sum(F.col("score_q") * F.col("nd")).alias("score_mass"),
        F.max("score_q").alias("cut_hi_micro"),
        F.min("score_q").alias("cut_lo_micro"),
    )
    label = (
        F.when(F.col("b") == 0, F.lit(_CCNET_LABELS[0]))
        .when(F.col("b") == 1, F.lit(_CCNET_LABELS[1]))
        .otherwise(F.lit(_CCNET_LABELS[2]))
    )
    return g.select(
        "lang",
        label.alias("bucket"),
        "n_docs",
        rnd(F.col("n_docs") / F.col("n_lang"), 6).alias("doc_share"),
        "n_bigrams",
        rnd(F.col("score_mass") / (F.lit(1000000.0) * F.col("n_docs")), 6).alias(
            "mean_logprob"
        ),
        "cut_hi_micro",
        "cut_lo_micro",
        F.col("b").alias("_b"),
    ).orderBy("lang", "_b").drop("_b")


# Shared DuckDB twin of round10._jm_doc_scores at the (lang, doc_id)
# grain — used by both the CCNet-bucket and the kappa oracle (the
# Spark side shares the scorer the same way).
_JM_LANG_DUCK_CTES = """base AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
bg_stream AS (
  SELECT doc_id, lang, w[i] || ' ' || w[i + 1] AS bg
  FROM (SELECT * FROM base WHERE len(w) >= 2),
       unnest(range(1, len(w))) AS t(i)
),
bg_counts AS (
  SELECT bg, count(*)::DOUBLE AS c12 FROM bg_stream GROUP BY bg
),
ctx AS (
  SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
  FROM bg_counts GROUP BY 1
),
uni AS (
  SELECT token, count(*)::DOUBLE AS c2
  FROM (SELECT unnest(w) AS token FROM base)
  GROUP BY token
),
tot AS (SELECT sum(c2) AS n FROM uni),
model AS (
  SELECT bg,
         CAST(floor(log10({lam} * (c12 / c1) + {one_minus_lam} * (c2 / n))
                    * 1000000.0 + 0.5) AS BIGINT) AS lp_q
  FROM bg_counts
  JOIN ctx ON split_part(bg, ' ', 1) = ctx.w1
  JOIN uni ON split_part(bg, ' ', 2) = uni.token
  CROSS JOIN tot
),
per_doc AS (
  SELECT lang, doc_id,
         CAST(count(*) AS BIGINT) AS nb,
         CAST(sum(lp_q) AS BIGINT) AS lp_sum
  FROM bg_stream JOIN model USING (bg)
  GROUP BY lang, doc_id
)"""


_CCNET_BUCKETS_ORACLE = """
WITH {jm_ctes},
scored AS (
  SELECT lang, CAST(floor(lp_sum * 1.0 / nb) AS BIGINT) AS score_q, nb
  FROM per_doc
),
hist AS (
  SELECT lang, score_q, CAST(count(*) AS BIGINT) AS nd,
         CAST(sum(nb) AS BIGINT) AS nbs
  FROM scored GROUP BY 1, 2
),
cum AS (
  SELECT *,
         sum(nd) OVER (PARTITION BY lang ORDER BY score_q DESC
                       ROWS UNBOUNDED PRECEDING) - nd AS docs_above,
         sum(nd) OVER (PARTITION BY lang) AS n_lang
  FROM hist
),
lab AS (
  SELECT *, least((docs_above * 3) // n_lang, 2) AS b FROM cum
)
SELECT lang,
       CASE b WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END
         AS bucket,
       CAST(sum(nd) AS BIGINT) AS n_docs,
       {share} AS doc_share,
       CAST(sum(nbs) AS BIGINT) AS n_bigrams,
       {meanlp} AS mean_logprob,
       max(score_q) AS cut_hi_micro,
       min(score_q) AS cut_lo_micro
FROM lab
GROUP BY lang, b
ORDER BY lang, b
"""


def _ccnet_oracle() -> str:
    from drug_target_discovery_spark.queries.round10 import _JM_LAMBDA

    return _CCNET_BUCKETS_ORACLE.format(
        jm_ctes=_JM_LANG_DUCK_CTES.format(
            lam=_JM_LAMBDA, one_minus_lam=1 - _JM_LAMBDA
        ),
        share=rnd_sql("sum(nd) * 1.0 / max(n_lang)", 6),
        meanlp=rnd_sql("sum(score_q * nd) / (1000000.0 * sum(nd))", 6),
    )


# ---------------------------------------------------------------------------
# Quality-gate agreement (Cohen's kappa: heuristic gate vs LM gate)
# ---------------------------------------------------------------------------


def quality_gate_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the engine's two document-quality gates —
    the heuristic Gopher-rules keep flag (``gopher_quality_flags``'s
    per-doc rule: word-count band, mean-word-length band, stopword
    presence) and the bigram-LM gate (``bigram_lm_quality_by_source``'s
    integer low-quality rule, inverted to a keep flag). The Gopher
    paper's own observation is that heuristic and model-based filters
    capture DIFFERENT documents; this operator is the statistic a
    pipeline reports to quantify that — chance-corrected agreement, per
    language, with the full confusion census a reviewer asks for:

      lang              language tag
      n_docs            docs scored by BOTH gates (the intersection:
                        the LM gate needs >= 2 tokens, the heuristic
                        gate >= 1 word — documented, pinned by a test)
      n_keep_keep /     the 2x2 confusion cells (heuristic x LM):
      n_keep_drop /     kk = both keep, kd = heuristic keeps & LM
      n_drop_keep /     drops, dk / dd likewise
      n_drop_drop
      p_observed        (kk + dd) / n, rounded
      p_chance          marginal-product chance agreement, rounded
      kappa             (po - pe) / (1 - pe), rounded; NULL when both
                        raters are constant (pe = 1 — kappa undefined)

    Every input to the floats is an exact integer cell, and the float
    expressions are written identically in both engines (same
    operation order), so the rounded statistics are cross-engine
    exact. The integer low-quality comparison is the round-10 rule
    verbatim (lp_sum < threshold_micro * nb — never a float mean).

    Scale shape: the heuristic gate is one map-side codegen pass (no
    explode — aggregate/arrays_overlap over the word array); the LM
    gate is the shared ``_jm_doc_scores`` scorer (its own documented
    shape); the two meet in ONE doc-grain equi-join and collapse
    immediately to the 2x2-cells-per-language grain via a map-side
    combinable aggregate — the shuffle carries confusion cells, not
    documents. Output is language-vocabulary-sized.

    Tests-only lane; prepared oracle ``_kappa_oracle()`` + hand
    confusion-matrix / intersection-domain / kappa-edge tests in
    tests/test_round13_ops.py.

    Reference parity note: the reference engine (pipeline2.py) has no
    inter-gate analytics — SURVEY.md §2.12 tier.
    """
    from drug_target_discovery_spark.queries.quality import (
        _ALL_STOPWORDS,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_WORDS,
        GOPHER_MWL_HI,
        GOPHER_MWL_LO,
    )
    from drug_target_discovery_spark.queries.round10 import (
        _JM_LOWQ_MICRO,
        _jm_doc_scores,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("w")
    )
    sum_len = F.aggregate(
        F.transform(F.col("w"), lambda x: F.length(x)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    stop_arr = F.array([F.lit(s) for s in _ALL_STOPWORDS])
    heur = docs.filter(F.size("w") > 0).select(
        "doc_id",
        "lang",
        (
            F.size("w").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
            & (sum_len * 1.0 / F.size("w")).between(GOPHER_MWL_LO, GOPHER_MWL_HI)
            & F.arrays_overlap(F.col("w"), stop_arr)
        )
        .cast("long")
        .alias("keep_h"),
    )
    lm = _jm_doc_scores(spark, sf_dir, keys=("lang",)).select(
        "doc_id",
        (~(F.col("lp_sum") < F.lit(_JM_LOWQ_MICRO) * F.col("nb")))
        .cast("long")
        .alias("keep_lm"),
    )
    j = heur.join(lm, "doc_id")
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    cells = j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when((F.col("keep_h") == 1) & (F.col("keep_lm") == 1), one).otherwise(zero)
        ).alias("kk"),
        F.sum(
            F.when((F.col("keep_h") == 1) & (F.col("keep_lm") == 0), one).otherwise(zero)
        ).alias("kd"),
        F.sum(
            F.when((F.col("keep_h") == 0) & (F.col("keep_lm") == 1), one).otherwise(zero)
        ).alias("dk"),
        F.sum(
            F.when((F.col("keep_h") == 0) & (F.col("keep_lm") == 0), one).otherwise(zero)
        ).alias("dd"),
    )
    n = F.col("n_docs")
    po = (F.col("kk") + F.col("dd")) * 1.0 / n
    p_a = (F.col("kk") + F.col("kd")) * 1.0 / n
    p_b = (F.col("kk") + F.col("dk")) * 1.0 / n
    pe = p_a * p_b + (1.0 - p_a) * (1.0 - p_b)
    kappa = F.when(1.0 - pe == 0.0, F.lit(None).cast("double")).otherwise(
        (po - pe) / (1.0 - pe)
    )
    return cells.select(
        "lang",
        "n_docs",
        F.col("kk").alias("n_keep_keep"),
        F.col("kd").alias("n_keep_drop"),
        F.col("dk").alias("n_drop_keep"),
        F.col("dd").alias("n_drop_drop"),
        rnd(po, 6).alias("p_observed"),
        rnd(pe, 6).alias("p_chance"),
        rnd(kappa, 6).alias("kappa"),
    ).orderBy("lang")


_KAPPA_ORACLE = """
WITH {jm_ctes},
heur AS (
  SELECT doc_id, lang,
         CASE WHEN len(wr) BETWEEN {g_min_words} AND {g_max_words}
                   AND list_sum(list_transform(wr, x -> len(x))) * 1.0
                       / len(wr) BETWEEN {g_mwl_lo} AND {g_mwl_hi}
                   AND len(list_intersect(wr, [{stops}])) > 0
              THEN 1 ELSE 0 END AS keep_h
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS wr FROM documents)
  WHERE len(wr) > 0
),
lm AS (
  SELECT doc_id,
         CASE WHEN lp_sum < {lowq} * nb THEN 0 ELSE 1 END AS keep_lm
  FROM per_doc
),
cells AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN keep_h = 1 AND keep_lm = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS kk,
         CAST(sum(CASE WHEN keep_h = 1 AND keep_lm = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS kd,
         CAST(sum(CASE WHEN keep_h = 0 AND keep_lm = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS dk,
         CAST(sum(CASE WHEN keep_h = 0 AND keep_lm = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS dd
  FROM heur JOIN lm USING (doc_id)
  GROUP BY lang
)
SELECT lang, n_docs,
       kk AS n_keep_keep, kd AS n_keep_drop,
       dk AS n_drop_keep, dd AS n_drop_drop,
       {po} AS p_observed,
       {pe} AS p_chance,
       {kappa} AS kappa
FROM cells
ORDER BY lang
"""

_PO_SQL = "(kk + dd) * 1.0 / n_docs"
_PA_SQL = "(kk + kd) * 1.0 / n_docs"
_PB_SQL = "(kk + dk) * 1.0 / n_docs"
_PE_SQL = (
    f"({_PA_SQL}) * ({_PB_SQL})"
    f" + (1.0 - ({_PA_SQL})) * (1.0 - ({_PB_SQL}))"
)


def _kappa_oracle() -> str:
    from drug_target_discovery_spark.queries.quality import (
        _STOP_SQL,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_WORDS,
        GOPHER_MWL_HI,
        GOPHER_MWL_LO,
    )
    from drug_target_discovery_spark.queries.round10 import (
        _JM_LAMBDA,
        _JM_LOWQ_MICRO,
    )

    kappa_sql = (
        f"CASE WHEN 1.0 - ({_PE_SQL}) = 0.0 THEN NULL "
        f"ELSE (({_PO_SQL}) - ({_PE_SQL})) / (1.0 - ({_PE_SQL})) END"
    )
    return _KAPPA_ORACLE.format(
        jm_ctes=_JM_LANG_DUCK_CTES.format(
            lam=_JM_LAMBDA, one_minus_lam=1 - _JM_LAMBDA
        ),
        stops=_STOP_SQL,
        g_min_words=GOPHER_MIN_WORDS,
        g_max_words=GOPHER_MAX_WORDS,
        g_mwl_lo=GOPHER_MWL_LO,
        g_mwl_hi=GOPHER_MWL_HI,
        lowq=_JM_LOWQ_MICRO,
        po=rnd_sql(_PO_SQL, 6),
        pe=rnd_sql(_PE_SQL, 6),
        kappa=rnd_sql(kappa_sql, 6),
    )


# ---------------------------------------------------------------------------
# PII redaction census (the scrub pass every released corpus runs)
# ---------------------------------------------------------------------------

# Shared regex dialect: every construct below ({m,n} bounds, character
# classes, \\b ASCII word boundaries, non-capturing groups) means the
# same thing in Java regex (Spark codegen) and RE2 (DuckDB oracle) —
# the lane check pins the two engines' match counts AND redacted char
# mass against each other at every SF. No lookaround/backreferences
# (RE2 has neither).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_text_col():
    """Deterministic PII-bearing text fixture column for the documents
    table (the testdata text is clean word soup, so the lane entry
    DERIVES a scrubbing workload from doc_id arithmetic — identical
    expression in ``_PII_TEXT_DUCK``, the ``messy_url_col`` convention).
    Injection classes: doc_id % 7 == 0 appends an email (and the % 49
    subclass a SECOND one, so the per-doc count leaves {0,1}); % 9 == 1
    appends a zero-padded phone; % 11 == 2 appends an IPv4 whose octets
    sweep 0..255 (so octet width varies 1-3 digits). All three moduli
    are COPRIME with the fixture's source tag (source = doc_id % 20) —
    a modulus sharing a factor with 20 would make a census column
    constant-by-construction within some source (the first draft's
    % 4 email class made src0/src4/... 100%-email and the rest
    0%-email — a column that can't vary inside a row discriminates
    nothing, the VERDICT r12 #6 lesson again). The classes overlap
    (doc_id 35 carries email+IP, 28 email+phone) and leave a clean
    residue (doc_id 3 matches nothing), so every census column varies
    within every source at every SF."""
    d = F.col("doc_id")
    email = F.when(
        d % 7 == 0,
        F.concat(
            F.lit(" contact user"),
            (d % 50).cast("string"),
            F.lit("@mail"),
            (d % 5).cast("string"),
            F.lit(".org"),
        ),
    ).otherwise(F.lit(""))
    email2 = F.when(
        d % 49 == 0,
        F.concat(F.lit(" cc admin@mail"), (d % 9).cast("string"), F.lit(".net")),
    ).otherwise(F.lit(""))
    phone = F.when(
        d % 9 == 1,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((d % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((d % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        d % 11 == 2,
        F.concat(
            F.lit(" host 10."),
            (d % 256).cast("string"),
            F.lit("."),
            ((d * 3) % 256).cast("string"),
            F.lit("."),
            ((d * 7) % 256).cast("string"),
        ),
    ).otherwise(F.lit(""))
    return F.concat(F.col("text"), email, email2, phone, ip)


_PII_TEXT_DUCK = """
    (text
     || CASE WHEN doc_id % 7 = 0
             THEN ' contact user' || CAST(doc_id % 50 AS VARCHAR)
                  || '@mail' || CAST(doc_id % 5 AS VARCHAR) || '.org'
             ELSE '' END
     || CASE WHEN doc_id % 49 = 0
             THEN ' cc admin@mail' || CAST(doc_id % 9 AS VARCHAR) || '.net'
             ELSE '' END
     || CASE WHEN doc_id % 9 = 1
             THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             ELSE '' END
     || CASE WHEN doc_id % 11 = 2
             THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)
                  || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
             ELSE '' END)
"""


def pii_redacted_col(col, email_token="<EMAIL>", phone_token="<PHONE>", ip_token="<IP>"):
    """The redacted-text column a scrub pipeline actually writes out:
    chained GLOBAL ``regexp_replace`` (email -> phone -> IP) swapping
    each match for a typed placeholder token. Pure codegen (three JVM
    regex passes per value, zero UDF) — compose it into any projection;
    ``pii_redaction_census`` uses the same chain with empty
    replacements for its exact char-mass column. The placeholder
    strings contain no digits, so a later family's pattern can never
    match inside an earlier family's token."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, PII_EMAIL_RE, email_token),
            PII_PHONE_RE,
            phone_token,
        ),
        PII_IPV4_RE,
        ip_token,
    )


def pii_redaction_census(
    spark: SparkSession,
    sf_dir: str,
    docs: "DataFrame | None" = None,
) -> DataFrame:
    """PII scrub census — the regex redaction pass every released
    training corpus runs before anything else sees the text (BigScience
    ROOTS and RedPajama ship exactly this shape: email / phone / IP
    regexes swept over every document, with an audit census logged per
    source). One row per source, the numbers a data-governance review
    asks for:

      source         source tag
      n_docs         documents scanned
      n_email_docs   documents containing >=1 email match
      n_emails       total email matches
      n_phone_docs / n_phones    same for the phone pattern
      n_ip_docs / n_ips          same for the IPv4 pattern
      pii_chars      characters removed by the full sequential
                     redaction (email -> phone -> IP, each global)
      pii_doc_share  share of documents with ANY match, rounded

    Semantics worth pinning: per-family COUNTS are measured on the
    ORIGINAL text independently (a pathological token matching two
    families is counted by both); PII_CHARS is the sequential
    redaction's exact char mass, so overlap is never double-counted
    there. Both engines implement both definitions.

    Scale shape: the scan is one map-side codegen pass per document —
    three ``regexp_count`` + one chained ``regexp_replace`` + ``length``
    arithmetic, zero UDF, zero join — followed by ONE
    map-side-combinable aggregate to the source grain (bounded by the
    source vocabulary). The shuffle carries 20-ish census rows per
    partition, never text. At 100 TB this is scan-bound, which is the
    floor for any pass that must read every byte.

    ``docs`` defaults to the documents table with the deterministic
    ``pii_text_col`` fixture; production callers pass
    (doc_id, source, text). Tests-only lane; prepared oracle
    ``_PII_CENSUS_ORACLE`` + hand-fixture/property tests in
    tests/test_round13_ops.py.

    Reference parity note: the reference engine (pipeline2.py) has no
    text-scrub machinery — SURVEY.md §2.12 tier.
    """
    if docs is None:
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "text")
            .withColumn("text", pii_text_col())
        )
    t = F.col("text")
    redacted = pii_redacted_col(t, "", "", "")
    per_doc = docs.select(
        "source",
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).alias("n_email"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).alias("n_phone"),
        F.regexp_count(t, F.lit(PII_IPV4_RE)).alias("n_ip"),
        (F.length(t) - F.length(redacted)).alias("chars"),
    )
    hit = (F.col("n_email") + F.col("n_phone") + F.col("n_ip")) > 0
    g = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_email") > 0).cast("long")).alias("n_email_docs"),
        F.sum("n_email").cast("long").alias("n_emails"),
        F.sum((F.col("n_phone") > 0).cast("long")).alias("n_phone_docs"),
        F.sum("n_phone").cast("long").alias("n_phones"),
        F.sum((F.col("n_ip") > 0).cast("long")).alias("n_ip_docs"),
        F.sum("n_ip").cast("long").alias("n_ips"),
        F.sum("chars").cast("long").alias("pii_chars"),
        F.sum(hit.cast("long")).alias("n_hit"),
    )
    return g.select(
        "source",
        "n_docs",
        "n_email_docs",
        "n_emails",
        "n_phone_docs",
        "n_phones",
        "n_ip_docs",
        "n_ips",
        "pii_chars",
        rnd(F.col("n_hit") / F.col("n_docs"), 6).alias("pii_doc_share"),
    ).orderBy("source")


_PII_CENSUS_ORACLE = """
WITH raw AS (
  SELECT doc_id, source, {pii_text} AS text FROM documents
),
per_doc AS (
  SELECT source,
         len(regexp_extract_all(text, '{email}')) AS n_email,
         len(regexp_extract_all(text, '{phone}')) AS n_phone,
         len(regexp_extract_all(text, '{ipv4}')) AS n_ip,
         length(text) - length(
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{email}', '', 'g'),
               '{phone}', '', 'g'),
             '{ipv4}', '', 'g')) AS chars
  FROM raw
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_email_docs,
       CAST(sum(n_email) AS BIGINT) AS n_emails,
       CAST(sum(CASE WHEN n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_phone_docs,
       CAST(sum(n_phone) AS BIGINT) AS n_phones,
       CAST(sum(CASE WHEN n_ip > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ip_docs,
       CAST(sum(n_ip) AS BIGINT) AS n_ips,
       CAST(sum(chars) AS BIGINT) AS pii_chars,
       {share} AS pii_doc_share
FROM per_doc
GROUP BY source
ORDER BY source
""".format(
    pii_text=_PII_TEXT_DUCK,
    email=PII_EMAIL_RE,
    phone=PII_PHONE_RE,
    ipv4=PII_IPV4_RE,
    share=rnd_sql(
        "sum(CASE WHEN n_email + n_phone + n_ip > 0 THEN 1 ELSE 0 END)"
        " * 1.0 / count(*)",
        6,
    ),
)


_INCR_URL_DEDUP_ORACLE = f"""
WITH raw AS (
  SELECT doc_id, {_MESSY_URL_DUCK} AS url FROM documents
),
{_CANON_URL_DUCK_CTES.format(src="raw")},
batch_groups AS (
  SELECT canon_host AS domain, canon_url, count(*) AS n
  FROM canon WHERE {_IS_BATCH_DUCK}
  GROUP BY 1, 2
),
ref_urls AS (
  SELECT DISTINCT canon_url FROM canon WHERE NOT {_IS_BATCH_DUCK}
),
flagged AS (
  SELECT g.domain, g.n, (r.canon_url IS NOT NULL) AS in_ref
  FROM batch_groups g LEFT JOIN ref_urls r USING (canon_url)
)
SELECT domain,
       CAST(sum(n) AS BIGINT) AS n_batch_docs,
       CAST(sum(CASE WHEN in_ref THEN n ELSE 0 END) AS BIGINT) AS n_ref_dup,
       CAST(sum(CASE WHEN in_ref THEN 0 ELSE n - 1 END) AS BIGINT)
         AS n_batch_dup,
       CAST(sum(CASE WHEN in_ref THEN 0 ELSE 1 END) AS BIGINT)
         AS n_novel_urls,
       {rnd_sql("sum(CASE WHEN in_ref THEN 0 ELSE 1 END) * 1.0 / sum(n)", 6)}
         AS novel_url_share
FROM flagged
GROUP BY domain
ORDER BY domain
"""
