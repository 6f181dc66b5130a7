"""Round-9 additions, built in the TESTS-ONLY lane (the registration
freeze — queries/registry.py capacity policy): implemented, property-
tested, DuckDB-oracle-cross-checked in pytest, but NOT registered. If a
slot ever opens under the one-in-one-out rule, registration is a
decorator move.

- Character-level EXACT duplicate-substring spans (Lee, Ippolito et al.
  2022, "Deduplicating Training Data Makes Language Models Better" —
  the suffix-array operator class): every maximal character span of
  length >= L that occurs more than once ANYWHERE in the corpus
  (within or across documents), aggregated to a per-source duplication
  audit. The repo's shingle family (duplicate_span_detection,
  winnowing_fingerprints) approximates this class at token granularity;
  this operator is the exact-character ground truth they approximate.

- ANN index build/refresh health audit: per-cell utilization drift
  (PSI over the IVF coarse-quantizer cells) between the corpus an index
  was built on and an incremental refresh batch, with the standard
  PSI > 0.25 retrain decision — the composition that closes the
  build -> serve -> refresh loop over the existing IVF machinery
  (ann_ivf_bucketed_topk / ann_recall_eval / kmeans_lloyd_clusters).

- Newman-Girvan modularity of the LPA partition over the near-dup
  graph — the partition-quality number that tells a dedup reviewer
  whether the communities reflect real dense cores (library oracle:
  networkx modularity, the graph family's fixture pattern).

- BPE merge training (Sennrich 2016): the first k byte-pair merges
  learned distributed via the classic factoring (merge statistics
  need only the distinct-word count table — ONE corpus scan, then a
  vocabulary-sized iteration), with exact left-to-right non-overlap
  merge semantics pinned against a python recompute.

Round-10 additions (same lane, the loop-closing consumers VERDICT r9
#10 shortlisted):

- BPE tokenizer APPLICATION (bpe_encode_stats): encode the corpus with
  the learned merges, per-source fertility/compression stats — the
  train -> apply completion, sharing the trainer's exact merge fold.

- IVF drift-retrain executor (ivf_drift_retrain): acts on the refresh
  audit's retrain_needed flag — keeps the sign-bit quantizer census, or
  retrains a deterministic Lloyd model on base + batch — closing
  build -> serve -> audit -> RETRAIN.

- Deterministic epoch shuffle (deterministic_epoch_shuffle): seeded
  RNG-free global training-order permutation + balanced round-robin
  shard manifest, ranks through the prefix-sum operator's KEYLESS mode
  (no corpus-sized single-partition window).

Exactness contract as per round7.py/round8.py: integer char counts,
one IEEE division rounded through rnd/rnd_sql on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from drug_target_discovery_spark.caching import generations
from drug_target_discovery_spark.functions.rounding import rnd, rnd_sql
from drug_target_discovery_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# Exact duplicate-substring spans (suffix-array class, Spark-first)
# --------------------------------------------------------------------------
# Span length threshold. Lee et al. use 50 BPE tokens; at the synthetic
# corpus's short-doc scale the equivalent character threshold that still
# produces non-trivial structure is ~25 chars.
_SUBSTR_L = 25


def exact_substring_dup_stats(
    spark: SparkSession,
    sf_dir: str,
    min_len: int = _SUBSTR_L,
    trivial_dup_df: int | None = None,
) -> DataFrame:
    """Per-source exact duplicate-substring audit: for every document,
    the characters covered by some length->=``min_len`` substring that
    occurs >= 2 times in the corpus (counting within-document repeats,
    per Lee et al.'s suffix-array semantics), unioned into maximal
    spans, as (n_docs, docs_with_dup, dup_chars, total_chars,
    dup_share) per source.

    Spark-first design (NOT a suffix array — that is the single-node
    memory trick for this predicate; the distributed-exact equivalent
    is position-gram detection + interval union):

    1. Gram stream: transform+posexplode builds each doc's sliding
       ``min_len``-char grams WITHOUT replicating the text per
       position.
    2. HASH PRE-PASS (the scale lever): NO exchange ever carries the
       gram strings for the full position stream. Pass 1 shuffles only
       xxhash64(gram) — 8 bytes/position, map-side combined — to find
       duplicated hashes; the candidate filter then shuffles only
       (doc_id, i, h) positions (24 bytes/row; AQE broadcasts the
       dup-hash side when it is small). Shuffling raw grams would cost
       ~L x corpus bytes; this caps every position-stream exchange at
       position width regardless of L. Hash collisions only ever ADD
       candidates, never drop them.
    3. Exact verify on the candidate subset: re-extract the candidate
       grams with ONE doc-grain join back to the text (corpus-sized,
       not L x corpus-sized), then group the (tiny) candidate gram
       strings and keep true count >= 2 — collision-proof exactness.
    4. Interval union per doc: flagged position i covers chars
       [i, i+L-1]; sorted by i, a new span starts when the gap to the
       previous flagged position exceeds L. ONE window partitioned by
       doc_id (bounded by doc length), then two keyed aggregates to the
       (doc) and (source) grains — output bounded by the source domain.

    The grain arithmetic stays in BIGINT (chars per source << 2^63 at
    any SF); dup_share is one IEEE division rounded half-up on both
    engines.

    ``trivial_dup_df`` is the heavily-duplicated-corpus valve (the
    mitigation the x30 clone probe named, SCALING.md): hashes occurring
    >= this many times flag their positions DIRECTLY, skipping the
    exact gram verify — on a 100%-duplicated corpus pass 2 otherwise
    degenerates into a full corpus-wide gram-string aggregate (measured
    67x wall at 30x clone data). Default None = fully exact. With the
    valve on, a false flag requires a 64-bit xxhash collision landing
    inside a >=cap-df hash group (~|positions|^2 / 2^64 expected
    corpus-wide — astronomically rare, but not zero, hence opt-in);
    tests pin valve-on == valve-off on corpora with real high-df
    repeats."""
    L = int(min_len)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", F.length("text").alias("len")
    )
    # positions only exist for docs long enough to hold one gram;
    # sequence(1, len-L+1) on shorter docs would run DESCENDING (the
    # step -1 trap, cf. operators/rangejoin.py) — filter first.
    eligible = docs.filter(F.col("len") >= L)
    # transform + posexplode builds the gram HASH stream once per doc —
    # the gram string itself is hashed inside the projection and never
    # leaves the mapper (the python Column API can't pass a dynamic
    # position to substring — the whole expression runs JVM-side
    # through expr)
    positions = eligible.select(
        "doc_id",
        F.expr(
            f"posexplode(transform(sequence(1, len - {L} + 1),"
            f" i -> xxhash64(substring(text, i, {L}))))"
        ).alias("pos0", "h"),
    ).select("doc_id", (F.col("pos0") + 1).alias("i"), "h")

    # pass 1: duplicated HASHES — 8-byte keys, map-side combined
    hash_counts = (
        positions.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
    )
    if trivial_dup_df is not None:
        # heavily-duplicated valve: >= cap occurrences flag directly
        # (no gram ever extracted or shuffled for these positions)
        trivial = hash_counts.filter(F.col("cnt") >= int(trivial_dup_df)).select("h")
        dup_hashes = hash_counts.filter(
            F.col("cnt") < int(trivial_dup_df)
        ).select("h")
        trivially_flagged = positions.join(trivial, "h", "leftsemi").select(
            "doc_id", "i"
        )
    else:
        dup_hashes = hash_counts.select("h")
        trivially_flagged = None
    # candidate positions: 24-byte rows through the semi join (AQE
    # broadcasts dup_hashes when small)
    candidates = positions.join(dup_hashes, "h", "leftsemi").select("doc_id", "i")
    # pass 2: re-extract ONLY the candidate grams (doc-grain join back
    # to the text), exact-verify with a true count
    from drug_target_discovery_spark.caching import scoped_cache

    # query-scoped cache: cand_grams feeds both the verify aggregate and
    # the flagged filter (candidates are small by construction; the
    # POSITION stream is deliberately NOT cached — its recompute is two
    # map-only corpus scans, cheaper at 100 TB than materializing a
    # ~24-bytes-per-character frame)
    cand_grams = scoped_cache(
        candidates.join(eligible.select("doc_id", "text"), "doc_id").select(
            "doc_id", "i", F.expr(f"substring(text, i, {L})").alias("gram")
        )
    )
    dup_grams = (
        cand_grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select("gram")
    )
    flagged = cand_grams.join(dup_grams, "gram", "leftsemi").select("doc_id", "i")
    if trivially_flagged is not None:
        flagged = flagged.unionByName(trivially_flagged)

    # interval union: same-length intervals sorted by start merge iff
    # gap <= L; covered chars per span = max(i) - min(i) + L
    w = Window.partitionBy("doc_id").orderBy("i")
    spans = (
        flagged.withColumn("prev_i", F.lag("i").over(w))
        .withColumn(
            "new_span",
            F.when(
                F.col("prev_i").isNull() | (F.col("i") - F.col("prev_i") > L),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "span_id",
            F.sum("new_span").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("doc_id", "span_id")
        .agg((F.max("i") - F.min("i") + L).alias("covered"))
    )
    per_doc = spans.groupBy("doc_id").agg(F.sum("covered").alias("dup_chars"))

    return (
        docs.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("dup_chars").alias("docs_with_dup"),
            F.coalesce(F.sum("dup_chars"), F.lit(0)).alias("dup_chars"),
            F.sum("len").alias("total_chars"),
            # NULL share for a source of only empty docs (0/0)
            rnd(
                F.when(
                    F.sum("len") > 0,
                    F.coalesce(F.sum("dup_chars"), F.lit(0))
                    / F.sum("len").cast("double"),
                ),
                6,
            ).alias("dup_share"),
        )
        .orderBy("source")
    )


# Prepared oracle for the r10+ lane (and the pytest cross-check): same
# positions/dup-grams/interval-union program in DuckDB SQL.
_EXACT_SUBSTR_ORACLE = f"""
WITH pos AS (
  SELECT doc_id,
         unnest(generate_series(1, length(text) - {_SUBSTR_L} + 1)) AS i
  FROM documents WHERE length(text) >= {_SUBSTR_L}
),
g AS (
  SELECT p.doc_id, p.i, substr(d.text, CAST(p.i AS BIGINT), {_SUBSTR_L}) AS gram
  FROM pos p JOIN documents d ON d.doc_id = p.doc_id
),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
fl AS (SELECT doc_id, i FROM g WHERE gram IN (SELECT gram FROM dup)),
lagged AS (
  SELECT doc_id, i,
         lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev_i
  FROM fl
),
grp AS (
  SELECT doc_id, i,
         sum(CASE WHEN prev_i IS NULL OR i - prev_i > {_SUBSTR_L}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY i
                 ROWS UNBOUNDED PRECEDING) AS span_id
  FROM lagged
),
spans AS (
  SELECT doc_id, span_id, max(i) - min(i) + {_SUBSTR_L} AS covered
  FROM grp GROUP BY doc_id, span_id
),
per_doc AS (
  SELECT doc_id, CAST(sum(covered) AS BIGINT) AS dup_chars
  FROM spans GROUP BY doc_id
)
SELECT d.source,
       count(*) AS n_docs,
       count(p.doc_id) AS docs_with_dup,
       CAST(coalesce(sum(p.dup_chars), 0) AS BIGINT) AS dup_chars,
       CAST(sum(length(d.text)) AS BIGINT) AS total_chars,
       {rnd_sql(
           "CASE WHEN sum(length(d.text)) > 0 THEN"
           " coalesce(sum(p.dup_chars), 0)"
           " / CAST(sum(length(d.text)) AS DOUBLE) END", 6)} AS dup_share
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
GROUP BY d.source ORDER BY d.source
"""


# --------------------------------------------------------------------------
# ANN index build/refresh health audit (IVF utilization drift)
# --------------------------------------------------------------------------
# The production failure mode of a static ANN index: the coarse quantizer
# was built for yesterday's distribution, today's inserts pile into a few
# cells, probe cost and recall degrade silently. The audit below is the
# refresh gate every index maintainer runs before deciding to re-train.
_IVF_PSI_RETRAIN_T = 0.25  # the standard PSI "significant shift" threshold
# Laplace-style smoothing floor so an EMPTY cell on either side keeps the
# PSI term finite (same convention as psi_price_stability's bins)
_IVF_EPS = 1e-6


def ivf_index_refresh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell utilization drift of the deterministic 8-cell IVF coarse
    quantizer (the ``ann_ivf_bucketed_topk`` index) between the BASE
    corpus (vec_id % 10 != 9 — the vectors the index was "built" on) and
    an INCREMENTAL batch (vec_id % 10 == 9, the refresh arrivals):

    - per cell: base/batch counts, occupancy shares, the PSI
      contribution (share_new - share_base) * ln(share_new/share_base)
      with an epsilon floor so empty cells stay finite,
    - plus each cell's verdict inputs surfaced: occupancy_ratio (>1 =
      the cell is gaining share) and the global retrain decision
      (total PSI > 0.25) repeated on every row so the 8-row result is
      self-contained.

    Precondition: both splits are non-empty (true for any corpus with
    >= 10 consecutive vec_ids); an empty split makes the share
    denominators 0, which ANSI mode surfaces as an explicit
    DIVIDE_BY_ZERO on both engines rather than a silent NULL/inf.

    Scale design: ONE scan of the embeddings table computing the cell
    id map-side from the first 3 dims (element_at — no vector math),
    one 8-cell-bounded aggregate with map-side partials (conditional
    counts for base/batch — no second scan, no join), then literal
    arithmetic on the 8-row frame. Nothing grows with corpus size
    except the scan; the index cell domain (2^3) bounds every exchange.
    Tests-only lane (registration freeze; oracle prepared below)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    cells = emb.select(
        F.expr(_IVF_BUCKET_SPARK).alias("cell"),
        (F.col("vec_id") % 10 == 9).cast("int").alias("is_batch"),
    )
    g = cells.groupBy("cell").agg(
        F.sum(1 - F.col("is_batch")).alias("n_base"),
        F.sum("is_batch").alias("n_batch"),
    )
    # the unpartitioned windows below run over the cell frame, bounded
    # by construction at 2^3 rows (the quantizer's cell domain — the
    # documented exemption class in tests/test_window_boundedness.py)
    tot_b = F.sum("n_base").over(Window.partitionBy())
    tot_n = F.sum("n_batch").over(Window.partitionBy())
    shares = g.select(
        "cell",
        "n_base",
        "n_batch",
        (F.col("n_base") / tot_b).alias("_sb"),
        (F.col("n_batch") / tot_n).alias("_sn"),
    )
    eps = F.lit(_IVF_EPS)
    sb = F.greatest(F.col("_sb"), eps)
    sn = F.greatest(F.col("_sn"), eps)
    psi_term = (sn - sb) * F.log(sn / sb)
    scored = shares.select(
        "cell",
        "n_base",
        "n_batch",
        rnd(F.col("_sb"), 6).alias("share_base"),
        rnd(F.col("_sn"), 6).alias("share_batch"),
        rnd(psi_term, 6).alias("psi_term"),
        rnd(sn / sb, 6).alias("occupancy_ratio"),
        psi_term.alias("_raw_term"),
    )
    # unpartitioned but bounded by construction: scored is the same
    # <= 2^3-row cell frame as above
    total_psi = F.sum("_raw_term").over(Window.partitionBy())
    return (
        scored.select(
            "cell",
            "n_base",
            "n_batch",
            "share_base",
            "share_batch",
            "psi_term",
            "occupancy_ratio",
            rnd(total_psi, 6).alias("total_psi"),
            (total_psi > _IVF_PSI_RETRAIN_T).alias("retrain_needed"),
        )
        .orderBy("cell")
    )


# same cell expression as similarity._BUCKET_SPARK / _BUCKET_DUCK —
# duplicated as literals so this module's oracle is self-contained
_IVF_BUCKET_SPARK = (
    "CAST(CASE WHEN element_at(emb, 1) > 0 THEN 4 ELSE 0 END "
    "+ CASE WHEN element_at(emb, 2) > 0 THEN 2 ELSE 0 END "
    "+ CASE WHEN element_at(emb, 3) > 0 THEN 1 ELSE 0 END AS INT)"
)
_IVF_BUCKET_DUCK = (
    "CAST(CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END "
    "+ CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END "
    "+ CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END AS INT)"
)

_IVF_REFRESH_ORACLE = f"""
WITH cells AS (
  SELECT {_IVF_BUCKET_DUCK} AS cell,
         CASE WHEN vec_id % 10 = 9 THEN 1 ELSE 0 END AS is_batch
  FROM embeddings
),
g AS (
  SELECT cell,
         CAST(sum(1 - is_batch) AS BIGINT) AS n_base,
         CAST(sum(is_batch) AS BIGINT) AS n_batch
  FROM cells GROUP BY cell
),
s AS (
  SELECT cell, n_base, n_batch,
         n_base / CAST(sum(n_base) OVER () AS DOUBLE) AS sb0,
         n_batch / CAST(sum(n_batch) OVER () AS DOUBLE) AS sn0
  FROM g
),
t AS (
  SELECT cell, n_base, n_batch, sb0, sn0,
         greatest(sb0, {_IVF_EPS}) AS sb,
         greatest(sn0, {_IVF_EPS}) AS sn
  FROM s
),
scored AS (
  SELECT cell, n_base, n_batch, sb0, sn0,
         (sn - sb) * ln(sn / sb) AS raw_term,
         sn / sb AS ratio
  FROM t
)
SELECT cell, n_base, n_batch,
       {rnd_sql("sb0", 6)} AS share_base,
       {rnd_sql("sn0", 6)} AS share_batch,
       {rnd_sql("raw_term", 6)} AS psi_term,
       {rnd_sql("ratio", 6)} AS occupancy_ratio,
       {rnd_sql("sum(raw_term) OVER ()", 6)} AS total_psi,
       (sum(raw_term) OVER ()) > {_IVF_PSI_RETRAIN_T} AS retrain_needed
FROM scored ORDER BY cell
"""


# --------------------------------------------------------------------------
# Modularity of the LPA communities (partition quality metric)
# --------------------------------------------------------------------------
def lpa_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity Q of the label-propagation partition
    over the LSH near-dup candidate graph — the quality number a
    community detection ships with (Newman 2006: Q = sum_c [m_c/m -
    (d_c/2m)^2] over communities c, with m edges, m_c intra-community
    edges, d_c the community's total degree). Complements the r10-queued
    ``label_propagation_communities``: LPA says WHAT the communities
    are, Q says whether the partition beats the random-graph baseline
    (Q near 0) or reflects real dense cores (Q >> 0).

    Scale design: communities ride the LPA loop (measured 2.7x at 10x
    edges); Q itself is ONE join of the distinct undirected edge list
    to the label table on each endpoint (two keyed joins) + a
    community-grain aggregate (degree sums, intra counts) + one
    bounded reduce to the single summary row. No window, no driver
    iteration; the only new exchanges are keyed on node/community.

    Tests-only lane; library oracle = networkx modularity on the same
    edges+partition (tests/test_round9_ops.py), the graph family's
    fixture pattern (closeness/harmonic precedent)."""
    from drug_target_discovery_spark.graph.algorithms import (
        label_propagation,
        modularity_summary,
    )
    from drug_target_discovery_spark.queries.dedup import candidate_pairs
    from drug_target_discovery_spark.queries.round8 import _LPA_ITERS

    pairs = candidate_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    labels = label_propagation(edges, n_iter=_LPA_ITERS)
    s = modularity_summary(edges, labels)
    return s.select(
        "n_nodes",
        "n_edges",
        "n_communities",
        rnd(F.col("modularity"), 6).alias("modularity"),
    )


# --------------------------------------------------------------------------
# BPE merge training (tokenizer-training operator, Sennrich 2016)
# --------------------------------------------------------------------------
_BPE_MERGES = 10


def _bpe_merge_fold(syms: "F.Column", left: str, right: str) -> "F.Column":
    """Exact left-to-right non-overlapping merge of the (left, right)
    symbol pair inside a symbol array, as one JVM-side aggregate() fold:
    acc carries (result-so-far, one pending symbol); a pending LEFT
    followed by RIGHT emits LEFT+RIGHT and clears, anything else flushes
    the pending symbol. Built with the Column API — the symbols are
    BOUND as literals (F.lit), never spliced into SQL text, so symbols
    containing quotes/backslashes/any byte are safe (ADVICE r9: the
    earlier expr-string form died on backslash-bearing corpora). '' is a
    safe no-pending sentinel: source symbols are single non-empty
    characters and merges only concatenate. Shared by training
    (bpe_top_merges) and application (bpe_encode_stats)."""
    lp, rp, mp = F.lit(left), F.lit(right), F.lit(left + right)
    return F.aggregate(
        syms,
        F.struct(
            F.array().cast("array<string>").alias("res"),
            F.lit("").alias("pend"),
        ),
        lambda acc, x: F.when(
            acc["pend"] == "",
            F.struct(acc["res"].alias("res"), x.alias("pend")),
        )
        .when(
            (acc["pend"] == lp) & (x == rp),
            F.struct(
                F.concat(acc["res"], F.array(mp)).alias("res"),
                F.lit("").alias("pend"),
            ),
        )
        .otherwise(
            F.struct(
                F.concat(acc["res"], F.array(acc["pend"])).alias("res"),
                x.alias("pend"),
            )
        ),
        lambda acc: F.when(acc["pend"] == "", acc["res"]).otherwise(
            F.concat(acc["res"], F.array(acc["pend"]))
        ),
    )


def bpe_top_merges(
    spark: SparkSession,
    sf_dir: str,
    k: int = _BPE_MERGES,
    docs: "DataFrame | None" = None,
) -> DataFrame:
    """The first ``k`` byte-pair-encoding merges learned from the corpus
    (Sennrich, Haddow & Birch 2016) — the tokenizer-training operator an
    LLM data pipeline runs before anything tokenizes. Deterministic:
    each iteration merges the adjacent symbol pair with the highest
    corpus frequency, ties broken by lexicographically smallest
    (left, right). Returns (merge_rank, left, right, merged,
    pair_count).

    Scale design — the classic BPE factoring: merge statistics depend
    only on the DISTINCT-WORD count table, so the corpus is scanned
    ONCE (whitespace tokenize -> word counts, map-side combined, the
    same exchange token_count_stats uses) and the k-iteration loop runs
    on the vocabulary-sized table (Zipf: ~sqrt-ish of token volume).
    Per iteration: adjacent pairs via zip_with over each word's symbol
    array (map-side), ONE vocabulary-bounded pair-count aggregate, a
    1-row argmax collect, and the merge applied JVM-side with an
    aggregate() fold implementing exact LEFT-TO-RIGHT NON-OVERLAPPING
    replacement ("a a a" + (a,a) -> "(aa) a" — the string-replace
    shortcut is wrong at symbol boundaries, e.g. pair (a,b) inside
    symbols ["xa","b"]). No end-of-word marker (documented deviation;
    adding '</w>' is one append on the symbol array).

    Tests-only lane; oracle = exact python recompute of the same
    deterministic algorithm (tests/test_round9_ops.py), the graph
    family's library-oracle evidence class.

    ``docs`` (round 11): train on an explicit (text) DataFrame instead
    of the full documents table — the curated-corpus tokenizer path
    (``round11.curated_epoch_manifest``). Default None keeps the
    original plan byte-identical."""
    if docs is None:
        docs = load_table(spark, sf_dir, "documents").select("text")
    else:
        docs = docs.select("text")
    words = (
        docs.select(F.explode(F.split("text", r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    merges = []

    def step(vocab: DataFrame) -> DataFrame | None:
        pairs = vocab.select(
            F.explode(
                F.expr(
                    "zip_with(slice(syms, 1, size(syms) - 1),"
                    " slice(syms, 2, size(syms) - 1),"
                    " (a, b) -> struct(a AS l, b AS r))"
                )
            ).alias("p"),
            "cnt",
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] <= 0:
            return None
        l, r, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
        merges.append((len(merges) + 1, l, r, l + r, n))
        return vocab.select(_bpe_merge_fold(F.col("syms"), l, r).alias("syms"), "cnt")

    # symbol arrays: one row per distinct word — the loop's working set,
    # one lineage-cut generation per merge (values pinned by the python
    # oracle in tests/test_round9_ops.py at k=10 and
    # tests/test_round12_ops.py at k up to 200)
    generations(
        words.select(F.expr("filter(split(w, ''), s -> s != '')").alias("syms"), "cnt"),
        step,
        k,
    )
    if not merges:
        return spark.createDataFrame(
            [],
            "merge_rank int, left string, right string, merged string,"
            " pair_count long",
        )
    return spark.createDataFrame(
        merges,
        "merge_rank int, left string, right string, merged string,"
        " pair_count long",
    )


def bpe_encode_stats(
    spark: SparkSession, sf_dir: str, k: int = _BPE_MERGES
) -> DataFrame:
    """Tokenizer APPLICATION — encode the corpus with the first ``k``
    learned BPE merges (the consumer of ``bpe_top_merges``, completing
    the train -> apply loop) and report the per-source tokenizer-fit
    statistics an LLM data pipeline reads before committing a tokenizer:

      n_words            total word occurrences
      n_tokens           total BPE tokens after the k merges
      n_chars            total word characters
      n_distinct_tokens  distinct token types the source uses
      fertility          n_tokens / n_words (tokens per word — the
                         fragmentation signal; 1.0 = every word fused)
      chars_per_token    n_chars / n_tokens (compression ratio)

    Scale design: training cost is documented at ``bpe_top_merges``
    (ONE corpus scan + vocabulary-sized iterations); application adds
    ONE more corpus scan collapsing to the (source, word) count grain
    (map-side combinable — the shuffle carries the per-source
    vocabulary, never the token stream), then the k merge folds compose
    into a single chained JVM-side projection over that bounded table
    (exact same ``_bpe_merge_fold`` the trainer used, so train and
    apply cannot drift), two bounded aggregates, and a
    source-domain-sized join. The merges table itself is k rows —
    driver-held and bound as literals.

    Exactness: all counts are exact BIGINTs; the two ratios are one
    IEEE division each, rounded through ``rnd`` (order-independent).

    Tests-only lane; oracle = exact python recompute of train + encode
    (tests/test_round9_ops.py), the bpe_top_merges evidence class.

    K CEILING (round 12): the merge folds chain in ONE projection, and
    the analyzer resolves one HOF-lambda level per Resolution iteration,
    aborting at 100 ("Max iterations (100) reached") — so this form is
    valid only for k below ~100 minus the surrounding expressions'
    resolution passes (the committed evidence runs k<=30; measured:
    depth 50 fine, depth 100 throws). For production tokenizers
    (k = 32K-100K) use ``round12.bpe_encode_stats_scaled``: identical
    output, merge list applied by an Arrow-batched pair-index encoder
    whose per-batch work is independent of k."""
    from drug_target_discovery_spark.caching import scoped_cache

    merges = [
        (r["left"], r["right"])
        for r in bpe_top_merges(spark, sf_dir, k=k).collect()
    ]
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    sw = (
        docs.select("source", F.explode(F.split("text", r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    syms = F.expr("filter(split(w, ''), s -> s != '')")
    for left, right in merges:
        syms = _bpe_merge_fold(syms, left, right)
    # (source, word) grain with the encoded token array — consumed by
    # two aggregates below, so query-scoped cache (diamond rule)
    enc = scoped_cache(sw.withColumn("toks", syms))
    base = enc.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_words"),
        F.sum(F.col("cnt") * F.size("toks")).cast("long").alias("n_tokens"),
        F.sum(F.col("cnt") * F.length("w")).cast("long").alias("n_chars"),
    )
    dtoks = (
        enc.select("source", F.explode("toks").alias("tok"))
        .groupBy("source")
        .agg(F.countDistinct("tok").cast("long").alias("n_distinct_tokens"))
    )
    return (
        base.join(dtoks, "source")
        .select(
            "source",
            "n_words",
            "n_tokens",
            "n_chars",
            "n_distinct_tokens",
            rnd(F.col("n_tokens") / F.col("n_words"), 6).alias("fertility"),
            rnd(F.col("n_chars") / F.col("n_tokens"), 6).alias(
                "chars_per_token"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# IVF drift-retrain executor (acts on the refresh audit's decision)
# --------------------------------------------------------------------------
_IVF_RETRAIN_K = 8
_IVF_RETRAIN_ITERS = 3

# no-retrain branch oracle: the occupied-cell census of the CURRENT
# sign-bit quantizer + the audit verdict repeated per row (DuckDB twin of
# the Spark branch; the retrain branch's oracle is the independent
# numpy_lloyd recompute in tests — the kmeans fixture evidence class)
_IVF_RETRAIN_NORETRAIN_ORACLE = f"""
WITH cells AS (
  SELECT {_IVF_BUCKET_DUCK} AS cell,
         CASE WHEN vec_id % 10 = 9 THEN 1 ELSE 0 END AS is_batch
  FROM embeddings
),
g AS (
  SELECT cell,
         CAST(sum(1 - is_batch) AS BIGINT) AS n_base,
         CAST(sum(is_batch) AS BIGINT) AS n_batch
  FROM cells GROUP BY cell
),
s AS (
  SELECT cell, n_base, n_batch,
         greatest(n_base / CAST(sum(n_base) OVER () AS DOUBLE), {_IVF_EPS}) AS sb,
         greatest(n_batch / CAST(sum(n_batch) OVER () AS DOUBLE), {_IVF_EPS}) AS sn
  FROM g
),
t AS (SELECT cell, n_base, n_batch, (sn - sb) * ln(sn / sb) AS raw_term FROM s)
SELECT cell AS cell_id,
       n_base + n_batch AS n_members,
       CAST(NULL AS BIGINT) AS centroid_norm_micro,
       false AS retrained,
       {rnd_sql("sum(raw_term) OVER ()", 6)} AS total_psi
FROM t ORDER BY cell_id
"""


def ivf_drift_retrain(
    spark: SparkSession,
    sf_dir: str,
    k: int = _IVF_RETRAIN_K,
    iters: int = _IVF_RETRAIN_ITERS,
) -> DataFrame:
    """The EXECUTOR for ``ivf_index_refresh_audit``'s retrain decision —
    the act step that closes the index build -> serve -> audit -> retrain
    loop (VERDICT r9 #10 stretch). Reads the audit's 8-row verdict
    (bounded collect, same class as the audit's own cell frame) and:

    - ``retrain_needed`` FALSE: keeps the current sign-bit quantizer —
      returns its occupied-cell census (cell id, member count) with
      ``retrained = false``; ``centroid_norm_micro`` is NULL (sign-bit
      cells have no trained centroid).
    - ``retrain_needed`` TRUE: trains a fresh deterministic Lloyd model
      (k clusters, ``iters`` rounds, the exact integer-sufficient-
      statistics loop of ``operators/kmeans.py`` — init = k smallest
      vec_ids) on base + batch TOGETHER (the drifted index must serve
      both), returning per-cluster member counts and centroid norms with
      ``retrained = true``.

    One stable schema either way:
      (cell_id, n_members, centroid_norm_micro, retrained, total_psi).

    Scale design: the branch decision reads ONE bounded (<= 2^3 rows)
    audit result; the no-retrain branch is one scan + cell-bounded
    aggregate; the retrain branch is the documented Lloyd loop (per
    round: map-side K x (D+1) integer partial sums, model-sized collect
    + re-broadcast — corpus size touches only the map side). Driver
    branching on a data-dependent flag is the operator's CONTRACT (act
    on the audit), not an incidental collect.

    Tests-only lane. Oracles: no-retrain branch vs the prepared DuckDB
    census SQL (_IVF_RETRAIN_NORETRAIN_ORACLE); retrain branch vs the
    independent plain-numpy Lloyd recompute (tools/gen_kmeans_oracle.py's
    ``numpy_lloyd``, the kmeans fixture evidence class) on a
    drift-triggering corpus."""
    import math

    from drug_target_discovery_spark.operators.kmeans import (
        QUANT_SCALE,
        final_assignment,
        lloyd_iterations,
        quantize_embeddings,
    )

    audit = ivf_index_refresh_audit(spark, sf_dir).collect()
    total_psi = float(audit[0]["total_psi"]) if audit else 0.0
    retrain = bool(audit[0]["retrain_needed"]) if audit else False
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    if not retrain:
        cells = emb.select(
            F.col("embedding").alias("emb")
        ).select(F.expr(_IVF_BUCKET_SPARK).alias("cell_id"))
        return (
            cells.groupBy("cell_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
            .select(
                "cell_id",
                "n_members",
                F.lit(None).cast("long").alias("centroid_norm_micro"),
                F.lit(False).alias("retrained"),
                F.lit(total_psi).alias("total_psi"),
            )
            .orderBy("cell_id")
        )
    vq = quantize_embeddings(emb)
    centroids = lloyd_iterations(vq, k, iters)
    counts = (
        final_assignment(vq, centroids)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    summary = []
    for j, c in enumerate(centroids):
        acc = 0.0
        for x in c:  # left-to-right, mirroring kmeans_lloyd_clusters
            acc += (x / QUANT_SCALE) ** 2
        summary.append((j, int(math.floor(math.sqrt(acc) * 1e6 + 0.5))))
    model = spark.createDataFrame(
        summary, "cell_id INT, centroid_norm_micro BIGINT"
    )
    return (
        model.join(counts, model["cell_id"] == F.col("cluster"), "left_outer")
        .select(
            "cell_id",
            F.coalesce(F.col("n_members"), F.lit(0))
            .cast("long")
            .alias("n_members"),
            "centroid_norm_micro",
            F.lit(True).alias("retrained"),
            F.lit(total_psi).alias("total_psi"),
        )
        .orderBy("cell_id")
    )


# --------------------------------------------------------------------------
# Deterministic epoch shuffle (seeded global permutation + shard manifest)
# --------------------------------------------------------------------------
_SHUF_SEED = "epoch1"
_SHUF_SHARDS = 8

# prepared DuckDB oracle for the default (seed, shards) — row_number over
# the identical md5-derived 60-bit key (tests substitute other seeds)
_EPOCH_SHUFFLE_ORACLE_TMPL = """
WITH h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('{seed}:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM documents
),
r AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT)
           AS shuffle_rank
  FROM h
)
SELECT doc_id, shuffle_rank,
       CAST(shuffle_rank % {shards} AS INT) AS shard_id
FROM r ORDER BY shuffle_rank
"""
_EPOCH_SHUFFLE_ORACLE = _EPOCH_SHUFFLE_ORACLE_TMPL.format(
    seed=_SHUF_SEED, shards=_SHUF_SHARDS
)


def deterministic_epoch_shuffle(
    spark: SparkSession,
    sf_dir: str,
    seed: str = _SHUF_SEED,
    n_shards: int = _SHUF_SHARDS,
    buckets: int = 64,
) -> DataFrame:
    """Seeded GLOBAL training-order shuffle as a manifest: every document
    gets its epoch position (``shuffle_rank``: the exact 0-based rank of
    its md5(seed:doc_id)-derived key) and a round-robin ``shard_id`` —
    the per-epoch data-order randomization a training pipeline needs,
    RNG-free and backfill-stable (same seed -> byte-identical manifest on
    any cluster, any partitioning, any rerun; a new epoch is a new seed).
    Round-robin on the rank makes shard sizes exactly balanced (differ by
    <= 1) — the property that keeps data-parallel workers in step.

    Plan — the keyless mode of ``range_partitioned_prefix_sum``: the
    exact global rank is an exclusive prefix sum of 1s over the hash-key
    order, so NO unbounded single-partition window ever materializes
    (rank windows run inside value-range buckets; the offset stitch is a
    window over the buckets-bounded totals table — the same machinery
    the Pareto deciles use, generalized). The order key is
    (h60 * 2^63 + doc_id) in DECIMAL(38,0) — unique by construction, so
    the operator's uniqueness precondition holds even across md5 60-bit
    prefix collisions at any corpus size. Seed and shard count are bound
    as Column literals / plain ints, never spliced into SQL.

    The production write path this manifest drives:
    ``repartitionByRange(n_shards, key).sortWithinPartitions(key)`` —
    one range exchange, no global sort on a single node.

    Tests-only lane; oracle = prepared DuckDB row_number SQL
    (_EPOCH_SHUFFLE_ORACLE) + independent hashlib recompute
    (tests/test_round9_ops.py)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    ranked = epoch_shuffle_ranks(docs, seed=seed, buckets=buckets)
    rank = F.col("shuffle_rank").cast("long")
    return ranked.select(
        "doc_id",
        rank.alias("shuffle_rank"),
        F.pmod(rank, F.lit(int(n_shards))).cast("int").alias("shard_id"),
    ).orderBy("shuffle_rank")


def epoch_shuffle_ranks(
    docs: "DataFrame",
    seed: str = _SHUF_SEED,
    buckets: int = 64,
    out: str = "shuffle_rank",
) -> "DataFrame":
    """Shared epoch-shuffle machinery — the exact global 0-based rank of
    md5(seed:doc_id) for every input row — used by BOTH
    ``deterministic_epoch_shuffle`` and the composed epoch pipeline
    (``round11.training_epoch_manifest``), so the composed run cannot
    drift from the standalone operator's evidence.

    ``docs`` must carry a unique non-negative BIGINT ``doc_id`` (the
    2^63 pack below needs it; md5 60-bit prefixes alone may collide).
    All other input columns pass through. No corpus-sized
    single-partition window: ranks come from the keyless
    ``range_partitioned_prefix_sum``."""
    from drug_target_discovery_spark.operators.prefixsum import (
        range_partitioned_prefix_sum,
    )

    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(str(seed)),
                    F.lit(":"),
                    F.col("doc_id").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    two63 = F.lit("9223372036854775808").cast("decimal(38,0)")
    # Pack-width fuse (ADVICE r11, mirroring round10.mixture_targets_and_
    # ranked): the (hash, doc_id) pack reserves the low 2^63 band for the
    # doc_id tie-break, so a NEGATIVE doc_id would silently corrupt _hkey
    # ordering (a BIGINT cannot exceed 2^63-1, so only the sign needs the
    # guard). Per-row long compare inside codegen — no extra driver action,
    # raises noisily on the first out-of-range id.
    did_guarded = F.when(
        F.col("doc_id") < 0,
        F.raise_error(
            F.concat(
                F.lit("epoch_shuffle_ranks: doc_id "),
                F.col("doc_id").cast("string"),
                F.lit(" is negative — outside the [0, 2^63) _hkey pack band"),
            )
        ),
    ).otherwise(F.col("doc_id").cast("decimal(38,0)"))
    keyed = docs.select(
        "*",
        (h.cast("decimal(38,0)") * two63 + did_guarded).alias("_hkey"),
        F.lit(1).alias("_one"),
    )
    return range_partitioned_prefix_sum(
        keyed,
        [],
        "_hkey",
        "_one",
        out=out,
        buckets=buckets,
        exclusive=True,
    ).drop("_hkey", "_one")
