"""Dedup tier queries (SURVEY §2.12 [EXT]): exact, n-gram Jaccard, MinHash
+ LSH banding, SimHash — over the ``documents`` table. Every hash is
md5-derived so the DuckDB oracle evaluates the identical integers."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drug_target_discovery_spark.caching import fixture_cache, fixture_checkpoint, memo
from drug_target_discovery_spark.functions.rounding import rnd, rnd_sql
from drug_target_discovery_spark.operators.dedup import (
    MD5_INT_DUCK,
    MD5_INT_SPARK,
    MERSENNE61,
    NORM_SHA_DUCK,
    _minhash_coeffs,
    lsh_candidate_pairs,
    norm_sha_col,
    sha_exact_dedup,
    simhash_fingerprints,
    token_shingles,
)
from drug_target_discovery_spark.queries.registry import register
from drug_target_discovery_spark.sources.tables import load_table

_N = 3  # shingle width
_NUM_HASHES = 16
_SEED = 42
_BANDS_ROWS = 2  # rows per band -> 8 bands
_JACCARD_T = 0.8

_H_DUCK = MD5_INT_DUCK.format(col="shingle")

# Raw (unfiltered) distinct-shingle stream, sweep-scoped (optimization
# r13): the signature build and the exact-pairs memo each reconstructed
# the shingle stream from text (split + transform + array_distinct +
# explode over the corpus — the most expensive map-side expression in the
# dedup family). One cached build now feeds both; the stop-shingle filter
# stays downstream in the exact-pairs memo (signatures must see ALL
# shingles — the oracle's _SIG_SQL is unfiltered).
def _raw_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo(
        spark,
        "dedup.raw_shingles",
        lambda: fixture_cache(
            token_shingles(load_table(spark, sf_dir, "documents"), "text", "doc_id", _N)
        ),
        sf_dir,
    )


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from drug_target_discovery_spark.operators.dedup import (
        minhash_signatures_from_shingles,
    )

    # minhash_signatures, lsh_candidate_pairs and near_dup_groups all need
    # the same signatures — compute once per sweep. Checkpoint, not cache:
    # the signature lineage (shingle explode + 16-min aggregate) otherwise
    # rides inside every LSH consumer's plan (optimization r14 — see
    # caching.fixture_checkpoint)
    return memo(
        spark,
        "dedup.signatures",
        lambda: fixture_checkpoint(
            minhash_signatures_from_shingles(
                _raw_shingles(spark, sf_dir),
                num_hashes=_NUM_HASHES,
                seed=_SEED,
            )
        ),
        sf_dir,
    )


# The band self-join (signatures -> banded sums -> bucket-local join ->
# distinct pairs) is the expensive half of the LSH chain and is consumed by
# three queries (lsh_candidate_pairs, near_dup_groups,
# connected_components_near_dups). Sweep-scoped like the signatures: the
# pair table is tiny (candidates << corpus by construction), so memoizing
# it trades kilobytes of storage for re-running the band join per query.
def candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo(
        spark,
        "dedup.candidate_pairs",
        lambda: fixture_checkpoint(
            lsh_candidate_pairs(_signatures(spark, sf_dir), rows_per_band=_BANDS_ROWS)
        ),
        sf_dir,
    )


def verify_pairs_from_memo(
    spark: SparkSession, sf_dir: str, pairs: DataFrame, threshold: float
) -> DataFrame:
    """``jaccard_verify_pairs`` at the family conventions (documents table,
    n=_N), sourcing shingles from the sweep-scoped raw-shingle memo
    instead of re-splitting the member docs' text (optimization r13 —
    same scoring kernel, `_score_candidate_pairs`, so the metric cannot
    diverge; the semi-join restricts the cached shingle stream to pair
    members exactly as the operator restricted the docs scan)."""
    from drug_target_discovery_spark.operators.dedup import (
        _score_candidate_pairs,
    )

    members = (
        pairs.select(F.col("d1").alias("doc_id"))
        .union(pairs.select("d2"))
        .distinct()
    )
    sh = _raw_shingles(spark, sf_dir).join(members, "doc_id", "left_semi")
    return _score_candidate_pairs(sh, pairs, "doc_id", threshold)


# Exact-verification memo (optimization r14 refinement of the r13 memo):
# ONE unfiltered scored table (threshold=-1, i.e. exact Jaccard for EVERY
# LSH candidate pair) now serves BOTH consumer families — the
# threshold=_JACCARD_T consumers (near_dup_groups, split_contamination_audit,
# curation_end_to_end, near_dup_best_representative) read it through a
# cheap filter, and minhash_jaccard_estimate_error (which needs ALL pairs,
# including true-Jaccard-0 banding collisions) reads it directly. Before,
# the estimate-error query re-ran the whole scoring pass (collect_list
# groupBy + two joins) on its own because its threshold differs; the filter
# commutes with the scoring (same jaccard column, same float comparisons),
# so the pass runs once per sweep (guide §1.2). The table is
# (d1, d2, jaccard, n_common), candidates << corpus by construction.
def scored_all_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-scoped memo: exact shingle-Jaccard for EVERY LSH candidate
    pair (threshold=-1 keeps all, including true-Jaccard-0 collisions)."""
    return memo(
        spark,
        "dedup.scored_pairs",
        lambda: fixture_checkpoint(
            verify_pairs_from_memo(spark, sf_dir, candidate_pairs(spark, sf_dir), -1.0)
        ),
        sf_dir,
    )


def verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs verified at jaccard > _JACCARD_T: a filter over the
    unfiltered scored memo — identical rows/values to scoring directly at
    threshold=_JACCARD_T (the filter commutes with the scoring; same
    jaccard expression, same float comparison)."""
    return scored_all_pairs(spark, sf_dir).filter(
        F.col("jaccard") > _JACCARD_T
    )


# Exact-pairs memo: the stop-shingle-capped shingle SELF-JOIN (sizes +
# per-pair intersection counts at n=_N, df cap 0.5) is the expensive half
# of BOTH exact-pairs consumers — symmetric Jaccard (ngram_jaccard_near_
# dups) and directional containment (shingle_containment_pairs). The two
# differ only in the final normalization (k/(s1+s2-k) vs k/s1), so the
# join runs once per sweep. Sweep-scoped like the LSH memos; the pair
# table is pairs-sharing-a-rare-shingle, orders below the corpus.
def _exact_pair_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(filtered shingles, sizes, inter): one build per sweep."""

    def build() -> tuple[DataFrame, DataFrame, DataFrame]:
        n_docs = load_table(spark, sf_dir, "documents").count()
        # rides the sweep-scoped raw-shingle memo (shared with the
        # signature build) instead of re-deriving shingles from text;
        # all three tables checkpoint (not cache) so the stop-filter +
        # self-join lineage stays out of consumer plans (optimization r14)
        sh = _raw_shingles(spark, sf_dir)
        common = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > 0.5 * n_docs)
            .select("shingle")
        )
        sh = fixture_checkpoint(sh.join(F.broadcast(common), "shingle", "left_anti"))
        sizes = fixture_checkpoint(
            sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
        )
        a = sh.select(F.col("doc_id").alias("d1"), "shingle")
        b = sh.select(F.col("doc_id").alias("d2"), "shingle")
        inter = fixture_checkpoint(
            a.join(b, "shingle")
            .filter(F.col("d1") < F.col("d2"))
            .groupBy("d1", "d2")
            .agg(F.count(F.lit(1)).alias("k"))
        )
        return sh, sizes, inter

    return memo(spark, "dedup.exact_pairs", build, sf_dir)


def shingle_sizes_and_intersections(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(sizes(doc_id, sz), inter(d1 < d2, k)) under the family conventions:
    distinct {_N}-token shingles, stop-shingles with df > 50% dropped from
    both sides of the metric."""
    _, sizes, inter = _exact_pair_tables(spark, sf_dir)
    return sizes, inter


def shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memo's stop-shingle-filtered distinct-shingle table
    (doc_id, shingle) — the shared front half of the exact-pairs memo,
    exposed for consumers that need the shingle stream itself (prefix-
    filter candidate generation, first-owner novelty) rather than the
    pairwise intersection. Same sweep-scoped memo entry: calling either
    accessor builds all three tables once."""
    return _exact_pair_tables(spark, sf_dir)[0]


# shared oracle CTE: distinct 3-token shingles per doc
_SHINGLES_SQL = f"""
    shingles AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(l, i, i + {_N - 1}), ' ') AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           unnest(range(1, len(l) - {_N} + 2)) AS t(i)
      WHERE len(l) >= {_N}
    )
"""

_COEFF_VALUES = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(_minhash_coeffs(_NUM_HASHES, _SEED))
)

_SIG_SQL = f"""
    {_SHINGLES_SQL},
    hashed AS (
      SELECT doc_id, ({_H_DUCK}) % 1073741824 AS h FROM shingles
    ),
    coeffs(hash_idx, a, b) AS (VALUES {_COEFF_VALUES}),
    sig AS (
      SELECT doc_id, hash_idx, min((a * h + b) % 2147483647) AS minhash
      FROM hashed CROSS JOIN coeffs
      GROUP BY doc_id, hash_idx
    )
"""

# shared oracle CTEs: banded signature buckets + the bucket-local candidate
# join — one home for the banding arithmetic, referenced by every LSH
# consumer (lsh_candidate_pairs, near_dup_groups, dedup_against_reference,
# split_contamination_audit) so the oracles cannot drift from each other.
_BANDED_CAND_SQL = f"""
    banded AS (
      SELECT doc_id, hash_idx // {_BANDS_ROWS} AS band,
             sum(minhash) % {MERSENNE61} AS bsum, count(*) AS n
      FROM sig GROUP BY doc_id, hash_idx // {_BANDS_ROWS}
      HAVING count(*) = {_BANDS_ROWS}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bsum = b.bsum AND a.doc_id < b.doc_id
    )
"""


# --------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# --------------------------------------------------------------------------
@register(
    "exact_dedup_sha256",
    tags=("dedup",),
    oracle="""
    SELECT sha256(text) AS digest, min(doc_id) AS canonical_id, count(*) AS n_docs
    FROM documents GROUP BY sha256(text)
    """,
)
def exact_dedup_sha256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by content digest: only the 32-byte sha256
    shuffles, never the payload — the canonical 100 TB exact-dedup shape."""
    return sha_exact_dedup(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs
# --------------------------------------------------------------------------
@register(
    "ngram_jaccard_near_dups",
    tags=("dedup", "join"),
    oracle=f"""
    WITH {_SHINGLES_SQL},
    ndocs AS (SELECT count(*) AS n FROM documents),
    stop AS (
      SELECT shingle FROM shingles CROSS JOIN ndocs
      GROUP BY shingle, n HAVING count(*) > 0.5 * n
    ),
    sh AS (SELECT * FROM shingles WHERE shingle NOT IN (SELECT shingle FROM stop)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS k
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2,
           {rnd_sql("k * 1.0 / (s1.sz + s2.sz - k)", 6)} AS jaccard,
           k AS n_common
    FROM inter
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE k * 1.0 / (s1.sz + s2.sz - k) > {_JACCARD_T}
    """,
)
def ngram_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by 3-token-shingle Jaccard > 0.8: explode
    distinct shingles, self-join on shingle (bucketed by content, never
    all-pairs), intersection counts -> Jaccard. Stop-shingles (df > 50%)
    dropped to bound skew. Rides the sweep-scoped exact-pairs memo shared
    with shingle_containment_pairs (the self-join runs once per sweep; the
    two queries differ only in the final normalization). The generic
    operator (ngram_jaccard_pairs, incl. the AllPairs prefix-filter 100 TB
    path) lives in operators/dedup.py."""
    sizes, inter = shingle_sizes_and_intersections(spark, sf_dir)
    jac = F.col("k") / (F.col("s1") + F.col("s2") - F.col("k"))
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "d1", "sz": "s1"}), "d1")
        .join(sizes.withColumnsRenamed({"doc_id": "d2", "sz": "s2"}), "d2")
        .filter(jac > _JACCARD_T)
        .select("d1", "d2", rnd(jac, 6).alias("jaccard"), F.col("k").alias("n_common"))
    )


# --------------------------------------------------------------------------
# MinHash signatures
# --------------------------------------------------------------------------
@register(
    "minhash_signatures",
    tags=("dedup", "minhash"),
    oracle=f"""
    WITH {_SIG_SQL}
    SELECT doc_id, hash_idx, minhash FROM sig
    """,
)
def minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-format MinHash signatures (16 affine permutations over folded
    md5 shingle hashes). Cost O(docs x shingles x k) map-side + one shuffle."""
    return _signatures(spark, sf_dir)


# --------------------------------------------------------------------------
# LSH banding candidate pairs
# --------------------------------------------------------------------------
@register(
    "lsh_candidate_pairs",
    tags=("dedup", "minhash"),
    oracle=f"""
    WITH {_SIG_SQL},
    {_BANDED_CAND_SQL}
    SELECT d1, d2 FROM cand
    """,
)
def lsh_candidate_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates: equal 2-row band buckets. The join runs inside hash
    buckets only — the all-pairs blow-up never happens; this is the MinHash
    scale path for 100 TB corpora."""
    return candidate_pairs(spark, sf_dir)


# --------------------------------------------------------------------------
# LSH-verified near-dup groups (end-to-end dedup)
# --------------------------------------------------------------------------
@register(
    "near_dup_groups",
    tags=("dedup", "pipeline"),
    oracle=f"""
    WITH {_SIG_SQL},
    {_BANDED_CAND_SQL},
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
    verified AS (
      SELECT c.d1, c.d2
      FROM cand c
      JOIN (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS k
            FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2) i ON c.d1 = i.d1 AND c.d2 = i.d2
      JOIN sizes s1 ON c.d1 = s1.doc_id
      JOIN sizes s2 ON c.d2 = s2.doc_id
      WHERE i.k * 1.0 / (s1.sz + s2.sz - i.k) > {_JACCARD_T}
    ),
    members AS (
      SELECT d1 AS doc_id, d1 AS nbr FROM verified
      UNION SELECT d2, d1 FROM verified
      UNION SELECT d1, d2 FROM verified
      UNION SELECT d2, d2 FROM verified
    )
    SELECT doc_id, min(nbr) AS canonical_id FROM members GROUP BY doc_id
    """,
)
def near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: LSH candidates -> Jaccard verification ->
    canonical id = min over the verified neighborhood (single-hop star
    canonicalization; full transitive closure is `connected_components`,
    graph tier). Returns only docs that have a near-duplicate.
    Verification scores exactly the candidate pairs via per-doc shingle
    arrays + array_intersect (operators/dedup.py jaccard_verify_pairs) —
    O(|pairs|) work, no shingle self-join among the members; the verified
    table is the sweep-scoped ``verified_pairs`` memo shared with the
    audit and the composed pipeline."""
    verified = verified_pairs(spark, sf_dir).select("d1", "d2")
    members = (
        verified.select(F.col("d1").alias("doc_id"), F.col("d1").alias("nbr"))
        .union(verified.select("d2", "d1"))
        .union(verified.select("d1", "d2"))
        .union(verified.select("d2", "d2"))
        .distinct()
    )
    return members.groupBy("doc_id").agg(F.min("nbr").alias("canonical_id"))


# --------------------------------------------------------------------------
# SimHash fingerprints
# --------------------------------------------------------------------------
# Single home for the fingerprint CTE chain, shared by simhash_fingerprints
# and simhash_near_dups so the two oracles cannot drift.
# Width rule: <= 60 (the 15-hex-digit md5 prefix both engines hash with),
# and the banding below must tile it exactly (_SH_BLOCKS * _SH_BLOCK_W).
_SH_BITS = 60
_SIMHASH_SQL = f"""
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    hashed AS (
      SELECT doc_id, {MD5_INT_DUCK.format(col="tok")} AS h
      FROM toks WHERE tok <> ''
    ),
    votes AS (
      SELECT doc_id, bit,
             sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM hashed, unnest(range(0, {_SH_BITS})) AS t(bit)
      GROUP BY doc_id, bit
    ),
    fp AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )
"""


@register(
    "simhash_fingerprints",
    tags=("dedup", "simhash"),
    oracle=f"""
    WITH {_SIMHASH_SQL}
    SELECT doc_id, simhash FROM fp
    """,
)
def simhash_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (token-level): per-bit +1/-1 votes over
    md5 token hashes, majority bit -> fingerprint. Near-dups then reduce to
    Hamming-distance joins on the fingerprint (``simhash_near_dups``).

    60 bits (all the entropy the 15-hex-digit md5 prefix hash carries, and
    sign-safe in int64) rather than 32: the banding join's bucket occupancy
    is N / 2^(bits/blocks), so fingerprint width is what keeps the
    candidate stage sub-quadratic as the corpus grows — see the saturation
    analysis on ``simhash_near_dups``."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_fingerprints(docs, bits=_SH_BITS)


# --------------------------------------------------------------------------
# SimHash near-dups: block-banded Hamming join (Manku et al., WWW 2007)
# --------------------------------------------------------------------------
_SH_BLOCKS = 4     # 15-bit blocks of the 60-bit fingerprint
_SH_BLOCK_W = 15   # block width in bits (2^15 = 32768 bucket values/band)
_SH_MAX_HAM = 3    # pigeonhole: <= 3 differing bits => >= 1 identical block
assert _SH_BLOCKS * _SH_BLOCK_W == _SH_BITS  # banding must tile the fingerprint


@register(
    "simhash_near_dups",
    tags=("dedup", "simhash", "scalable"),
    oracle=f"""
    WITH {_SIMHASH_SQL},
    blocks AS (
      SELECT doc_id, simhash, b,
             (simhash >> ({_SH_BLOCK_W} * b)) & {(1 << _SH_BLOCK_W) - 1} AS blk
      FROM fp, unnest(range(0, {_SH_BLOCKS})) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
             a.simhash AS s1, b.simhash AS s2
      FROM blocks a JOIN blocks b
        ON a.b = b.b AND a.blk = b.blk AND a.doc_id < b.doc_id
    )
    SELECT d1, d2,
           CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(s1, s2)) <= {_SH_MAX_HAM}
    """,
)
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs at Hamming distance <= {_SH_MAX_HAM}
    via block banding (Manku, Jain & Das Sarma, WWW 2007 — Google's web
    dedup): split the 60-bit fingerprint into {_SH_BLOCKS} 15-bit blocks;
    by pigeonhole, any pair within Hamming {_SH_MAX_HAM} shares at least
    one identical block, so candidates come from a BLOCK-LOCAL equi-join
    (never all-pairs) and the exact popcount(xor) verification runs only
    on candidates — the same candidates-then-verify discipline as the
    MinHash LSH tier, on the cheaper 8-bytes-per-doc sketch.

    Fingerprint width is the scale lever, not a taste choice: coincidental
    (non-near-dup) bucket collisions cost O(sum over buckets of n_b^2) and
    each band has 2^block_width buckets, so expected occupancy is
    N / 2^(bits/blocks). The first cut of this query banded a 32-bit
    fingerprint into 8-bit blocks — 256 buckets/band saturate at corpus
    scale, and the x10 key-shifted probe measured 6.97x wall (quadratic
    candidate growth). At 15-bit blocks (32768 buckets/band) the same
    probe is linear-ish; at 100 TB one would widen further (e.g. two
    64-bit words, 16-bit blocks) but the plan shape is unchanged.

    Scale shape: fingerprints are one aggregation over the token stream
    (simhash_fingerprints); the banding explode is {_SH_BLOCKS} rows per
    doc of three small integers; the join keys on (block_idx, block_value)
    — bucket-local, skew bounded by the hottest block value, with the
    same salting escape as the LSH band join if a degenerate fingerprint
    dominates. Verification is two codegen'd bit ops per pair."""
    fp = simhash_fingerprints(load_table(spark, sf_dir, "documents"), bits=_SH_BITS)
    b = F.explode(F.sequence(F.lit(0), F.lit(_SH_BLOCKS - 1))).alias("b")
    blocks = fp.select("doc_id", "simhash", b).select(
        "doc_id",
        "simhash",
        "b",
        F.expr(
            f"shiftright(simhash, {_SH_BLOCK_W} * b) & {(1 << _SH_BLOCK_W) - 1}"
        ).alias("blk"),
    )
    a = blocks.select(
        F.col("b").alias("ab"), F.col("blk").alias("ablk"),
        F.col("doc_id").alias("d1"), F.col("simhash").alias("s1"),
    )
    c = blocks.select(
        F.col("b").alias("ab"), F.col("blk").alias("ablk"),
        F.col("doc_id").alias("d2"), F.col("simhash").alias("s2"),
    )
    cand = (
        a.join(c, ["ab", "ablk"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", "s1", "s2")
        .distinct()
    )
    hamming = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return cand.filter(hamming <= _SH_MAX_HAM).select(
        "d1", "d2", hamming.cast("int").alias("hamming")
    )


# --------------------------------------------------------------------------
# Normalization-aware exact dedup (C4-style canonicalization before hashing)
# --------------------------------------------------------------------------
@register(
    "normalized_dedup_groups",
    tags=("dedup", "text"),
    oracle=f"""
    WITH norm AS (
      SELECT doc_id,
             {NORM_SHA_DUCK.format(col="text")} AS digest,
             sha256(text) AS raw_digest
      FROM documents
    )
    SELECT digest,
           min(doc_id) AS canonical_id,
           count(*) AS n_docs,
           CAST(count(DISTINCT raw_digest) AS BIGINT) AS n_raw_variants
    FROM norm GROUP BY digest
    """,
)
def normalized_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after text canonicalization (lowercase, strip
    punctuation, collapse whitespace — the C4-style normalization that
    catches case/punctuation-only duplicates plain sha-dedup misses).
    Map-side normalize + hash; only the two 32-byte digests shuffle, never
    the text. n_raw_variants counts how many distinct raw texts collapsed
    into each normalized group. (Corpus is ASCII; for full Unicode the
    normalize step would add NFKC via a pandas_udf.) The digest expression
    is the shared ``norm_sha_col``/``NORM_SHA_DUCK`` pair — the same
    definition the leakage-split tier buckets on."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            norm_sha_col("text").alias("digest"),
            F.sha2(F.col("text"), 256).alias("raw_digest"),
        )
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("raw_digest").alias("n_raw_variants"),
        )
    )


# --------------------------------------------------------------------------
# Incremental dedup: new batch vs an existing reference corpus
# --------------------------------------------------------------------------
@register(
    "dedup_against_reference",
    tags=("dedup", "incremental", "pipeline"),
    oracle=f"""
    WITH {_SIG_SQL},
    {_BANDED_CAND_SQL},
    cross_cand AS (
      SELECT CASE WHEN d1 % 5 = 0 THEN d1 ELSE d2 END AS b_id,
             CASE WHEN d1 % 5 = 0 THEN d2 ELSE d1 END AS r_id,
             d1, d2
      FROM cand WHERE (d1 % 5 = 0) <> (d2 % 5 = 0)
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
    verified AS (
      SELECT c.b_id, max(i.k * 1.0 / (s1.sz + s2.sz - i.k)) AS best_j
      FROM cross_cand c
      JOIN (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS k
            FROM shingles a JOIN shingles b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2) i ON c.d1 = i.d1 AND c.d2 = i.d2
      JOIN sizes s1 ON c.d1 = s1.doc_id
      JOIN sizes s2 ON c.d2 = s2.doc_id
      WHERE i.k * 1.0 / (s1.sz + s2.sz - i.k) > {_JACCARD_T}
      GROUP BY c.b_id
    ),
    exacts AS (
      SELECT b.doc_id, count(*) AS n_exact
      FROM documents b JOIN documents r ON sha256(b.text) = sha256(r.text)
      WHERE b.doc_id % 5 = 0 AND r.doc_id % 5 <> 0
      GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           CASE WHEN e.n_exact > 0 THEN 'exact_dup'
                WHEN v.best_j IS NOT NULL THEN 'near_dup'
                ELSE 'novel' END AS status,
           coalesce(e.n_exact, 0) AS n_exact_matches,
           {rnd_sql("v.best_j", 6)} AS best_jaccard
    FROM documents d
    LEFT JOIN exacts e ON d.doc_id = e.doc_id
    LEFT JOIN verified v ON d.doc_id = v.b_id
    WHERE d.doc_id % 5 = 0
    """,
)
def dedup_against_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape where a NEW batch (here:
    doc_id % 5 = 0) is deduplicated AGAINST an existing reference corpus
    (the other 80%) instead of against itself: each batch doc comes back
    'exact_dup' (same sha256 as some reference doc), 'near_dup' (LSH
    candidate verified to shingle-Jaccard > t with some reference doc), or
    'novel', with the exact-match count and the best verified Jaccard.

    Scale design: the exact tier joins 32-byte digests only; the near tier
    REUSES the sweep-scoped corpus-wide LSH candidate-pair memo (banding is
    batch-composition-independent, so cross batch/reference candidates are
    just the pairs whose endpoints straddle the split — no new banding job)
    and Jaccard-verifies only candidate members, exactly like
    near_dup_groups. At 100 TB the reference side's signatures are a
    precomputed table and each new batch bands itself + bucket-joins into
    it — the work is proportional to the batch, not the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 5 == 0
    batch = docs.filter(is_batch)
    ref = docs.filter(~is_batch)
    # exact tier: digests only. NO broadcast hint — the reference-side
    # digest table grows with the CORPUS (the batch is the small side, if
    # anything), so forcing it executor-resident would cap the design at
    # driver memory; a digest-keyed shuffle join moves 32 B/row and AQE
    # still broadcasts whichever side is actually small at runtime.
    ref_digests = (
        ref.select(F.sha2(F.col("text"), 256).alias("digest"))
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    exacts = (
        batch.select("doc_id", F.sha2(F.col("text"), 256).alias("digest"))
        .join(ref_digests, "digest", "left")
        .select("doc_id", "n_exact")
    )
    # near tier: cross-split candidates out of the corpus-wide pair memo,
    # scored pair-exactly off the raw-shingle memo (no member self-join,
    # no text re-shingling — optimization r13)
    cand = candidate_pairs(spark, sf_dir)
    cross = cand.filter((F.col("d1") % 5 == 0) != (F.col("d2") % 5 == 0))
    verified = (
        verify_pairs_from_memo(spark, sf_dir, cross, _JACCARD_T)
        .withColumn(
            "b_id", F.when(F.col("d1") % 5 == 0, F.col("d1")).otherwise(F.col("d2"))
        )
        .groupBy("b_id")
        .agg(F.max("jaccard").alias("best_j"))
    )
    return (
        batch.select("doc_id")
        .join(exacts, "doc_id", "left")
        .join(verified.withColumnRenamed("b_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("n_exact") > 0, F.lit("exact_dup"))
            .when(F.col("best_j").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("novel"))
            .alias("status"),
            F.coalesce(F.col("n_exact"), F.lit(0).cast("long")).alias(
                "n_exact_matches"
            ),
            rnd(F.col("best_j"), 6).alias("best_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Exact duplicate-SPAN detection (position-aware substring dedup)
# --------------------------------------------------------------------------
_SPAN_K = 6  # token k-gram width; at 6 only genuine shared passages match

_SPAN_H_DUCK = MD5_INT_DUCK.format(col="gram")


@register(
    "duplicate_span_detection",
    tags=("dedup", "text"),
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    grams AS (
      SELECT doc_id, i AS pos,
             ({_SPAN_H_DUCK}) AS h
      FROM (SELECT doc_id,
                   array_to_string(list_slice(l, i, i + {_SPAN_K - 1}), ' ') AS gram,
                   i
            FROM toks, unnest(range(1, len(l) - {_SPAN_K} + 2)) AS t(i)
            WHERE len(l) >= {_SPAN_K})
    ),
    dup AS (SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    marks AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       > {_SPAN_K} THEN 1 ELSE 0 END AS brk
      FROM grams WHERE h IN (SELECT h FROM dup)
    ),
    hits AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM marks
    ),
    spans AS (
      SELECT doc_id, max(pos) - min(pos) + {_SPAN_K} AS span_tokens
      FROM hits GROUP BY doc_id, grp
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS n_dup_spans,
             sum(span_tokens) AS dup_tokens,
             max(span_tokens) AS longest_span_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(coalesce(p.longest_span_tokens, 0) AS BIGINT) AS longest_span_tokens,
           {rnd_sql("coalesce(p.dup_tokens, 0) * 1.0 / len(string_split(d.text, ' '))", 6)}
             AS dup_token_fraction
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def duplicate_span_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-aware exact substring dedup (the suffix-array pass of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better",
    re-expressed relationally): find token k-grams that occur in MORE THAN
    ONE document, merge each doc's duplicated positions into maximal spans
    (gaps-and-islands; positions within the gram width of each other overlap
    in token space and merge, so covered tokens is an exact union bounded by
    the doc length), and report per-doc span count / covered tokens /
    longest span / duplicated-token fraction — the quantities a trainer uses
    to clip or drop repeated passages rather than whole documents.

    Scale design: the gram TEXT never shuffles — each k-gram is md5-hashed
    map-side and only (doc_id, pos, h) rows (~20 B) move. The cross-doc
    test is ONE window over h: a gram hash occurs in >= 2 distinct docs
    iff min(doc_id) != max(doc_id) within its h-partition (optimization
    r13, guide §2.4 — the old countDistinct groupBy + left-semi-join pair
    shuffled the gram table twice and needed it cached; the window reads
    the group property off the single h-keyed exchange, so the gram pass
    runs once, uncached). Span merging is a per-doc window (bounded by
    document length, never corpus-wide); the final join is doc_id-keyed.
    A corpus-frequent gram (boilerplate) grows one h-window group exactly
    as it grew one join group before. This is the relational
    approximation of the suffix-array pass: identical recall for spans
    >= k tokens, no global sort, no driver state.
    """
    k = _SPAN_K
    docs = load_table(spark, sf_dir, "documents")

    toks = docs.select("doc_id", F.split("text", " ").alias("l"))
    grams = (
        toks.filter(F.size("l") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(l) - {k} + 1),"
                    f" i -> concat_ws(' ', slice(l, i, {k})))"
                )
            ).alias("pos0", "gram"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.expr(MD5_INT_SPARK.format(col="gram")).alias("h"),
        )
    )
    from pyspark.sql.window import Window

    wh = Window.partitionBy("h")
    w = Window.partitionBy("doc_id").orderBy("pos")
    # A hit at pos covers tokens pos..pos+k-1, so hits whose positions differ
    # by <= k overlap or touch in token space and must merge into one span —
    # otherwise dup_tokens double-counts shared coverage (fraction could
    # exceed 1.0 on partially-duplicated docs).
    hits = (
        grams.withColumn("_dmin", F.min("doc_id").over(wh))
        .withColumn("_dmax", F.max("doc_id").over(wh))
        .filter(F.col("_dmin") != F.col("_dmax"))
        .withColumn(
            "brk",
            F.when(F.col("pos") - F.lag("pos").over(w) > k, 1).otherwise(0),
        )
        .withColumn("grp", F.sum("brk").over(w))
    )
    spans = hits.groupBy("doc_id", "grp").agg(
        (F.max("pos") - F.min("pos") + k).alias("span_tokens")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum("span_tokens").cast("long").alias("dup_tokens"),
        F.max("span_tokens").cast("long").alias("longest_span_tokens"),
    )
    return (
        docs.select(
            "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
        )
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0).cast("long")).alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0).cast("long")).alias("dup_tokens"),
            F.coalesce("longest_span_tokens", F.lit(0).cast("long")).alias(
                "longest_span_tokens"
            ),
            rnd(
                F.coalesce("dup_tokens", F.lit(0).cast("long"))
                / F.col("n_tokens"),
                6,
            ).alias("dup_token_fraction"),
        )
    )


# --------------------------------------------------------------------------
# Distributed Bloom-filter membership probe
# --------------------------------------------------------------------------
_BLOOM_M = 1024  # bits — deliberately undersized (~2.6 bits/key) so the
#                  probe EXHIBITS false positives; production sizes m/n ~ 10
_BLOOM_K = 4     # hash functions (Kirsch-Mitzenmacher double hashing)

_BLOOM_H1_DUCK = MD5_INT_DUCK.format(col="text")
_BLOOM_H2_DUCK = MD5_INT_DUCK.format(col="concat('b2|', text)")


@register(
    "bloom_filter_dedup_probe",
    tags=("dedup", "incremental", "sketch"),
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id,
             {_BLOOM_H1_DUCK} AS h1,
             {_BLOOM_H2_DUCK} AS h2,
             sha256(text) AS digest
      FROM documents
    ),
    pos AS (
      SELECT DISTINCT doc_id, (h1 + j * h2) % {_BLOOM_M} AS p
      FROM hashed, unnest(range(0, {_BLOOM_K})) AS t(j)
    ),
    bits AS (
      SELECT DISTINCT p FROM pos WHERE doc_id % 5 <> 0
    ),
    probe AS (
      SELECT b.doc_id,
             count(*) AS n_pos,
             sum(CASE WHEN bits.p IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      FROM pos b LEFT JOIN bits ON b.p = bits.p
      GROUP BY b.doc_id
    ),
    member AS (
      SELECT DISTINCT h.doc_id
      FROM hashed h
      WHERE h.doc_id % 5 <> 0
         OR h.digest IN (SELECT digest FROM hashed r WHERE r.doc_id % 5 <> 0)
    )
    SELECT p.doc_id,
           m.doc_id IS NOT NULL AS is_member,
           p.n_hit = p.n_pos AS bloom_positive,
           (p.n_hit = p.n_pos) AND m.doc_id IS NULL AS false_positive
    FROM probe p LEFT JOIN member m ON p.doc_id = m.doc_id
    """,
)
def bloom_filter_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Bloom-filter membership: build an m-bit filter over the
    REFERENCE split (doc_id % 5 != 0) as a table of set bit positions —
    k = 4 md5-derived double-hashing positions per document, deduplicated —
    then probe EVERY document: ``bloom_positive`` iff all k of its
    positions are set. Ground truth ``is_member`` (in the reference split,
    or sharing a digest with it) joins alongside: Bloom filters cannot
    false-negative, so every member must probe positive (asserted in
    tests), while m is deliberately undersized (~2.6 bits/key) so
    non-members exhibit real, countable ``false_positive`` rows — the
    exact behavior a dedup pipeline must tolerate downstream of a filter.

    Scale design: the filter is an AGGREGATE of the corpus — the build is
    a map-side position expansion (k integer rows/doc) collapsed by a
    distinct whose output is bounded by m rows no matter how many
    documents set bits, so the built filter always broadcasts; probes then
    join map-side against it. The text never shuffles (md5 map-side). At
    100 TB the same plan holds with m sized to the corpus (m/n ~ 10
    bits/key -> ~1% FP) or sharded into per-range filters — probe cost
    stays corpus-size-independent either way.
    """
    from drug_target_discovery_spark.caching import scoped_cache

    docs = load_table(spark, sf_dir, "documents")
    h1 = F.expr(MD5_INT_SPARK.format(col="text"))
    h2 = F.expr(MD5_INT_SPARK.format(col="concat('b2|', text)"))
    hashed = scoped_cache(
        docs.select(
            "doc_id",
            h1.alias("h1"),
            h2.alias("h2"),
            F.sha2(F.col("text"), 256).alias("digest"),
        )
    )
    pos = (
        hashed.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.pmod(F.col("h1") + F.lit(j) * F.col("h2"), F.lit(_BLOOM_M))
                        for j in range(_BLOOM_K)
                    ]
                )
            ).alias("p"),
        )
        .distinct()
    )
    bits = pos.filter(F.col("doc_id") % 5 != 0).select("p").distinct()
    probe = (
        pos.join(F.broadcast(bits.withColumn("_hit", F.lit(1))), "p", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        )
    )
    member = (
        hashed.select("doc_id", "digest")
        .join(
            hashed.filter(F.col("doc_id") % 5 != 0).select("digest").distinct(),
            "digest",
            "left_semi",
        )
        .select("doc_id")
        .union(hashed.filter(F.col("doc_id") % 5 != 0).select("doc_id"))
        .distinct()
        .withColumn("_member", F.lit(True))
    )
    return (
        probe.join(member, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_member"), F.lit(False)).alias("is_member"),
            (F.col("n_hit") == F.col("n_pos")).alias("bloom_positive"),
            (
                (F.col("n_hit") == F.col("n_pos"))
                & F.col("_member").isNull()
            ).alias("false_positive"),
        )
    )


# --------------------------------------------------------------------------
# Quality-weighted canonical selection over near-dup neighborhoods
# --------------------------------------------------------------------------
@register(
    "near_dup_best_representative",
    tags=("dedup", "curation", "window"),
    oracle=f"""
    WITH {_SIG_SQL},
    {_BANDED_CAND_SQL},
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
    verified AS (
      SELECT c.d1, c.d2
      FROM cand c
      JOIN (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS k
            FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2) i ON c.d1 = i.d1 AND c.d2 = i.d2
      JOIN sizes s1 ON c.d1 = s1.doc_id
      JOIN sizes s2 ON c.d2 = s2.doc_id
      WHERE i.k * 1.0 / (s1.sz + s2.sz - i.k) > {_JACCARD_T}
    ),
    members AS (
      SELECT d1 AS doc_id, d1 AS nbr FROM verified
      UNION SELECT d2, d1 FROM verified
      UNION SELECT d1, d2 FROM verified
      UNION SELECT d2, d2 FROM verified
    ),
    ranked AS (
      SELECT m.doc_id, m.nbr, d.n_chars,
             row_number() OVER (PARTITION BY m.doc_id
                                ORDER BY d.n_chars DESC, m.nbr ASC) AS rk
      FROM members m JOIN documents d ON m.nbr = d.doc_id
    )
    SELECT doc_id,
           nbr AS representative_id,
           CAST(n_chars AS BIGINT) AS rep_n_chars,
           (doc_id = nbr) AS is_kept
    FROM ranked WHERE rk = 1
    """,
)
def near_dup_best_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted canonical selection: within each near-duplicate
    star neighborhood, keep the HIGHEST-QUALITY member (longest n_chars,
    doc_id tie-break) instead of near_dup_groups' min-id — what a
    production prune actually does (drop the truncated/mojibake variant,
    keep the clean one; cf. the dedup ordering discussions in Lee et al.
    2022). Returns, per near-duplicated doc, its chosen representative
    and whether the doc itself survives.

    Rides the sweep-scoped ``verified_pairs`` memo (zero marginal LSH
    work); the member table joins doc quality on the doc key (adaptive —
    documents is corpus-proportional, never broadcast), and the argmax
    is one row_number window whose partitions are bounded by the
    verified neighborhood size, not the corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    verified = verified_pairs(spark, sf_dir).select("d1", "d2")
    members = (
        verified.select(F.col("d1").alias("doc_id"), F.col("d1").alias("nbr"))
        .union(verified.select("d2", "d1"))
        .union(verified.select("d1", "d2"))
        .union(verified.select("d2", "d2"))
        .distinct()
    )
    from pyspark.sql.window import Window

    ranked = members.join(
        docs.select(F.col("doc_id").alias("nbr"), "n_chars"), "nbr"
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.desc("n_chars"), F.asc("nbr"))
        ),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "doc_id",
        F.col("nbr").alias("representative_id"),
        F.col("n_chars").cast("long").alias("rep_n_chars"),
        (F.col("doc_id") == F.col("nbr")).alias("is_kept"),
    )
