"""Round-11 additions, built in the TESTS-ONLY lane (the registration
freeze — queries/registry.py capacity policy): implemented, property-
tested, oracle-cross-checked in pytest and tools/lane_check.py, but NOT
registered. If a slot ever opens under the one-in-one-out rule,
registration is a decorator move.

- Training-epoch manifest (training_epoch_manifest): the data-loading
  twin of curation_end_to_end (VERDICT r10 #4) — the per-epoch pipeline
  a pretraining data loader actually runs, composed into ONE
  materialization with a shared corpus scan:

      BPE-encode (round9.bpe_top_merges + the shared merge fold)
        -> temperature mixture selection (round10.mixture_targets_and_ranked)
        -> deterministic epoch shuffle (round9.epoch_shuffle_ranks)
        -> greedy sequence packing (operators/packing.pack_sequences)
        -> global token-budget shard cut (training_shard_assignment's
           cumsum // budget rule, keyless prefix-sum form)

  Every stage reuses the EXACT shared definitions of its standalone
  operator (the curation composition rule), so the composed run cannot
  drift from the per-stage evidence; a plan-shape test pins the
  documents-scan budget so no stage silently re-reads the corpus.

- Curate-then-load composition (curated_epoch_manifest): the epoch
  pipeline over exactly the curation-kept train split, tokenizer
  trained on the curated corpus, mixture re-apportioned over curated
  counts — pins end to end that no duplicate, low-quality, or held-out
  doc reaches a training shard. Carries the localCheckpoint lineage-cut
  rule (see the load-bearing comment at the site).

- MinHash-LSH banding auto-tuner (lsh_parameter_autotune): choose
  (b, r) from the corpus's own measured pair-similarity spectrum —
  S-curve capture probabilities micro-quantized per pair, folded per
  config, pure-integer choice rule; emits the banding table
  lsh_candidate_recall_audit validates.

- Semantic benchmark decontamination (semantic_decontamination): the
  embedding leg completing the decontamination triple (token 5-gram /
  exact char / cosine) — asymmetric block-pair GEMM train x bench +
  the engine-identical fold rerank, same conventions as the registered
  checks (bench = doc_id %% 20 == 0, vec_id == doc_id).

Exactness contract as per round7.py-round10.py: integer counts and
token budgets end to end in the manifest pipelines (not a single IEEE
operation, so both engines assign literally the same packs, ranks, and
shards in any accumulation order); the autotuner and the semantic leg
quantize or fold their IEEE terms the bigram-LM way before any
order-sensitive aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drug_target_discovery_spark.caching import checkpoint
from drug_target_discovery_spark.functions.rounding import rnd
from drug_target_discovery_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# Training-epoch manifest: the composed per-epoch data-loader pipeline
# --------------------------------------------------------------------------
# Stage constants REUSE the standalone operators' values — the composition
# must exercise the same configuration the per-stage evidence covers.
from drug_target_discovery_spark.queries.curation import (  # noqa: E402
    _PACK_BUDGET as _EPOCH_PACK_BUDGET,
)
from drug_target_discovery_spark.queries.round9 import (  # noqa: E402
    _BPE_MERGES as _EPOCH_BPE_K,
)
from drug_target_discovery_spark.queries.round10 import (  # noqa: E402
    _MIX_SAMPLE_DIV,
    _MIX_SEED,
)

_EPOCH_SEED = "epoch-r11"      # this epoch's shuffle seed (new epoch = new seed)
_EPOCH_SHARD_TOKENS = 2048     # token budget per training shard (8 packs)


def training_epoch_manifest(
    spark: SparkSession, sf_dir: str, k: int = _EPOCH_BPE_K
) -> DataFrame:
    """One epoch of a pretraining data loader as a single composed
    materialization — the manifest a shard-writing job consumes:

    1. TOKENIZE: train ``k`` BPE merges on the corpus
       (``bpe_top_merges`` — k driver-held rows) and encode every
       document through the shared ``_bpe_merge_fold`` chain at the
       (doc, word)-count grain, giving each doc its exact BPE token
       count (the ``bpe_encode_stats`` machinery at doc grain).
    2. SELECT: temperature-scaled mixture selection
       (``mixture_targets_and_ranked`` — sqrt micro-unit weights,
       Hamilton apportionment, seeded per-source md5 ranks): each
       source contributes its target_n lowest-ranked documents.
    3. SHUFFLE: the selected docs get their exact global epoch order
       from ``epoch_shuffle_ranks`` (seeded md5 permutation, keyless
       prefix-sum rank — no single-partition window).
    4. PACK: greedy {budget}-token sequence packing per source IN
       SHUFFLE ORDER (``pack_sequences``'s applyInPandas reset-scan,
       order_col=shuffle_rank) — each epoch re-shuffles, then packs.
    5. SHARD: cut the global shuffled sequence line every
       {shard} tokens (``training_shard_assignment``'s
       (cum - n) div budget rule), ordered by each sequence's first
       member's epoch rank — globally unique by construction, so the
       cut needs NO per-source offset stitch.

    Output, one row per packed training sequence, ordered by epoch
    position: (source, pack_id, n_docs, seq_tokens, epoch_pos,
    shard_id). Pure integer arithmetic end to end.

    Scale shape: the corpus is scanned TWICE in the returned plan — one
    exploded word-grain pass (cached: feeds the BPE vocabulary AND the
    per-doc token sums) and one 2-column doc-grain pass (cached: feeds
    mixture counts, ranks, and the selection join) — plus the bounded
    scans inside the k-merge trainer, whose output is k literals. The
    vocabulary join is vocab-sized (AQE broadcasts it when small); the
    mixture targets broadcast (source-domain rows); ranks and the shard
    cut run through ``range_partitioned_prefix_sum`` so no corpus- or
    sequence-sized ordered domain ever lands on one partition; packing
    shuffles once on source (Arrow both ways). A plan test pins the
    live-scan budget.

    Tests-only lane; oracle = hybrid python-BPE + prepared DuckDB SQL
    (_EPOCH_ORACLE_TMPL with the python word->token-count table
    registered as ``wtok``), the bpe_encode_stats evidence class.
    """
    from drug_target_discovery_spark.queries.round9 import bpe_top_merges

    merges = [
        (r["left"], r["right"])
        for r in bpe_top_merges(spark, sf_dir, k=k).collect()
    ]
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return _epoch_manifest(spark, docs, merges)


def _epoch_manifest(
    spark: SparkSession, docs: DataFrame, merges: "list[tuple[str, str]]"
) -> DataFrame:
    """Stages 1b-5 of the epoch pipeline over an explicit corpus frame
    (doc_id, source, text) and pre-trained merge rules — shared by
    ``training_epoch_manifest`` (full corpus) and
    ``curated_epoch_manifest`` (curation-kept train split), so the two
    cannot drift."""
    from drug_target_discovery_spark.caching import scoped_cache
    from drug_target_discovery_spark.operators.packing import pack_sequences
    from drug_target_discovery_spark.operators.prefixsum import (
        range_partitioned_prefix_sum,
    )
    from drug_target_discovery_spark.queries.round9 import (
        _bpe_merge_fold,
        epoch_shuffle_ranks,
    )
    from drug_target_discovery_spark.queries.round10 import (
        mixture_targets_and_ranked,
    )

    # (doc, word)-count grain — ONE exploded corpus pass, cached: consumed
    # by the vocabulary (distinct words) and the per-doc token sums.
    sw = scoped_cache(
        docs.select(
            "doc_id", "source", F.explode(F.split("text", r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("doc_id", "source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    syms = F.expr("filter(split(w, ''), s -> s != '')")
    for left, right in merges:
        syms = _bpe_merge_fold(syms, left, right)
    # vocabulary-sized: every distinct word's encoded length under the k
    # merges (the k folds run once per TYPE, never per occurrence)
    vocab = sw.select("w").distinct().withColumn("n_tok", F.size(syms))
    dtok = (
        sw.join(vocab, "w")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("n_tok")).cast("long").alias("n_tokens"))
    )
    # doc base — the second (2-column, pruned) corpus pass, cached:
    # consumed by the mixture counts, the mixture ranks, and the
    # selection join. Wordless docs keep 0 tokens rather than vanishing.
    base = scoped_cache(
        docs.select("doc_id", "source")
        .join(dtok, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        )
    )

    # ---- 2. SELECT --------------------------------------------------------
    targets, ranked = mixture_targets_and_ranked(base.select("doc_id", "source"))
    selected = (
        base.join(ranked.select("doc_id", "rk"), "doc_id")
        .join(F.broadcast(targets.select("source", "target_n")), "source")
        .filter(F.col("rk") < F.col("target_n"))
        .select("doc_id", "source", "n_tokens")
    )

    # ---- 3. SHUFFLE -------------------------------------------------------
    # cached: consumed by the pack kernel and the rank join-back below
    shuffled = scoped_cache(
        epoch_shuffle_ranks(selected, seed=_EPOCH_SEED, buckets=64)
        .withColumn("shuffle_rank", F.col("shuffle_rank").cast("long"))
    )

    # ---- 4. PACK ----------------------------------------------------------
    packed = pack_sequences(
        shuffled,
        budget=_EPOCH_PACK_BUDGET,
        group_col="source",
        id_col="doc_id",
        tokens_col="n_tokens",
        order_col="shuffle_rank",
    )
    seq = (
        packed.join(shuffled.select("doc_id", "shuffle_rank"), "doc_id")
        .groupBy(F.col("group_key").alias("source"), "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("seq_tokens"),
            # globally unique: member ranks are a global permutation and
            # packs partition the members
            F.min("shuffle_rank").cast("long").alias("epoch_pos"),
        )
    )

    # ---- 5. SHARD ---------------------------------------------------------
    cum = range_partitioned_prefix_sum(
        seq.withColumn("_v", F.col("seq_tokens")),
        [],
        "epoch_pos",
        "_v",
        out="cum_tokens",
        buckets=64,
        exclusive=False,
    )
    return cum.select(
        "source",
        F.col("pack_id").cast("long").alias("pack_id"),
        F.col("n_docs").cast("long").alias("n_docs"),
        "seq_tokens",
        "epoch_pos",
        F.expr(
            "CAST((CAST(cum_tokens AS BIGINT) - seq_tokens)"
            f" div {_EPOCH_SHARD_TOKENS} AS BIGINT)"
        ).alias("shard_id"),
    ).orderBy("epoch_pos")


def curated_epoch_manifest(
    spark: SparkSession, sf_dir: str, k: int = _EPOCH_BPE_K
) -> DataFrame:
    """The FULL production chain: curate, then load — the epoch pipeline
    over exactly the documents ``curation_end_to_end`` keeps for the
    TRAIN split (status='kept', split='train'), with the BPE tokenizer
    trained on that same curated corpus (training a tokenizer on text
    you then throw away biases fertility — real pipelines train on the
    post-curation corpus). Stages 1b-5 are ``_epoch_manifest`` verbatim,
    so this query and ``training_epoch_manifest`` cannot drift; the
    mixture re-apportions over the CURATED per-source counts (a source
    that loses many docs to dedup/quality also loses epoch share —
    exactly the coupling a curation dashboard needs to see).

    Composition properties this pins end to end: no exact/near duplicate
    and no low-quality doc can enter a training shard, and no
    validation/test-split doc can leak into the epoch (the leakage-safe
    split's guarantee carried through the loader).

    Scale shape: the curated corpus frame materializes ONCE behind a
    localCheckpoint lineage cut (see the load-bearing comment below);
    the curation chain (riding the sweep-scoped LSH memos) runs exactly
    once, and the epoch stages then run as documented on
    ``training_epoch_manifest`` over the checkpointed frame. Same
    integer-exact contract. At 100 TB the checkpoint IS the pipeline
    boundary: the curated corpus is written once (parquet) and every
    epoch reads it — this operator expresses both sides in one session.

    Tests-only lane; oracle = curation oracle -> kept_ids temp table ->
    python-BPE wtok on the kept texts -> _CURATED_EPOCH_ORACLE
    (tests/test_round11_ops.py, tools/lane_check.py).

    EAGER GATE (bench caveat, VERDICT r11): calling this function
    MATERIALIZES the curated corpus (the eager checkpoint below) and
    runs the k-merge BPE trainer before returning — "building the plan"
    costs the full curation chain plus k driver-folded aggregates. That
    is the point: the checkpoint is the load-bearing lineage cut, and a
    lazy form would re-send Catalyst down the super-linear analysis path
    the cut exists to prevent."""
    from drug_target_discovery_spark.queries.curation import curation_end_to_end
    from drug_target_discovery_spark.queries.round9 import bpe_top_merges

    kept = (
        curation_end_to_end(spark, sf_dir)
        .filter((F.col("status") == "kept") & (F.col("split") == "train"))
        .select("doc_id")
    )
    # The curated corpus frame is materialized ONCE with a LINEAGE CUT
    # (caching.checkpoint — the graph family's iteration idiom, and the
    # in-session form of what a nightly pipeline does anyway: write the
    # curated corpus, read it back). The cut is LOAD-BEARING, not just
    # the usual cache: the BPE trainer stacks k merge-fold generations
    # on its input's logical plan, and k generations x the full
    # curation-chain lineage (LSH CTEs, digest window) sends Catalyst
    # analysis super-linear — measured as a never-finishing single-task
    # stage at sf0.001 before the cut, seconds after it.
    docs = checkpoint(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .join(kept, "doc_id")
    )
    merges = [
        (r["left"], r["right"])
        for r in bpe_top_merges(spark, sf_dir, k=k, docs=docs).collect()
    ]
    return _epoch_manifest(spark, docs, merges)


training_epoch_manifest.__doc__ = training_epoch_manifest.__doc__.format(
    budget=_EPOCH_PACK_BUDGET, shard=_EPOCH_SHARD_TOKENS
)


# Prepared DuckDB oracle. The BPE word->token-count table is the one piece
# SQL cannot train, so the oracle is hybrid (the bpe_top_merges evidence
# class): the caller registers `wtok(word VARCHAR, n_tok BIGINT)` from the
# INDEPENDENT python BPE recompute (tools/lane_check._python_bpe /
# tests/test_round9_ops.py), then this SQL replays stages 2-5 exactly.
_EPOCH_ORACLE_TMPL = """
WITH RECURSIVE docw AS (
  SELECT doc_id, source,
         unnest(string_split_regex(text, '\\s+')) AS word
  FROM {corpus}
),
dtok AS (
  SELECT d.doc_id, sum(w.n_tok) AS n_tokens
  FROM docw d JOIN wtok w ON d.word = w.word
  WHERE d.word <> ''
  GROUP BY d.doc_id
),
base AS (
  SELECT doc_id, source,
         CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens
  FROM {corpus} LEFT JOIN dtok t USING (doc_id)
),
counts AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
           FROM base GROUP BY source),
weighted AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(n_docs) * 1000000.0 + 0.5) AS BIGINT) AS w
  FROM counts
),
tot AS (SELECT sum(n_docs) AS n_total, sum(w) AS w_total FROM weighted),
seats AS (
  SELECT source, w,
         (n_total // {div}) AS t_seats,
         ((n_total // {div}) * w) // w_total AS base_n,
         ((n_total // {div}) * w) % w_total AS rem
  FROM weighted CROSS JOIN tot
),
deficit AS (SELECT max(t_seats) - sum(base_n) AS d FROM seats),
targets AS (
  SELECT source,
         base_n + CASE WHEN row_number()
                         OVER (ORDER BY rem DESC, source) <= (SELECT d FROM deficit)
                       THEN 1 ELSE 0 END AS target_n
  FROM seats
),
mixranked AS (
  SELECT doc_id, source, n_tokens,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST(('0x' || substr(md5('{mix_seed}:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                    doc_id
         ) - 1 AS rk
  FROM base
),
selected AS (
  SELECT m.doc_id, m.source, m.n_tokens
  FROM mixranked m JOIN targets t USING (source)
  WHERE m.rk < t.target_n
),
shuffled AS (
  SELECT doc_id, source, n_tokens,
         CAST(row_number() OVER (
           ORDER BY CAST(('0x' || substr(md5('{epoch_seed}:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                    doc_id
         ) - 1 AS BIGINT) AS shuffle_rank
  FROM selected
),
ordered AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY shuffle_rank) AS rn
  FROM shuffled
),
walk(source, rn, doc_id, n_tokens, shuffle_rank, pack_id, cum_tokens) AS (
  SELECT source, rn, doc_id, n_tokens, shuffle_rank,
         CAST(0 AS BIGINT), n_tokens
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.source, o.rn, o.doc_id, o.n_tokens, o.shuffle_rank,
         CASE WHEN w.cum_tokens > 0 AND w.cum_tokens + o.n_tokens > {budget}
              THEN w.pack_id + 1 ELSE w.pack_id END,
         CASE WHEN w.cum_tokens > 0 AND w.cum_tokens + o.n_tokens > {budget}
              THEN o.n_tokens ELSE w.cum_tokens + o.n_tokens END
  FROM walk w JOIN ordered o ON o.source = w.source AND o.rn = w.rn + 1
),
seq AS (
  SELECT source, pack_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
         CAST(min(shuffle_rank) AS BIGINT) AS epoch_pos
  FROM walk GROUP BY source, pack_id
),
cut AS (
  SELECT *, sum(seq_tokens) OVER (ORDER BY epoch_pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM seq
)
SELECT source, pack_id, n_docs, seq_tokens, epoch_pos,
       CAST((cum - seq_tokens) // {shard} AS BIGINT) AS shard_id
FROM cut ORDER BY epoch_pos
"""

_EPOCH_ORACLE = _EPOCH_ORACLE_TMPL.format(
    corpus="documents",
    div=_MIX_SAMPLE_DIV,
    mix_seed=_MIX_SEED,
    epoch_seed=_EPOCH_SEED,
    budget=_EPOCH_PACK_BUDGET,
    shard=_EPOCH_SHARD_TOKENS,
)

# Curated-corpus twin: same SQL over the curation-kept train split (the
# caller creates `kept_ids(doc_id)` from curation_end_to_end's oracle).
_CURATED_EPOCH_ORACLE = _EPOCH_ORACLE_TMPL.format(
    corpus="(SELECT d.* FROM documents d JOIN kept_ids USING (doc_id))",
    div=_MIX_SAMPLE_DIV,
    mix_seed=_MIX_SEED,
    epoch_seed=_EPOCH_SEED,
    budget=_EPOCH_PACK_BUDGET,
    shard=_EPOCH_SHARD_TOKENS,
)


# --------------------------------------------------------------------------
# MinHash-LSH banding parameter auto-tuner (measured S-curve -> (b, r))
# --------------------------------------------------------------------------
_TUNE_TARGET_TENTHS = 7        # tuning threshold t = 0.7 (the family's regime)
_TUNE_RECALL_GOAL_MICRO = 950_000  # require expected recall >= 0.95 at t


def lsh_parameter_autotune(
    spark: SparkSession,
    sf_dir: str,
    target_tenths: int = _TUNE_TARGET_TENTHS,
    recall_goal_micro: int = _TUNE_RECALL_GOAL_MICRO,
) -> DataFrame:
    """Choose the MinHash-LSH banding (b bands x r rows) from the corpus's
    own MEASURED similarity spectrum — the tuning step the dedup family's
    committed (8 x 2) parameters were hand-derived from, automated and
    auditable (VERDICT r10 #9 stretch; cf. the datasketch library's
    uniform-prior optimizer — this one integrates over the REAL pair
    distribution instead of an assumed one).

    For every banding (b, r) with b = n_perm div r (r = 1..n_perm, at
    most the family's n_perm={n} permutation budget, deduplicated), and
    every exact pair (d1 < d2, Jaccard s = k/u from the family's
    stop-capped shingle memos):

        capture probability  P(s) = 1 - (1 - s^r)^b   (the S-curve)

    quantized to integer MICRO-units per pair BEFORE any sum (the
    bigram-LM trick, same libm caveat documented there), then folded per
    config into:

      exp_recall   mean P over pairs with s >= t  (expected recall of
                   the >= t cohort under this banding)
      exp_fp_pairs sum of P over pairs with s < t  (expected sub-
                   threshold candidates — the wasted verification load)
      t_star       (1/b)^(1/r), the S-curve inflection estimate

    CHOICE, in pure integer arithmetic (deterministic on any engine):
    qualified = configs whose integer cross-product inequality
    cap_sum_true >= recall_goal * n_true holds; among qualified, the
    minimum expected-FP mass wins (fewest wasted verifications at the
    guaranteed recall); if none qualifies, the maximum cap_sum_true
    (n_true is config-independent, so the sum IS the recall order);
    b ascending breaks ties. One row per config, chosen flagged — the
    banding table `lsh_candidate_recall_audit` then validates against
    ground truth for the committed parameters.

    Scale shape: the pair table rides the family's sweep-scoped memos
    (shared with six queries); the config table is <= n_perm literal
    rows cross-joined in (a bounded broadcast — pair x config expands
    the AGGREGATE INPUT by the config count, map-side-combined straight
    back down to |configs| rows); the choice runs in one
    |configs|-bounded window (the apportionment convention). Threshold
    predicates run in pure integers (10k >= t(s1+s2-k)).

    Tests-only lane; oracle = prepared DuckDB SQL over the family's
    shared CTEs (tests/test_round11_ops.py, tools/lane_check.py).
    """
    from pyspark.sql.window import Window as W

    from drug_target_discovery_spark.queries.dedup import (
        _NUM_HASHES,
        shingle_sizes_and_intersections,
    )

    sizes, inter = shingle_sizes_and_intersections(spark, sf_dir)
    jac = (
        inter.join(
            sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("s1")),
            "d1",
        )
        .join(
            sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("s2")),
            "d2",
        )
        .select("k", (F.col("s1") + F.col("s2") - F.col("k")).alias("u"))
    )
    configs = sorted({(_NUM_HASHES // r, r) for r in range(1, _NUM_HASHES + 1)})
    cfg = spark.createDataFrame(configs, "b int, r int")
    t = int(target_tenths)
    s = F.col("k") * 1.0 / F.col("u")
    p_micro = F.floor(
        (
            F.lit(1.0)
            - F.pow(F.lit(1.0) - F.pow(s, F.col("r")), F.col("b"))
        )
        * 1000000.0
        + F.lit(0.5)
    ).cast("long")
    is_true = (F.col("k") * 10 >= F.lit(t) * F.col("u")).cast("long")
    folded = (
        jac.crossJoin(F.broadcast(cfg))
        .select("b", "r", is_true.alias("tt"), p_micro.alias("pm"))
        .groupBy("b", "r")
        .agg(
            F.sum("tt").alias("n_true"),
            F.sum(F.col("tt") * F.col("pm")).alias("cap_true"),
            F.sum((1 - F.col("tt")) * F.col("pm")).alias("cap_false"),
        )
    )
    qualified = (
        F.col("cap_true") >= F.lit(int(recall_goal_micro)) * F.col("n_true")
    ).cast("int")
    # |configs|-bounded choice window (the apportionment convention)
    w = W.orderBy(
        qualified.desc(),
        F.when(qualified == 1, F.col("cap_false")).otherwise(
            -F.col("cap_true")
        ),
        F.col("b"),
        F.col("r"),
    )
    return (
        folded.withColumn("_rk", F.row_number().over(w))
        .select(
            F.col("b").cast("int").alias("n_bands"),
            F.col("r").cast("int").alias("rows_per_band"),
            (F.col("b") * F.col("r")).cast("int").alias("perms_used"),
            rnd(F.pow(F.lit(1.0) / F.col("b"), F.lit(1.0) / F.col("r")), 6).alias(
                "t_star"
            ),
            F.col("n_true").cast("long").alias("n_true_pairs"),
            rnd(
                F.when(
                    F.col("n_true") > 0,
                    F.col("cap_true") / (F.col("n_true") * 1000000.0),
                ),
                6,
            ).alias("exp_recall"),
            rnd(F.col("cap_false") / 1000000.0, 6).alias("exp_fp_pairs"),
            (F.col("_rk") == 1).alias("chosen"),
        )
        .orderBy("n_bands", "rows_per_band")
    )


lsh_parameter_autotune.__doc__ = lsh_parameter_autotune.__doc__.format(n=16)


# Prepared DuckDB oracle: the dedup family's shared shingle CTEs + the
# same stop-cap + the same micro-quantized S-curve fold and integer
# choice rule, over a VALUES config table.
def _lsh_autotune_oracle(
    target_tenths: int = _TUNE_TARGET_TENTHS,
    recall_goal_micro: int = _TUNE_RECALL_GOAL_MICRO,
) -> str:
    from drug_target_discovery_spark.functions.rounding import rnd_sql
    from drug_target_discovery_spark.queries.dedup import (
        _NUM_HASHES,
        _SHINGLES_SQL,
    )

    configs = sorted({(_NUM_HASHES // r, r) for r in range(1, _NUM_HASHES + 1)})
    values = ", ".join(f"({b}, {r})" for b, r in configs)
    t = int(target_tenths)
    return f"""
    WITH {_SHINGLES_SQL},
    ndocs AS (SELECT count(*) AS n FROM documents),
    stop AS (
      SELECT shingle FROM shingles CROSS JOIN ndocs
      GROUP BY shingle, n HAVING count(*) > 0.5 * n
    ),
    sh AS (SELECT * FROM shingles
           WHERE shingle NOT IN (SELECT shingle FROM stop)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS k
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT i.k, s1.sz + s2.sz - i.k AS u
      FROM inter i
      JOIN sizes s1 ON i.d1 = s1.doc_id
      JOIN sizes s2 ON i.d2 = s2.doc_id
    ),
    cfg(b, r) AS (VALUES {values}),
    folded AS (
      SELECT b, r,
             CAST(sum(CASE WHEN 10 * k >= {t} * u THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true,
             CAST(sum(CASE WHEN 10 * k >= {t} * u THEN
               CAST(floor((1.0 - pow(1.0 - pow(k * 1.0 / u, r), b)) * 1000000.0
                          + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS cap_true,
             CAST(sum(CASE WHEN 10 * k >= {t} * u THEN 0 ELSE
               CAST(floor((1.0 - pow(1.0 - pow(k * 1.0 / u, r), b)) * 1000000.0
                          + 0.5) AS BIGINT) END) AS BIGINT) AS cap_false
      FROM jac CROSS JOIN cfg GROUP BY b, r
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY
               (CASE WHEN cap_true >= {int(recall_goal_micro)} * n_true
                     THEN 1 ELSE 0 END) DESC,
               (CASE WHEN cap_true >= {int(recall_goal_micro)} * n_true
                     THEN cap_false ELSE -cap_true END) ASC,
               b ASC, r ASC) AS _rk
      FROM folded
    )
    SELECT CAST(b AS INT) AS n_bands,
           CAST(r AS INT) AS rows_per_band,
           CAST(b * r AS INT) AS perms_used,
           {rnd_sql("pow(1.0 / b, 1.0 / r)", 6)} AS t_star,
           n_true AS n_true_pairs,
           {rnd_sql("CASE WHEN n_true > 0 THEN cap_true / (n_true * 1000000.0) END", 6)}
             AS exp_recall,
           {rnd_sql("cap_false / 1000000.0", 6)} AS exp_fp_pairs,
           (_rk = 1) AS chosen
    FROM ranked ORDER BY n_bands, rows_per_band
    """


# --------------------------------------------------------------------------
# Semantic benchmark decontamination (the embedding leg of the triple)
# --------------------------------------------------------------------------
_SEMDECON_T = 0.40   # cosine flag threshold (the near-dup family's regime)
_SEMDECON_BLOCK = 2048  # rows per GEMM block (the near-dups kernel's value)


def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EMBEDDING leg of benchmark decontamination — flags training
    documents whose embedding sits above cosine {t} of ANY held-out
    benchmark document: the paraphrase-level contamination the
    registered token-5-gram check (`benchmark_decontamination`) and the
    exact-character check (`cross_corpus_contamination`) cannot see,
    completing the decontamination triple (token / char / semantic, the
    GPT-4/Llama eval-hygiene stack). Conventions shared with the
    registered surface: benchmark slice = doc_id % 20 == 0
    (quality.py:77), embeddings keyed vec_id == doc_id
    (corpusstats.py:281).

    Output, one row per FLAGGED training doc: (doc_id, n_bench_hits,
    best_bench_id, best_cosine) — best = highest cosine, bench-id
    ascending tie-break, so both engines pick the same witness.

    Scale shape — the `embedding_cosine_near_dups` block-pair GEMM
    (similarity.py:206), asymmetric: train blocks x bench blocks, every
    pair covered (exact — no LSH blocker at this low threshold), kernel
    = one BLAS matmul + slack threshold; survivors (~the contamination
    rate) get the engine-identical left-to-right dot fold so emitted
    cosines hash-match DuckDB bit-for-bit. The benchmark side is the
    small one by nature (thousands of eval docs vs billions of training
    docs), so bench spans few blocks and each train vector shuffles to
    ~n_bench_blocks tasks — the broadcast-join shape without a
    driver-side collect, degrading gracefully if the bench side grows.
    The best-hit window partitions by train doc (bounded by that doc's
    hit count). Tests-only lane; prepared DuckDB oracle + the flagged ⊆
    threshold / triple-disjointness pins (tests/test_round11_ops.py).

    EAGER GATE (bench caveat, VERDICT r11): plan construction runs ONE
    eager count aggregate (a single scan, split by the bench predicate —
    ADVICE r11 collapsed the former two scans) to size the GEMM blocks;
    "building the plan" therefore costs one cheap cluster job, the same
    deliberate trade the established GEMM tier makes. An empty benchmark
    slice short-circuits to an empty frame — no degenerate GEMM is
    scheduled (the `cross_corpus_contamination` edge convention)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window as W

    from drug_target_discovery_spark.queries.similarity import (
        _DOT_SPARK,
        _NORM_SPARK,
        _emb_double,
    )

    v = _emb_double(load_table(spark, sf_dir, "embeddings")).select("vec_id", "emb")
    nv = v.withColumn("nrm", F.expr(_NORM_SPARK.format(a="emb"))).select(
        "vec_id", F.expr("transform(emb, x -> x / nrm)").alias("nemb")
    )
    train = nv.filter(F.col("vec_id") % 20 != 0)
    bench = nv.filter(F.col("vec_id") % 20 == 0)
    # One scan sizes both sides (ADVICE r11: formerly two eager counts on
    # the uncached nv re-scanned and re-normalized the table twice; the
    # normalize projection is column-pruned away here since only vec_id is
    # read).
    side_counts = {
        bool(r["is_bench"]): r["n"]
        for r in nv.groupBy((F.col("vec_id") % 20 == 0).alias("is_bench"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_bench = side_counts.get(True, 0)
    n_train = side_counts.get(False, 0)
    if n_bench == 0 or n_train == 0:
        # Empty-side fuse (VERDICT r11 #6): scheduling a degenerate GEMM
        # over max(1, 0) blocks would burn a shuffle to produce nothing —
        # mirror cross_corpus_contamination's empty-benchmark edge and
        # return the typed empty result directly.
        return spark.createDataFrame(
            [],
            "doc_id BIGINT, n_bench_hits BIGINT, "
            "best_bench_id BIGINT, best_cosine DOUBLE",
        )
    n_bblocks = -(-n_bench // _SEMDECON_BLOCK)
    n_tblocks = -(-n_train // _SEMDECON_BLOCK)
    slack = _SEMDECON_T - 1e-9

    # train block i joins EVERY bench block j — full cross coverage
    left = train.withColumn(
        "bi", F.pmod(F.hash("vec_id"), F.lit(n_tblocks))
    ).withColumn("bj", F.explode(F.sequence(F.lit(0), F.lit(n_bblocks - 1))))
    right = bench.withColumn(
        "bj", F.pmod(F.hash("vec_id"), F.lit(n_bblocks))
    ).withColumn("bi", F.explode(F.sequence(F.lit(0), F.lit(n_tblocks - 1))))

    def gemm_cross(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame(
                {
                    "doc_id": pd.Series([], dtype="int64"),
                    "bench_id": pd.Series([], dtype="int64"),
                }
            )
        lm = np.vstack(lpdf["nemb"].to_numpy()).astype(np.float64)
        rm = np.vstack(rpdf["nemb"].to_numpy()).astype(np.float64)
        li, rj = np.nonzero(lm @ rm.T > slack)
        return pd.DataFrame(
            {
                "doc_id": lpdf["vec_id"].to_numpy(dtype=np.int64)[li],
                "bench_id": rpdf["vec_id"].to_numpy(dtype=np.int64)[rj],
            }
        )

    cand = (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(gemm_cross, "doc_id BIGINT, bench_id BIGINT")
    )
    # exact rerank with the engine-identical fold (AQE sizes the joins)
    a = nv.select(F.col("vec_id").alias("doc_id"), F.col("nemb").alias("na"))
    b = nv.select(F.col("vec_id").alias("bench_id"), F.col("nemb").alias("nb"))
    scored = (
        cand.join(a, "doc_id")
        .join(b, "bench_id")
        .withColumn("cosine", F.expr(_DOT_SPARK.format(a="na", b="nb")))
        .filter(F.col("cosine") > _SEMDECON_T)
        .select("doc_id", "bench_id", "cosine")
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("cosine"), F.asc("bench_id"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bench_hits"),
            F.max(F.when(F.col("_rk") == 1, F.col("bench_id"))).alias(
                "best_bench_id"
            ),
            rnd(F.max("cosine"), 6).alias("best_cosine"),
        )
        .orderBy("doc_id")
    )


semantic_decontamination.__doc__ = semantic_decontamination.__doc__.format(
    t=_SEMDECON_T
)


def _semdecon_oracle() -> str:
    from drug_target_discovery_spark.functions.rounding import rnd_sql
    from drug_target_discovery_spark.queries.similarity import (
        _DOT_DUCK,
        _NORM_DUCK,
    )

    return f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    nrm AS (SELECT vec_id, emb, {_NORM_DUCK.format(a="emb")} AS nrm FROM v),
    nv AS (SELECT vec_id, list_transform(emb, x -> x / nrm) AS nemb FROM nrm),
    pairs AS (
      SELECT t.vec_id AS doc_id, b.vec_id AS bench_id,
             {_DOT_DUCK.format(a="t.nemb", b="b.nemb")} AS cosine
      FROM nv t JOIN nv b
        ON t.vec_id % 20 <> 0 AND b.vec_id % 20 = 0
    ),
    hits AS (SELECT * FROM pairs WHERE cosine > {_SEMDECON_T}),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY cosine DESC, bench_id ASC) AS rk
      FROM hits
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bench_hits,
           CAST(max(CASE WHEN rk = 1 THEN bench_id END) AS BIGINT)
             AS best_bench_id,
           {rnd_sql("max(cosine)", 6)} AS best_cosine
    FROM ranked GROUP BY doc_id ORDER BY doc_id
    """
