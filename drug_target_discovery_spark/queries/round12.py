"""Round-12 lane operators: the BPE trainer's two production scale forms.

``round9.bpe_top_merges`` (the sequential distributed trainer) runs ONE
driver round-trip per merge — exactly right for the lane's k=10 evidence,
and measurably schedule-bound already at k=10 (the x30-flat epoch probe,
SCALING.md). A real tokenizer is k = 32K-100K merges, where a constant
~0.3-0.5 s/merge driver round becomes hours — the one place the epoch
composition's 100 TB story still hand-waved (VERDICT r11 #5). This module
adds the two forms a production pipeline actually runs, both VALUE-EQUAL
to the sequential trainer (pinned in tests/test_round12_ops.py and
tools/lane_check.py):

- ``bpe_top_merges_batched``: exact distributed training with j merges
  per driver round. Per round, ONE vocabulary-bounded pair-count
  aggregate is collected to its top-M rows and a PROVABLY-SAFE batch is
  chosen greedily on the driver (see ``_safe_batch`` for the exactness
  argument); the whole batch is applied as one chained JVM-side
  projection and cached once. Worst case degenerates to the sequential
  trainer (batch size 1); on Zipf-shaped pair spectra early rounds batch
  tens of merges.

- ``bpe_top_merges_local``: the HF-tokenizers / SentencePiece shape —
  the corpus-sized work (whitespace tokenize -> distinct-word counts) is
  ONE distributed aggregate, and the k-merge loop runs driver-local over
  the collected word-count table with a lazy-deletion heap and
  incremental pair updates (only words containing the merged pair are
  touched). Threshold-gated on the distinct-word count (the bigram-LM
  broadcast-ceiling pattern, round10.py): above ``max_vocab_rows`` it
  raises and the batched distributed form is the documented fallback.
  At k=100K this is seconds of driver CPU after the single scan — the
  form every production tokenizer trainer uses.

Reference parity note: the reference engine (pipeline2.py) has no
tokenizer-training operator; this family extends SURVEY.md §2.12 (BPE
train+apply bullets). Algorithm: Sennrich, Haddow & Birch 2016.
"""

from __future__ import annotations

import heapq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drug_target_discovery_spark.caching import generations
from drug_target_discovery_spark.functions.rounding import rnd, rnd_sql
from drug_target_discovery_spark.sources.tables import load_table

_BPE_SCHEMA = (
    "merge_rank int, left string, right string, merged string, pair_count long"
)

# Distinct-word ceiling for the driver-local trainer (the bigram-LM
# broadcast-ceiling rationale, round10.py: ~2M short strings + counts is
# comfortably inside driver memory; past it, collect() is the wrong
# tool). Above the ceiling the PRODUCTION path is round13's
# frequency-capped trainer (bpe_top_merges_capped — the HF/SentencePiece
# cutoff, measured in the bpecap probe); bpe_top_merges_batched remains
# the EXACT fallback but is driver-round-bound at production k (the r13
# Zipf probe measured 1.4-1.8 merges/round on a natural spectrum).
_LOCAL_VOCAB_CEILING = 2_000_000

# Hard ceiling on chained _bpe_merge_fold applications in ONE projection:
# Spark's analyzer resolves one higher-order-function lambda level per
# Resolution iteration and aborts at 100 ("Max iterations (100) reached
# for batch Resolution" — measured round 12: depth 50 analyzes in 1.4s,
# depth 100 throws). 64 leaves headroom for surrounding expressions.
_FOLD_CHAIN_CAP = 64


def _word_counts(spark: SparkSession, sf_dir: str, docs: "DataFrame | None"):
    """The shared corpus scan: whitespace tokenize -> distinct-word
    counts (map-side combined) — byte-identical to the sequential
    trainer's pass so all three forms train on the same table."""
    if docs is None:
        docs = load_table(spark, sf_dir, "documents").select("text")
    else:
        docs = docs.select("text")
    return (
        docs.select(F.explode(F.split("text", r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Batched distributed trainer
# ---------------------------------------------------------------------------


def _safe_batch(rows, m: int):
    """Greedy prefix of the rank-ordered top-M pair rows that sequential
    BPE is GUARANTEED to pick in this exact order. Exactness argument:

    Applying merge p = (l, r) can only change the counts of pairs that
    SHARE a symbol with p (occurrences absorbed into the merged token),
    and every pair it CREATES — (x, lr) needs an (x, l) adjacency,
    (lr, y) needs (r, y), (lr, lr) needs (r, l), and for l == r the
    created (ll, ll) needs (l, l) itself — is bounded by the pre-batch
    count of one of those sharers. Sharers outside the collected top-M
    are bounded by the M-th count. So after taking p, let S be the
    maximum pre-batch count over [top-M pairs sharing a symbol with p
    (p itself only when l == r)] U [the M-th count]: every pair whose
    count a sequential run could have changed or created so far counts
    <= S. A later candidate is safe iff its symbols are disjoint from
    every taken pair's (its own count is then unchanged) AND its count
    is STRICTLY above S (it outranks every changed/created pair, ties
    impossible). The first candidate is the global argmax including the
    lex tie-break (the aggregate's own ordering), so it is always taken.
    When a candidate fails either condition the batch ENDS (skipping
    would reorder against the sequential rule). Recorded pair_counts are
    the pre-batch counts, which equal each taken pair's count at its
    sequential moment (disjointness). Token-collision safety — a merged
    token string equal to an EXISTING vocab symbol can INFLATE that
    symbol's pair counts, which S (a bound on decreases/creations) does
    not cover — is handled by the caller, which cuts the batch after the
    first take whose merged token collides (checked against the live
    vocab in one filter job).

    DUAL-CREATOR cut (ADVICE r12, closing a proof gap): two
    symbol-DISJOINT taken pairs can still create the SAME merged token
    string — e.g. ('aa','b') and ('a','ab') both create 'aab' — and a
    pair involving that token then accumulates counts from BOTH
    creations, so its post-batch count is bounded by the SUM of two
    sharer bounds while S only takes the max. 60k-corpus fuzzing plus a
    70k-trial reachability search never produced a reachable instance,
    but the bound argument alone doesn't exclude it, so the batch ENDS
    (mirroring the existing cuts) when a candidate's merged token equals
    an earlier taken member's merged token."""
    if not rows:
        return []
    n_m = int(rows[-1]["n"]) if len(rows) >= m else 0
    taken: list[tuple[str, str, int]] = []
    used: set[str] = set()
    merged_taken: set[str] = set()
    bound = 0
    for row in rows:
        l, r, n = row["l"], row["r"], int(row["n"])
        if taken:
            if n <= bound or l in used or r in used or (l + r) in merged_taken:
                break
        taken.append((l, r, n))
        merged_taken.add(l + r)
        sharer = max(
            (
                int(rr["n"])
                for rr in rows
                if (rr["l"] in (l, r) or rr["r"] in (l, r))
                and not (rr["l"] == l and rr["r"] == r)
            ),
            default=0,
        )
        bound = max(bound, sharer, n_m)
        if l == r:  # created (ll, ll) is bounded only by this pair itself
            bound = max(bound, n)
        used.update((l, r))
    return taken


def bpe_top_merges_batched(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    docs: "DataFrame | None" = None,
    m: int = 1024,
    stats: "dict | None" = None,
) -> DataFrame:
    """Exact batched BPE training: identical output to
    ``round9.bpe_top_merges`` (same deterministic merge rule, same
    schema), with j >= 1 merges learned per driver round instead of 1.

    Scale design: the corpus is scanned ONCE (the shared word-count
    aggregate); each ROUND then costs one vocabulary-bounded pair-count
    aggregate collected to its top-M rows, one tiny symbol-collision
    filter job over the <= batch candidate tokens, and one chained
    ``_bpe_merge_fold`` projection (checkpointed, superseded generation
    freed) applying the whole batch. The provably-safe batch rule
    (``_safe_batch``) keeps the result bit-identical to sequential
    training. Honest regime note (round 13, the bpezipf probe): on a
    NATURAL Zipf vocabulary batching yields only 1.4-1.8 merges/round —
    BPE merges chain on each other's created tokens, so consecutive
    merges are rarely symbol-disjoint regardless of count-head
    dominance (the 20-letter-alphabet control pins this as fundamental,
    SCALING.md r13). So this form is the EXACT fallback above the
    driver-local trainer's vocab ceiling (never worse than sequential,
    ~30-45% fewer driver rounds) — NOT a production path to k=32K;
    above the ceiling production callers want round13's
    ``bpe_top_merges_capped`` (deterministic frequency cutoff, fertility
    within ~1% of uncapped in the committed bpecap row). Under the
    ceiling prefer ``bpe_top_merges_local``.

    ``stats`` (probe instrumentation): when a dict is passed, it is
    filled with ``rounds`` (driver rounds used) and ``batch_sizes`` (the
    per-round merge counts) — how the bpek probe (SCALING.md, round 12)
    read the batching efficiency without touching the result plan.

    ACCEPTED COST (2026-08-16, VERDICT r12 #7): the per-round
    symbol-collision scan is a SECOND full-vocab job (explode + isin +
    distinct) on top of the pair-count aggregate. It could ride the
    pair-count aggregate or be maintained incrementally on the driver
    (the live symbol set changes only by applied merges), but the
    batched form is the above-2M-distinct-words FALLBACK, not the hot
    path (under the ceiling ``bpe_top_merges_local`` trains k=1000 in
    ~0.5s), and the scan is vocabulary-grain like everything else in
    the round — so the fold is deliberately NOT done until a probe
    makes this form hot."""
    from drug_target_discovery_spark.queries.round9 import _bpe_merge_fold

    words = _word_counts(spark, sf_dir, docs)
    merges: list[tuple[int, str, str, str, int]] = []
    batch_sizes: list[int] = []

    def step(vocab: DataFrame) -> DataFrame | None:
        if len(merges) >= k:
            return None
        rows = (
            vocab.select(
                F.explode(
                    F.expr(
                        "zip_with(slice(syms, 1, size(syms) - 1),"
                        " slice(syms, 2, size(syms) - 1),"
                        " (a, b) -> struct(a AS l, b AS r))"
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(m)
            .collect()
        )
        rows = [row for row in rows if int(row["n"]) > 0]
        # _FOLD_CHAIN_CAP: the analyzer resolves one HOF-lambda level per
        # Resolution iteration, so a single projection supports only
        # ~100 chained folds ("Max iterations (100) reached", measured
        # round 12) — cap the per-round chain well under it
        batch = _safe_batch(rows, m)[: min(k - len(merges), _FOLD_CHAIN_CAP)]
        if not batch:
            return None
        # Collision cut (see _safe_batch docstring): one pushdown filter
        # over the live vocab's symbols — candidates are few, the filter
        # is an isin over <= |batch| strings.
        tokens = [l + r for (l, r, _) in batch]
        colliding = {
            row["s"]
            for row in vocab.select(F.explode("syms").alias("s"))
            .filter(F.col("s").isin(tokens))
            .distinct()
            .collect()
        }
        if colliding:
            cut = next(
                i for i, (l, r, _) in enumerate(batch) if l + r in colliding
            )
            batch = batch[: cut + 1]
        base = len(merges)
        merges.extend(
            (base + i + 1, l, r, l + r, n) for i, (l, r, n) in enumerate(batch)
        )
        batch_sizes.append(len(batch))
        # the batch's folds chain in ONE projection (flat analysis cost,
        # measured to depth 20+); the generation boundary is the lineage cut
        col = F.col("syms")
        for l, r, _ in batch:
            col = _bpe_merge_fold(col, l, r)
        return vocab.select(col.alias("syms"), "cnt")

    # every round merges at least once, so k rounds always reach k merges
    generations(
        words.select(F.expr("filter(split(w, ''), s -> s != '')").alias("syms"), "cnt"),
        step,
        k,
    )
    if stats is not None:
        stats["rounds"] = len(batch_sizes)
        stats["batch_sizes"] = batch_sizes
    if not merges:
        return spark.createDataFrame([], _BPE_SCHEMA)
    return spark.createDataFrame(merges, _BPE_SCHEMA)


# ---------------------------------------------------------------------------
# Driver-local trainer (threshold-gated)
# ---------------------------------------------------------------------------


def _local_bpe(word_counts, k: int):
    """Exact incremental BPE over a (word, count) table — the same
    deterministic rule as ``round9.bpe_top_merges`` and the pytest
    python oracle (overlapping adjacent pair counting; argmax by
    (count desc, (left, right) lex asc); exact left-to-right
    non-overlapping application), but each merge touches ONLY the words
    containing the merged pair, via a pair -> word-ids index and a
    lazy-deletion heap, instead of a full vocabulary recount. O(total
    pair updates) across all k merges — the standard production-trainer
    inner loop."""
    words = [list(w) for w, _ in word_counts]
    cnts = [int(c) for _, c in word_counts]
    pair_count: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    heap: list[tuple[int, tuple[str, str]]] = []

    def _add_word(i: int, sign: int) -> None:
        c = cnts[i] * sign
        syms = words[i]
        for p in zip(syms, syms[1:]):
            pair_count[p] = pair_count.get(p, 0) + c
            if sign > 0:
                pair_words.setdefault(p, set()).add(i)

    for i in range(len(words)):
        _add_word(i, +1)
    for p, n in pair_count.items():
        heap.append((-n, p))
    heapq.heapify(heap)

    def _apply(syms, le, ri):
        out, pend = [], None
        for x in syms:
            if pend is None:
                pend = x
            elif pend == le and x == ri:
                out.append(le + ri)
                pend = None
            else:
                out.append(pend)
                pend = x
        if pend is not None:
            out.append(pend)
        return out

    merges = []
    for rank in range(1, k + 1):
        while heap and pair_count.get(heap[0][1], 0) != -heap[0][0]:
            heapq.heappop(heap)  # stale lazy-deletion entry
        if not heap or -heap[0][0] <= 0:
            break
        n, (le, ri) = -heap[0][0], heap[0][1]
        merges.append((rank, le, ri, le + ri, n))
        touched = sorted(pair_words.pop((le, ri), set()))
        changed: set[tuple[str, str]] = set()
        for i in touched:
            before = set(zip(words[i], words[i][1:]))
            _add_word(i, -1)
            words[i] = _apply(words[i], le, ri)
            _add_word(i, +1)
            changed |= before | set(zip(words[i], words[i][1:]))
        for p in changed:
            if pair_count.get(p, 0) > 0:
                heapq.heappush(heap, (-pair_count[p], p))
            else:
                pair_count.pop(p, None)
                pair_words.pop(p, None)
    return merges


def bpe_top_merges_local(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    docs: "DataFrame | None" = None,
    max_vocab_rows: int = _LOCAL_VOCAB_CEILING,
) -> DataFrame:
    """Driver-local BPE training behind ONE distributed aggregate — the
    shape every production tokenizer trainer uses (HF tokenizers,
    SentencePiece): the 100 TB corpus reduces to its distinct-word count
    table in one map-side-combined scan; the k-merge loop is then pure
    vocabulary-sized driver CPU (incremental heap, ``_local_bpe``), so
    k = 100K merges cost seconds instead of 100K driver round-trips.

    Threshold-gated (the graph family's driver-exact-strategy valve):
    raises ValueError when the corpus holds more than ``max_vocab_rows``
    distinct words — past the ceiling the collect is the wrong tool and
    ``bpe_top_merges_batched`` is the documented distributed fallback.
    Value-equal to ``round9.bpe_top_merges`` (pinned at k up to 1000
    against the independent python oracle in tests/test_round12_ops.py
    and tools/lane_check.py).

    CHEAP-FAIL ceiling (VERDICT r12 #5): the gate is a one-long
    ``count()`` over ``LIMIT ceiling+1`` — the over-ceiling path raises
    after shipping ONE row to the driver, never the ~2M (word, count)
    rows the old limit+collect gate transferred just to raise. The
    happy path then collects from the cached aggregate (one corpus
    scan total, released before returning)."""
    words = _word_counts(spark, sf_dir, docs).cache()
    try:
        if words.limit(max_vocab_rows + 1).count() > max_vocab_rows:
            raise ValueError(
                f"bpe_top_merges_local: corpus holds > {max_vocab_rows} "
                "distinct words — over the driver-collect ceiling; use "
                "round13.bpe_top_merges_capped (frequency-capped, the "
                "production path) or bpe_top_merges_batched (exact but "
                "driver-round-bound) instead"
            )
        rows = words.collect()
    finally:
        words.unpersist()
    # deterministic driver-side order (collect order is partition-luck)
    word_counts = sorted((r["w"], int(r["cnt"])) for r in rows)
    merges = _local_bpe(word_counts, k)
    if not merges:
        return spark.createDataFrame([], _BPE_SCHEMA)
    return spark.createDataFrame(merges, _BPE_SCHEMA)


# ---------------------------------------------------------------------------
# URL / metadata canonicalization dedup (the CCNet first pass)
# ---------------------------------------------------------------------------

# Tracking query parameters dropped by canonicalization (the CCNet /
# common-crawl convention: analytics params never distinguish content).
_URL_TRACKING_PREFIXES = ("utm_", "fbclid=", "gclid=", "ref=")

# doc_id pack width for the one-aggregate quality argmax (see
# url_canonical_dedup); the fuse below guards it in-plan.
_URL_DOCID_PACK = 10**12


def canonical_host_col(url):
    """Spark Column: the canonical HOST of a raw URL (fragment and
    scheme stripped, authority lowercased, leading ``www.`` and default
    ports removed) — the domain key the CCNet-style per-domain rollup
    groups on. Shared by ``canonical_url_col`` so the dedup and the
    rollup can never disagree on the domain."""
    u1 = F.regexp_replace(url, r"#.*$", "")
    u2 = F.regexp_replace(u1, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    hostpath = F.split(u2, r"[?]", 2)[0]
    host_raw = F.substring_index(hostpath, "/", 1)
    return F.regexp_replace(
        F.regexp_replace(F.lower(host_raw), r"^www\.", ""), r":(80|443)$", ""
    )


def canonical_url_col(url):
    """Spark Column: the canonical form of a raw URL —

    - fragment stripped (``#...``),
    - scheme stripped (http/https/case equivalence),
    - host lowercased, leading ``www.`` and default ports ``:80``/``:443``
      removed (path case is PRESERVED — RFC 3986 paths are case-sensitive;
      only the authority is case-insensitive),
    - trailing ``/`` stripped from the path,
    - query parameters: tracking params dropped
      (``utm_*``/``fbclid``/``gclid``/``ref``), the rest SORTED and
      rejoined, so parameter order never splits a group.

    Pure built-in expressions (regexp/split/filter/array_sort — JVM-side,
    codegen); the DuckDB twin is ``_CANON_URL_DUCK`` and
    tests/test_round12_ops.py pins the two char-for-char."""
    u1 = F.regexp_replace(url, r"#.*$", "")
    u2 = F.regexp_replace(u1, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    parts = F.split(u2, r"[?]", 2)
    hostpath = parts[0]
    q = F.when(F.size(parts) > 1, parts[1]).otherwise(F.lit(""))
    host_raw = F.substring_index(hostpath, "/", 1)
    path = hostpath.substr(F.length(host_raw) + 1, F.length(hostpath))
    host = canonical_host_col(url)
    path_c = F.regexp_replace(path, r"/$", "")

    def _kept(p):
        cond = p != ""
        for pre in _URL_TRACKING_PREFIXES:
            cond = cond & ~p.startswith(pre)
        return cond

    q_c = F.array_join(F.array_sort(F.filter(F.split(q, "&"), _kept)), "&")
    return F.concat(
        host,
        path_c,
        F.when(q_c == "", F.lit("")).otherwise(F.concat(F.lit("?"), q_c)),
    )


# DuckDB twin of canonical_url_col, char-for-char: a flat CTE chain
# (format with {src} = a relation exposing a `url` column plus any
# pass-through columns; every stage SELECTs *, so pass-throughs survive).
# The final stage `canon` adds the `canon_url` column. list_sort and
# array_sort agree on ASCII.
_CANON_URL_DUCK_CTES = """
_c1 AS (
  SELECT *, regexp_replace(regexp_replace(url, '#.*$', ''),
                           '^[A-Za-z][A-Za-z0-9+.\\-]*://', '') AS _u2
  FROM {src}
),
_c2 AS (
  SELECT *,
         CASE WHEN strpos(_u2, '?') > 0
              THEN substr(_u2, 1, strpos(_u2, '?') - 1) ELSE _u2 END AS _hostpath,
         CASE WHEN strpos(_u2, '?') > 0
              THEN substr(_u2, strpos(_u2, '?') + 1) ELSE '' END AS _q
  FROM _c1
),
_c3 AS (
  SELECT *,
         CASE WHEN strpos(_hostpath, '/') > 0
              THEN substr(_hostpath, 1, strpos(_hostpath, '/') - 1)
              ELSE _hostpath END AS _host_raw,
         CASE WHEN strpos(_hostpath, '/') > 0
              THEN substr(_hostpath, strpos(_hostpath, '/'))
              ELSE '' END AS _path
  FROM _c2
),
_c4 AS (
  SELECT *,
         -- COALESCE: duckdb's list_sort([]) / array_to_string([], ...)
         -- return NULL, not '' (spark's array_join returns '')
         coalesce(array_to_string(
           list_sort(list_filter(string_split(_q, '&'),
             p -> p <> '' AND p NOT LIKE 'utm\\_%' ESCAPE '\\'
                  AND p NOT LIKE 'fbclid=%' AND p NOT LIKE 'gclid=%'
                  AND p NOT LIKE 'ref=%')), '&'), '') AS _qc
  FROM _c3
),
canon AS (
  SELECT *,
         regexp_replace(regexp_replace(lower(_host_raw), '^www\\.', ''),
                        ':(80|443)$', '') AS canon_host,
         regexp_replace(regexp_replace(lower(_host_raw), '^www\\.', ''),
                        ':(80|443)$', '')
         || regexp_replace(_path, '/$', '')
         || CASE WHEN _qc = '' THEN '' ELSE '?' || _qc END AS canon_url
  FROM _c4
)"""


def messy_url_col():
    """Deterministic raw-URL fixture column for the documents table (the
    testdata carries no URL metadata, so the lane entry DERIVES one from
    doc_id arithmetic — scheme/case/www/port/param-order/tracking/
    fragment variation, identical expression in ``_MESSY_URL_DUCK``).
    Collision structure: the canonical form depends only on
    (doc_id % 40, path number), where the path number is doc_id % 25 for
    domains site1..site39 (-> 195 canonical URLs, so every scale factor
    produces multi-document groups whose raw forms differ) but doc_id
    ITSELF for domain site0 — site0's docs are all canonical singletons,
    so the domain rollup's committed artifact exhibits BOTH flag states
    (VERDICT r12 #6: the previous fixture flagged all 40 domains at
    every SF, so the artifact never discriminated)."""
    d = F.col("doc_id")
    scheme = (
        F.when(d % 3 == 0, F.lit("http://"))
        .when(d % 3 == 1, F.lit("https://"))
        .otherwise(F.lit("HTTP://"))
    )
    www = F.when(d % 2 == 0, F.lit("www.")).otherwise(F.lit(""))
    tld = F.when(d % 5 == 0, F.lit(".COM")).otherwise(F.lit(".com"))
    host = F.concat(F.lit("site"), (d % 40).cast("string"), tld)
    port = F.when(d % 7 == 0, F.lit(":80")).otherwise(F.lit(""))
    path = F.concat(
        F.lit("/Docs/"),
        F.when(d % 40 == 0, d).otherwise(d % 25).cast("string"),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    q = F.when(d % 2 == 0, F.lit("?a=1&b=2")).otherwise(F.lit("?b=2&a=1"))
    utm = F.when(d % 3 == 0, F.lit("&utm_source=feed")).otherwise(F.lit(""))
    frag = F.when(d % 6 == 0, F.lit("#sec")).otherwise(F.lit(""))
    return F.concat(scheme, www, host, port, path, q, utm, frag)


_MESSY_URL_DUCK = """
    (CASE WHEN doc_id % 3 = 0 THEN 'http://'
          WHEN doc_id % 3 = 1 THEN 'https://' ELSE 'HTTP://' END
     || CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END
     || 'site' || CAST(doc_id % 40 AS VARCHAR)
     || CASE WHEN doc_id % 5 = 0 THEN '.COM' ELSE '.com' END
     || CASE WHEN doc_id % 7 = 0 THEN ':80' ELSE '' END
     || '/Docs/' || CAST(CASE WHEN doc_id % 40 = 0 THEN doc_id
                              ELSE doc_id % 25 END AS VARCHAR)
     || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
     || CASE WHEN doc_id % 2 = 0 THEN '?a=1&b=2' ELSE '?b=2&a=1' END
     || CASE WHEN doc_id % 3 = 0 THEN '&utm_source=feed' ELSE '' END
     || CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END)
"""


def url_canonical_dedup(
    spark: SparkSession, sf_dir: str, docs: "DataFrame | None" = None
) -> DataFrame:
    """URL/metadata-canonicalization dedup — the CCNet FIRST pass (run
    before any content hashing: re-crawls of one page under utm-tagged /
    reordered-query / scheme-variant URLs are duplicates no text digest
    is needed to find). Groups documents by ``canonical_url_col`` and
    emits one row per canonical URL with more than one document:

      canon_url        the canonical form
      n_docs           documents sharing it
      n_raw_urls       distinct RAW url strings that collapsed into it
      rep_doc_id       the quality-argmax representative (largest
                       n_chars, ties to the smallest doc_id — the
                       near_dup_best_representative convention)

    Scale shape: normalize is pure map-side codegen expressions (regexp/
    split/array_sort — no UDF); ONE map-side-combinable aggregate
    shuffles only (canon_url, packed-quality, digests) — never text or
    raw URLs beyond their group key. The representative argmax is packed
    into a single decimal (n_chars * 10^12 + (10^12-1-doc_id), max is
    the lexicographic argmax, guarded in-plan by the pack-width fuse) so
    no second pass or join is needed. ``docs`` defaults to the documents
    table with the deterministic ``messy_url_col`` fixture (the testdata
    has no URL column); production callers pass (doc_id, url, n_chars).

    Tests-only lane; prepared oracle ``_URL_DEDUP_ORACLE`` (DuckDB) +
    canonicalization property tests (tests/test_round12_ops.py)."""
    if docs is None:
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "n_chars")
            .withColumn("url", messy_url_col())
        )
    pack = F.lit(_URL_DOCID_PACK).cast("decimal(38,0)")
    did_guarded = F.when(
        (F.col("doc_id") < 0) | (F.col("doc_id") >= F.lit(_URL_DOCID_PACK)),
        F.raise_error(
            F.concat(
                F.lit("url_canonical_dedup: doc_id "),
                F.col("doc_id").cast("string"),
                F.lit(" outside the [0, 10^12) quality-pack width"),
            )
        ),
    ).otherwise(F.col("doc_id").cast("decimal(38,0)"))
    rows = docs.select(
        F.col("doc_id"),
        F.col("url"),
        canonical_url_col(F.col("url")).alias("canon_url"),
        (
            F.col("n_chars").cast("decimal(38,0)") * pack
            + (pack - F.lit(1).cast("decimal(38,0)") - did_guarded)
        ).alias("qpack"),
    )
    return (
        rows.groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("url").alias("n_raw_urls"),
            (
                pack - F.lit(1).cast("decimal(38,0)") - F.pmod(F.max("qpack"), pack)
            )
            .cast("long")
            .alias("rep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("canon_url")
    )


_URL_DEDUP_ORACLE = f"""
WITH raw AS (
  SELECT doc_id, n_chars, {_MESSY_URL_DUCK} AS url FROM documents
),
{_CANON_URL_DUCK_CTES.format(src="raw")},
packed AS (
  SELECT canon_url, url,
         CAST(n_chars AS HUGEINT) * 1000000000000
           + (999999999999 - CAST(doc_id AS HUGEINT)) AS qpack
  FROM canon
)
SELECT canon_url,
       count(*) AS n_docs,
       count(DISTINCT url) AS n_raw_urls,
       CAST(999999999999 - (max(qpack) % 1000000000000) AS BIGINT) AS rep_doc_id
FROM packed
GROUP BY canon_url
HAVING count(*) > 1
ORDER BY canon_url
"""


# ---------------------------------------------------------------------------
# Domain-level quality rollup (the CCNet group-by-domain pass)
# ---------------------------------------------------------------------------

# Quality proxy threshold: docs under this many characters count as
# low-quality for the rollup (the synthetic corpus spans 48-553 chars,
# median ~306, so ~q25 gives real per-domain variation; production
# callers substitute their model-based score and threshold).
_DOMAIN_LOWQ_CHARS = 175
# Flag rules: a domain is flagged when MORE THAN half its docs are
# URL-duplicates or more than half are low-quality (strict >, checked
# in integer arithmetic: 2 * n > total, never on a rounded float).
_DOMAIN_FLAG_NUM, _DOMAIN_FLAG_DEN = 1, 2


def domain_quality_rollup(
    spark: SparkSession,
    sf_dir: str,
    docs: "DataFrame | None" = None,
    min_chars: int = _DOMAIN_LOWQ_CHARS,
) -> DataFrame:
    """Per-DOMAIN corpus health rollup — the CCNet/common-crawl pass
    run right after URL canonicalization: curation decisions (keep,
    downsample, drop) are made per registered domain, because quality
    and duplication are domain-correlated (one spam host poisons every
    path under it). One row per canonical host:

      domain             canonical_host_col of the doc's URL
      n_docs             documents under the domain
      n_canonical_urls   distinct canonical URLs (the dedup grain)
      dup_url_share      1 - n_canonical_urls/n_docs, rounded
      n_low_quality      docs with n_chars < min_chars
      low_quality_share  rounded share
      mean_chars         rounded mean document length
      flagged            strict-majority rule on EITHER share, decided
                         in integer arithmetic (2*n > total), so the
                         flag can never flip on a float rounding edge

    Scale shape: canonicalization is map-side codegen; ONE aggregate to
    the (domain, canon_url) grain (map-side combined), then ONE to the
    domain grain — output bounded by the registered-domain count, the
    cheapest shape in the repo. ``docs`` defaults to the documents
    table with the deterministic ``messy_url_col`` fixture; production
    callers pass (doc_id, url, n_chars).

    Tests-only lane; prepared oracle ``_DOMAIN_ROLLUP_ORACLE`` +
    flag-rule edge pins (tests/test_round12_ops.py)."""
    if docs is None:
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "n_chars")
            .withColumn("url", messy_url_col())
        )
    rows = docs.select(
        canonical_host_col(F.col("url")).alias("domain"),
        canonical_url_col(F.col("url")).alias("canon_url"),
        F.col("n_chars"),
    )
    per_url = rows.groupBy("domain", "canon_url").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("n_chars") < min_chars).cast("long")).alias("n_lowq"),
        F.sum("n_chars").alias("chars"),
    )
    den = F.lit(_DOMAIN_FLAG_DEN)
    num = F.lit(_DOMAIN_FLAG_NUM)
    g = per_url.groupBy("domain").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_canonical_urls"),
        F.sum("n_lowq").alias("n_low_quality"),
        F.sum("chars").alias("sum_chars"),
    )
    return g.select(
        "domain",
        "n_docs",
        "n_canonical_urls",
        rnd(
            (F.col("n_docs") - F.col("n_canonical_urls")) / F.col("n_docs"), 6
        ).alias("dup_url_share"),
        "n_low_quality",
        rnd(F.col("n_low_quality") / F.col("n_docs"), 6).alias(
            "low_quality_share"
        ),
        rnd(F.col("sum_chars") / F.col("n_docs"), 6).alias("mean_chars"),
        (
            (den * (F.col("n_docs") - F.col("n_canonical_urls")) > num * F.col("n_docs"))
            | (den * F.col("n_low_quality") > num * F.col("n_docs"))
        ).alias("flagged"),
    ).orderBy("domain")


_DOMAIN_ROLLUP_ORACLE = f"""
WITH raw AS (
  SELECT doc_id, n_chars, {_MESSY_URL_DUCK} AS url FROM documents
),
{_CANON_URL_DUCK_CTES.format(src="raw")},
per_url AS (
  SELECT canon_host AS domain, canon_url,
         count(*) AS n,
         sum(CASE WHEN n_chars < {_DOMAIN_LOWQ_CHARS} THEN 1 ELSE 0 END) AS n_lowq,
         sum(n_chars) AS chars
  FROM canon GROUP BY canon_host, canon_url
)
SELECT domain,
       CAST(sum(n) AS BIGINT) AS n_docs,
       count(*) AS n_canonical_urls,
       {rnd_sql("(sum(n) - count(*)) * 1.0 / sum(n)", 6)} AS dup_url_share,
       CAST(sum(n_lowq) AS BIGINT) AS n_low_quality,
       {rnd_sql("sum(n_lowq) * 1.0 / sum(n)", 6)} AS low_quality_share,
       {rnd_sql("sum(chars) * 1.0 / sum(n)", 6)} AS mean_chars,
       ({_DOMAIN_FLAG_DEN} * (sum(n) - count(*)) > {_DOMAIN_FLAG_NUM} * sum(n)
        OR {_DOMAIN_FLAG_DEN} * sum(n_lowq) > {_DOMAIN_FLAG_NUM} * sum(n))
         AS flagged
FROM per_url
GROUP BY domain
ORDER BY domain
"""


# ---------------------------------------------------------------------------
# BPE application at production k (the fold chain's analyzer-cap escape)
# ---------------------------------------------------------------------------


def _encode_words(words, merges):
    """Exact batch encode: apply the rank-ordered merge list to every
    word, each merge once, non-overlapping left-to-right — identical
    semantics to the chained ``_bpe_merge_fold`` projection — but with a
    pair -> word-ids index over the batch so a merge whose pair appears
    nowhere costs ONE dict lookup. Total work ~ O(batch chars + applied
    merges + k lookups), independent of k x batch size. Returns a list
    of token lists."""
    syms = [list(w) for w in words]
    pair_words: dict[tuple[str, str], set[int]] = {}
    for i, s in enumerate(syms):
        for p in zip(s, s[1:]):
            pair_words.setdefault(p, set()).add(i)
    for le, ri in merges:
        ids = pair_words.pop((le, ri), None)
        if not ids:
            continue
        for i in sorted(ids):
            s = syms[i]
            out, pend = [], None
            for x in s:
                if pend is None:
                    pend = x
                elif pend == le and x == ri:
                    out.append(le + ri)
                    pend = None
                else:
                    out.append(pend)
                    pend = x
            if pend is not None:
                out.append(pend)
            syms[i] = out
            for p in zip(out, out[1:]):
                pair_words.setdefault(p, set()).add(i)
    return syms


def bpe_encode_stats_scaled(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    max_vocab_rows: int = _LOCAL_VOCAB_CEILING,
) -> DataFrame:
    """Tokenizer application at PRODUCTION k — the consumer-side twin of
    ``round9.bpe_encode_stats`` with identical output (per-source
    n_words / n_tokens / n_chars / n_distinct_tokens / fertility /
    chars_per_token) that escapes the fold chain's analyzer ceiling:
    chaining one ``_bpe_merge_fold`` per merge in a single projection
    aborts at ~100 merges ("Max iterations (100) reached for batch
    Resolution", the _FOLD_CHAIN_CAP finding), so a 32K-100K-merge
    tokenizer can NEVER be applied that way.

    Here the merge list (trained by ``bpe_top_merges_local`` — seconds
    at any k) ships to executors inside an Arrow-batched ``pandas_udf``
    closure (a few MB at 100K merges), and each batch is encoded with
    the ``_encode_words`` pair-index so absent merges cost one dict
    lookup — work per batch is O(chars + applied merges), independent
    of k. Everything else keeps the committed factoring: the corpus
    collapses to the (source, word) count grain FIRST (the shuffle
    carries the per-source vocabulary, never the token stream), the UDF
    runs on that bounded grain, and the same two aggregates follow.
    Value-pinned equal to ``bpe_encode_stats`` at k=8/30 and to the
    python oracle at corpus-exhaustion k (tests/test_round12_ops.py,
    tools/lane_check.py)."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    from drug_target_discovery_spark.caching import scoped_cache
    from drug_target_discovery_spark.functions.rounding import rnd

    merges = [
        (r["left"], r["right"])
        for r in bpe_top_merges_local(
            spark, sf_dir, k=k, max_vocab_rows=max_vocab_rows
        ).collect()
    ]

    # no type hints: the module's `from __future__ import annotations`
    # stringifies them and the pandas_udf hint parser rejects strings
    @pandas_udf("array<string>")
    def encode(words):
        return pd.Series(_encode_words(words.tolist(), merges))

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    sw = (
        docs.select("source", F.explode(F.split("text", r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    enc = scoped_cache(sw.withColumn("toks", encode(F.col("w"))))
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
            rnd(F.col("n_chars") / F.col("n_tokens"), 6).alias("chars_per_token"),
        )
        .orderBy("source")
    )
