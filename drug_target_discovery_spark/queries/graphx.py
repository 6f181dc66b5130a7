"""Extended graph + temporal queries: connected components (recursive-CTE
oracle), PageRank (networkx-parity, rows-only), as-of join, lag/lead
deltas."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from drug_target_discovery_spark.functions.rounding import rnd, rnd_sql
from drug_target_discovery_spark.graph.algorithms import connected_components, pagerank
from drug_target_discovery_spark.operators.asof import asof_join_backward
from drug_target_discovery_spark.queries.dedup import _SIG_SQL, _BANDS_ROWS, candidate_pairs
from drug_target_discovery_spark.operators.dedup import MERSENNE61
from drug_target_discovery_spark.queries.graphq import (
    GRAPH_ORACLES,
    _corr_graph,
    _corr_graph_counts,
)
from drug_target_discovery_spark.queries.registry import register
from drug_target_discovery_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# G6: connected components over the LSH candidate graph (true transitive
# closure of near-dup groups) — oracle via DuckDB recursive CTE
# --------------------------------------------------------------------------
@register(
    "connected_components_near_dups",
    tags=("graph", "iterative", "dedup"),
    oracle=f"""
    WITH RECURSIVE {_SIG_SQL},
    banded AS (
      SELECT doc_id, hash_idx // {_BANDS_ROWS} AS band,
             sum(minhash) % {MERSENNE61} AS bsum, count(*) AS n
      FROM sig GROUP BY doc_id, hash_idx // {_BANDS_ROWS}
      HAVING count(*) = {_BANDS_ROWS}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bsum = b.bsum AND a.doc_id < b.doc_id
    ),
    members AS (SELECT d1 AS node FROM pairs UNION SELECT d2 FROM pairs),
    sym AS (
      SELECT d1 AS src, d2 AS dst FROM pairs
      UNION ALL SELECT d2, d1 FROM pairs
    ),
    reach(node, component) AS (
      SELECT node, node FROM members
      UNION
      SELECT s.dst, r.component
      FROM reach r JOIN sym s ON r.node = s.src
      WHERE r.component < s.dst
    )
    SELECT node AS doc_id, min(component) AS component
    FROM reach GROUP BY node
    """,
)
def connected_components_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True transitive near-dup groups: connected components (min-label
    propagation, G6) over the LSH candidate-pair graph — the full-closure
    upgrade of near_dup_groups' single-hop canonicalization."""
    # the candidate edge list is the sweep-scoped memo shared with
    # lsh_candidate_pairs / near_dup_groups; nodes = edge endpoints by
    # construction, so nodes=None lets the small-graph union-find run off
    # ONE collect of the (tiny) pair list — the LSH band self-join upstream
    # is the expensive part of the chain and runs once into the memo
    pairs = candidate_pairs(spark, sf_dir)
    edges = pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
    cc = connected_components(edges, nodes=None)
    return cc.select(F.col("node").alias("doc_id"), "component")


# --------------------------------------------------------------------------
# G6: PageRank on the correlation graph (networkx parity, rows-only)
# --------------------------------------------------------------------------
@register(
    "pagerank_corr_graph",
    tags=("graph", "iterative"),
    oracle=GRAPH_ORACLES.get("pagerank_corr_graph"),
)
def pagerank_corr_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-expression graph — iterative join-aggregate
    with dangling-mass redistribution; oracle = textbook-PageRank fixture
    values (tools/gen_graph_oracles.py) on the sf0.01 graph, parity vs a
    reference implementation in tests."""
    nodes, edges = _corr_graph(spark, sf_dir)
    n_nodes, n_edges = _corr_graph_counts(spark, sf_dir)
    pr = pagerank(
        edges.select("src", "dst"), nodes, damping=0.85, max_iter=30,
        n_edges=n_edges, n_nodes=n_nodes,
    )
    return pr.select("node", rnd("pagerank", 6).alias("pagerank"))


# --------------------------------------------------------------------------
# As-of join: latest prior 'view' for each 'purchase' per user
# --------------------------------------------------------------------------
@register(
    "asof_view_before_purchase",
    tags=("events", "asof"),
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, value, event_type,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_l,
             CASE WHEN event_type = 'view' THEN 0 ELSE NULL END AS is_r
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    carried AS (
      SELECT user_id, ts, event_id, value, event_type, is_l,
             last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY ts ASC, CASE WHEN event_type='view' THEN 0 ELSE 1 END ASC,
                              event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_ts,
             last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY ts ASC, CASE WHEN event_type='view' THEN 0 ELSE 1 END ASC,
                              event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_value
      FROM tagged
    )
    SELECT user_id, event_id AS purchase_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS purchase_ts_s,
           CAST(floor(epoch(asof_ts)) AS BIGINT) AS asof_ts_s,
           asof_value
    FROM carried WHERE is_l = 1
    """,
)
def asof_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (purchase <- latest prior view per user) via the
    union + carry-forward-window trick: ONE shuffle on user_id, no
    inequality join blow-up. The generic operator is operators/asof.py."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts"), F.col("event_id")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    # deterministic intra-ts order: right(view) first, then event_id
    joined = asof_join_backward(
        purchases.withColumnRenamed("event_id", "purchase_id"),
        views,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["value"],
    )
    return joined.select(
        "user_id",
        "purchase_id",
        F.unix_timestamp("ts").alias("purchase_ts_s"),
        "asof_ts_s",
        F.col("asof_value").cast("double").alias("asof_value"),
    )


# --------------------------------------------------------------------------
# lag/lead deltas (§2.9 window-scalar family)
# --------------------------------------------------------------------------
@register(
    "event_interarrival_stats",
    tags=("events", "window"),
    oracle=f"""
    WITH gaps AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
               AS gap_s
      FROM events
    )
    SELECT user_id,
           count(gap_s) AS n_gaps,
           {rnd_sql("avg(gap_s)", 4)} AS avg_gap_s,
           max(gap_s) AS max_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY user_id
    """,
)
def event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gaps per user via lag + aggregate — the session-gap
    primitive surfaced directly."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("gap_s").alias("n_gaps"),
        rnd(F.avg("gap_s"), 4).alias("avg_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )
