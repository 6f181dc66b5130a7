"""The drug-target discovery pipeline as pure DataFrame transform
composition (SURVEY §3: the reference's nine mutable-state stages,
pipeline2.py:1148-1230, become referentially-transparent functions whose
"IR" is Catalyst's logical plan).

Every constant the reference hardcodes is a parameter with the reference
default (SURVEY §7.1): NA threshold 0.2 (pipeline2.py:484-486), log2
trigger 100 (:488-491), corr threshold 0.7 (:708), top 500 genes (:663),
top 20 validated (:963), drugability weights 0.6/0.4 (:988-991),
significance adj-p<0.05 & |log2FC|>1 (:639-643).

Scale notes: the expression table is repartitioned by gene once, so the
NA-filter, imputation, z-score and Welch stages share a single shuffle
(SURVEY §4); the probe->gene mapping joins broadcast; the correlation
network is built only after the top-K cut (cardinality reduction before the
O(K^2) pair space).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from drug_target_discovery_spark.functions.stats import (
    bh_fdr,
    student_t_two_sided_p,
    welch_t_stats,
    zscore,
)
from drug_target_discovery_spark.graph.centrality import target_scores
from drug_target_discovery_spark.operators.correlation import corr_edges


@dataclass
class PipelineParams:
    na_threshold: float = 0.2          # min fraction of present cells per gene
    log2_trigger: float = 100.0        # apply log2(x+1) if global max exceeds
    p_threshold: float = 0.05          # BH-adjusted significance
    fc_threshold: float = 1.0          # |log2FC| cut
    n_top_genes: int = 500             # network node budget
    corr_threshold: float = 0.7        # |r| edge predicate
    corr_min_periods: int = 3
    n_top_targets: int = 20            # validated target budget
    drug_weight: float = 0.6           # drugability = w_d*drugs + w_a*assoc
    assoc_weight: float = 0.4


class DrugTargetPipeline:
    """Composable pipeline. Each stage is DataFrame -> DataFrame; run them
    individually (the reference's programmatic mode, SURVEY §3.2) or via
    :meth:`run` for the full chain."""

    def __init__(self, params: PipelineParams | None = None):
        self.params = params or PipelineParams()

    # ---- stage 2: preprocess (pipeline2.py:476-498) ---------------------
    def preprocess(self, expr_long: DataFrame) -> DataFrame:
        """NA-threshold filter (P2) -> per-gene median imputation (A2) ->
        conditional log2 (P3) -> per-gene z-score (T1, stddev_pop).

        One repartition by gene serves the filter, imputation and z-score
        windows; the global max is a 1-row broadcast."""
        p = self.params
        df = expr_long.repartition("probe_id")
        wg = W.partitionBy("probe_id")

        # P2: keep genes with >= na_threshold present cells
        df = (
            df.withColumn("_n_present", F.count("value").over(wg))
            .withColumn("_n_total", F.count(F.lit(1)).over(wg))
            .filter(F.col("_n_present") >= p.na_threshold * F.col("_n_total"))
            .drop("_n_present", "_n_total")
        )
        # A2: median-impute missing cells within gene
        df = df.withColumn("value", F.coalesce("value", F.median("value").over(wg)))
        # P3: conditional log2(x+1) on a broadcast global max
        gmax = df.agg(F.max("value").alias("_gmax"))
        df = (
            df.crossJoin(F.broadcast(gmax))
            .withColumn(
                "value",
                F.when(F.col("_gmax") > p.log2_trigger, F.log2(F.col("value") + 1)).otherwise(
                    F.col("value")
                ),
            )
            .drop("_gmax")
        )
        # T1: z-score per gene, population stddev (sklearn ddof=0)
        return zscore(df, "probe_id", "value", out="value")

    # ---- stage 3: probe -> gene (pipeline2.py:500-538) ------------------
    def map_probes_to_genes(self, expr_long: DataFrame, mapping: DataFrame) -> DataFrame:
        """Broadcast left join (J1) + unmapped filter (P4: the reference's
        UNKNOWN_ sentinel is just a NULL marker) + per-gene-sample exact
        median collapse of multi-probe genes (A1)."""
        joined = expr_long.join(F.broadcast(mapping), "probe_id", "left")
        mapped = joined.filter(F.col("gene_symbol").isNotNull())
        return (
            mapped.groupBy(F.col("gene_symbol").alias("gene"), "sample_id")
            .agg(F.median("value").alias("value"))
        )

    # ---- sample reconciliation (J2, pipeline2.py:361-389) ---------------
    def attach_condition(self, gene_long: DataFrame, meta: DataFrame) -> DataFrame:
        """Inner join on normalized sample_id: only samples present in both
        tables and carrying a condition survive (the reference's
        set-intersection)."""
        cond = meta.select(
            F.trim(F.regexp_replace("sample_id", r'^["\']|["\']$', "")).alias("sample_id"),
            "condition",
        ).filter(F.col("condition").isNotNull())
        return gene_long.join(F.broadcast(cond), "sample_id", "inner")

    # ---- stage 4: differential expression (pipeline2.py:540-661) --------
    def differential_expression(self, gene_cond: DataFrame) -> DataFrame:
        """Welch t per gene from sufficient statistics (T2) -> two-sided p
        (Arrow-batched t CDF) -> BH-FDR (T3) -> (gene, log2FC, pvalue,
        adjusted_pvalue). One aggregation shuffle for every gene."""
        t = welch_t_stats(gene_cond, "gene", "value", "condition", "case", "control")
        withp = t.withColumn("pvalue", student_t_two_sided_p("t_stat", "t_df"))
        adj = bh_fdr(withp, "pvalue", "adjusted_pvalue")
        return adj.select(
            "gene",
            F.col("log2fc").alias("log2FC"),
            "pvalue",
            "adjusted_pvalue",
        )

    def significant_genes(self, diff: DataFrame) -> DataFrame:
        """P5 significance filter with parameterized thresholds (fixing the
        reference's hardcoding quirk, pipeline2.py:639-643), deterministic
        gene order (K2)."""
        p = self.params
        return (
            diff.filter(
                (F.col("adjusted_pvalue") < p.p_threshold)
                & (F.abs("log2FC") > p.fc_threshold)
                & F.col("log2FC").isNotNull()
            )
            .orderBy("gene")
        )

    # ---- stage 5: network construction (pipeline2.py:663-720) -----------
    def select_network_genes(
        self, gene_cond: DataFrame, significant: DataFrame
    ) -> DataFrame:
        """Top-K gene selection: significant genes first (K2); if none,
        fall back to top-K by variance (A6/K1) — the reference's fallback
        at pipeline2.py:683-686."""
        p = self.params
        sig = significant.select("gene").orderBy("gene").limit(p.n_top_genes)
        if sig.take(1):
            return sig
        return (
            gene_cond.groupBy("gene")
            .agg(F.var_samp("value").alias("_v"), F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") >= 2)
            .orderBy(F.desc("_v"), F.asc("gene"))
            .limit(p.n_top_genes)
            .select("gene")
        )

    def build_network(
        self, gene_cond: DataFrame, top_genes: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """(nodes, edges): restrict to top genes (broadcast semi-join),
        pairwise Pearson over samples, |r| > threshold (A7+P7+G1)."""
        p = self.params
        sub = gene_cond.join(F.broadcast(top_genes), "gene", "left_semi")
        edges = corr_edges(
            sub, "gene", "sample_id", "value",
            threshold=p.corr_threshold, min_periods=p.corr_min_periods,
        )
        nodes = top_genes.select(F.col("gene").alias("node"))
        return nodes, edges.select(
            F.col("g1").alias("src"), F.col("g2").alias("dst"), "r", "weight"
        )

    # ---- stage 6: network analysis (pipeline2.py:722-792) ---------------
    def score_targets(self, nodes: DataFrame, edges: DataFrame) -> DataFrame:
        """All three centralities -> min-max scale -> composite mean
        (``graph.centrality.target_scores``, G2-G4, T4, T5) -> ranked desc
        with deterministic tie-break (K3)."""
        return (
            target_scores(edges, nodes)
            .withColumnRenamed("node", "gene")
            .orderBy(F.desc("composite_score"), F.asc("gene"))
        )

    # ---- stage 7: validation enrichment (pipeline2.py:944-1021) ---------
    def validate_targets(
        self,
        target_scores: DataFrame,
        client: Callable[[str], tuple[int, float]],
    ) -> DataFrame:
        """Top-K slice -> external enrichment via mapInPandas (S8/J7) ->
        drugability score (T6). ``client(gene) -> (num_known_drugs,
        avg_association_score)`` is injected: tests pass a deterministic
        fake; production passes an HTTP client with retry/rate-limit. The
        enrichment runs on a <=K-row slice — scale never matters here, the
        limit comes FIRST (SURVEY §4 'limit before expensive external
        calls')."""
        import pandas as pd

        from drug_target_discovery_spark.sources.geo import valid_gene_symbol

        p = self.params
        top = (
            target_scores.select("gene", "composite_score")
            .filter(valid_gene_symbol("gene"))  # P8, pipeline2.py:794-827
            .orderBy(F.desc("composite_score"), F.asc("gene"))
            .limit(p.n_top_targets)
        )
        dw, aw = p.drug_weight, p.assoc_weight

        def enrich(pdf_iter):
            for pdf in pdf_iter:
                drugs, assoc = [], []
                for g in pdf["gene"]:
                    nd, aa = client(g)
                    drugs.append(nd)
                    assoc.append(aa)
                pdf = pdf.copy()
                pdf["num_known_drugs"] = pd.array(drugs, dtype="int64")
                pdf["avg_association_score"] = pd.array(assoc, dtype="float64")
                yield pdf

        schema = (
            "gene STRING, composite_score DOUBLE, "
            "num_known_drugs BIGINT, avg_association_score DOUBLE"
        )
        enriched = top.mapInPandas(enrich, schema=schema)
        return (
            enriched.withColumn(
                "drugability_score",
                dw * F.col("num_known_drugs") + aw * F.col("avg_association_score"),
            )
            .orderBy(F.desc("drugability_score"), F.asc("gene"))
        )

    # ---- full chain ------------------------------------------------------
    def run(
        self,
        expr_long: DataFrame,
        meta: DataFrame,
        mapping: DataFrame,
        client: Callable[[str], tuple[int, float]] | None = None,
    ) -> dict[str, DataFrame]:
        """Stages 2-7 composed; returns every intermediate (the reference
        writes each to CSV — S5 — callers can sink whichever they need)."""
        normalized = self.preprocess(expr_long)
        gene_long = self.map_probes_to_genes(normalized, mapping)
        from drug_target_discovery_spark.caching import fixture_cache

        # the four caches below back every returned DataFrame (and the
        # registry's memoized pipeline outputs) — sweep-scoped: released by
        # caching.release_caches(fixtures=True)
        gene_cond = fixture_cache(self.attach_condition(gene_long, meta))
        # cache the differential table: it is one row per gene (bounded far
        # below the input long table) and every downstream stage re-derives
        # from it — the significance probe (take(1)), the top-K cut, and each
        # centrality's node actions would otherwise re-execute the Welch +
        # BH + t-CDF chain once per action
        diff = fixture_cache(self.differential_expression(gene_cond))
        sig = self.significant_genes(diff)
        # top is <= n_top_genes rows by construction: cache so the three
        # centralities and the corr self-join all reuse one materialization
        top = fixture_cache(self.select_network_genes(gene_cond, sig))
        nodes, edges = self.build_network(gene_cond, top)
        # the edge list is small by construction (<= n_top_genes^2 thresholded
        # pairs) and every downstream consumer — three centralities, the
        # composite join, the sink — re-reads it: cache once here so the
        # corr self-join never re-executes
        edges = fixture_cache(edges)
        scores = self.score_targets(nodes, edges)
        out = {
            "normalized": normalized,
            "gene_expression": gene_cond,
            "differential": diff,
            "significant": sig,
            "network_nodes": nodes,
            "network_edges": edges,
            "target_scores": scores,
        }
        if client is not None:
            out["validated_targets"] = self.validate_targets(scores, client)
        return out


def deterministic_fake_client(gene: str) -> tuple[int, float]:
    """Offline enrichment stand-in (S8 must be mockable, SURVEY §5): a
    hash-derived but stable (num_known_drugs, avg_association_score)."""
    import hashlib

    h = int(hashlib.md5(gene.encode()).hexdigest()[:8], 16)
    return h % 50, (h % 1000) / 1000.0


def opentargets_http_client(
    rate_limit_per_sec: float = 5.0, max_retries: int = 3
) -> Callable[[str], tuple[int, float]]:
    """Production enrichment client factory (Ensembl REST + OpenTargets
    GraphQL, reference pipeline2.py:829-942), with the retry/rate-limit the
    reference lacks. Requires network access; import-gated."""
    import time

    try:
        import requests  # noqa: F401
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError("requests not available in this runtime") from e

    last_call = [0.0]

    def client(gene: str) -> tuple[int, float]:  # pragma: no cover — network
        wait = 1.0 / rate_limit_per_sec - (time.time() - last_call[0])
        if wait > 0:
            time.sleep(wait)
        last_call[0] = time.time()
        for attempt in range(max_retries):
            try:
                r = requests.get(
                    "https://rest.ensembl.org/xrefs/symbol/homo_sapiens/" + gene,
                    headers={"Content-Type": "application/json"},
                    timeout=10,
                )
                r.raise_for_status()
                hits = [x for x in r.json() if x.get("id", "").startswith("ENSG")]
                if not hits:
                    return 0, 0.0
                ensembl_id = hits[0]["id"]
                q = """
                query($id: String!) {
                  target(ensemblId: $id) {
                    knownDrugs { uniqueDrugs }
                    associatedDiseases { rows { score } }
                  }
                }"""
                r2 = requests.post(
                    "https://api.platform.opentargets.org/api/v4/graphql",
                    json={"query": q, "variables": {"id": ensembl_id}},
                    timeout=10,
                )
                r2.raise_for_status()
                t = (r2.json().get("data") or {}).get("target") or {}
                n_drugs = (t.get("knownDrugs") or {}).get("uniqueDrugs") or 0
                scores = [
                    row["score"]
                    for row in ((t.get("associatedDiseases") or {}).get("rows") or [])
                ]
                avg = sum(scores) / len(scores) if scores else 0.0
                return int(n_drugs), float(avg)
            except Exception:
                if attempt == max_retries - 1:
                    return 0, 0.0
                time.sleep(2**attempt)
        return 0, 0.0

    return client
