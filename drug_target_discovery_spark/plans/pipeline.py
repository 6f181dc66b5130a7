"""The drug-target discovery pipeline as pure DataFrame transform
composition (SURVEY §3: the reference's nine mutable-state stages,
pipeline2.py:1148-1230, become referentially-transparent functions whose
"IR" is Catalyst's logical plan).

Every constant the reference hardcodes is a parameter with the reference
default (SURVEY §7.1): NA threshold 0.2 (pipeline2.py:484-486), log2
trigger 100 (:488-491), corr threshold 0.7 (:708), top 500 genes (:663),
top 20 validated (:963), drugability weights 0.6/0.4 (:988-991),
significance adj-p<0.05 & |log2FC|>1 (:639-643).

Scale notes: the expression matrix is one row per probe, (probe_id,
values ARRAY<DOUBLE>), as the reference's own DataFrame is wide
(pipeline2.py:471). NA filter, imputation, log2 and z-score are row-local
array expressions, so preprocessing has no shuffle; the one global max is a
1-row broadcast. The probe->gene collapse is one broadcast join plus one
group-by; the condition split and the Welch statistics are row-local under a
literal sample mask. The correlation network is built only after the top-K
cut, on the driver from <= n_top_genes collected vectors (the driver-twin
policy of ``graph.algorithms.collected_graph``).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from drug_target_discovery_spark.functions.stats import (
    bh_fdr,
    student_t_two_sided_p,
    welch_t,
)
from drug_target_discovery_spark.graph.centrality import target_scores


# Array-row helpers. A lambda that reads a column computed in the
# projection below gets that projection inlined into it, and so re-evaluated
# per element; ``_let`` binds a per-row value to a lambda variable instead.


def _let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once per row."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _sum(arr, f: Callable[[Column], Column] = lambda x: x) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + f(x))


def _mean_var(arr) -> tuple[Column, Column]:
    """Mean and two-pass sample variance of an array column: NULL below one
    and two elements, as ``avg`` and ``var_samp`` give."""
    n = F.size(arr)
    mean = F.when(n > 0, _sum(arr) / n)
    var = _let(mean, lambda m: _sum(arr, lambda x: (x - m) ** 2))
    return mean, F.when(n > 1, var / (n - 1))


def _median(arr) -> Column:
    """Interpolated median of the non-NULL elements of ``arr``, NULL when
    there are none: the mean of the two middle values for an even count,
    as numpy and ``F.median`` take it."""

    def mid(s: Column) -> Column:
        n = F.size(s)
        lo = F.element_at(s, F.floor((n + 1) / 2).cast("int"))
        hi = F.element_at(s, F.floor(n / 2).cast("int") + 1)
        return F.when(n > 0, (lo + hi) / 2)

    return _let(F.array_sort(F.filter(arr, lambda x: x.isNotNull())), mid)


def _local(like: DataFrame, rows: list, schema: str) -> DataFrame:
    """``rows`` as a local relation (Arrow-built ``LocalRelation``), which
    a ``collect()`` reads without a Spark job unless it is cached."""
    names = [f.split()[0] for f in schema.split(",")]
    return like.sparkSession.createDataFrame(pd.DataFrame(rows, columns=names), schema)


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
    def preprocess(self, expr: DataFrame) -> DataFrame:
        """NA-threshold filter (P2) -> row-median imputation (A2) ->
        conditional log2 (P3) -> per-probe z-score (T1, population sd).

        Row-local array expressions, no shuffle; the global max is a 1-row
        broadcast."""
        p = self.params
        v = F.col("values")
        # P2: keep probes with >= na_threshold present cells
        df = expr.filter(
            F.size(F.filter(v, lambda x: x.isNotNull())) >= p.na_threshold * F.size(v)
        )
        # P3's trigger: imputing with the row median never raises a row's
        # max, so the max is taken before imputation
        gmax = df.agg(F.max(F.array_max(v)).alias("_gmax"))
        # A2: median-impute missing cells within the probe
        df = df.withColumn(
            "values", _let(_median(v), lambda m: F.transform(v, lambda x: F.coalesce(x, m)))
        )
        # P3: conditional log2(x+1) on the broadcast global max
        df = df.crossJoin(F.broadcast(gmax)).withColumn(
            "values",
            F.when(
                F.col("_gmax") > p.log2_trigger, F.transform(v, lambda x: F.log2(x + 1))
            ).otherwise(v),
        )
        # T1: z-score, population sd (sklearn ddof=0); sd 0 -> 0
        n = F.size(v)

        def zscore(mu: Column) -> Column:
            sd = F.sqrt(_sum(v, lambda x: (x - mu) ** 2) / n)
            return _let(sd, lambda s: F.transform(
                v, lambda x: F.when(s == 0.0, F.lit(0.0)).otherwise((x - mu) / s)
            ))

        return df.select("probe_id", _let(_sum(v) / n, zscore).alias("values"))

    # ---- stage 3: probe -> gene (pipeline2.py:500-538) ------------------
    def map_probes_to_genes(self, expr: DataFrame, mapping: DataFrame) -> DataFrame:
        """Broadcast join (J1) + unmapped filter (P4: the reference's
        UNKNOWN_ sentinel is just a NULL marker) + element-wise exact median
        collapse of multi-probe genes (A1)."""
        mapped = expr.join(F.broadcast(mapping), "probe_id").filter(
            F.col("gene_symbol").isNotNull()
        )
        genes = mapped.groupBy(F.col("gene_symbol").alias("gene")).agg(
            F.collect_list("values").alias("_vs")
        )
        return genes.select(
            "gene",
            F.transform(
                F.sequence(F.lit(1), F.size(F.element_at("_vs", 1))),
                lambda i: _median(F.transform("_vs", lambda a: F.element_at(a, i))),
            ).alias("values"),
        )

    # ---- sample reconciliation (J2, pipeline2.py:361-389) ---------------
    def attach_condition(self, genes: DataFrame, meta: DataFrame) -> DataFrame:
        """Keep the samples present in both the data and the metadata and
        carrying a condition (the reference's set-intersection): ``values``
        holds them, ``case_v`` / ``ctrl_v`` the case and control ones, each
        in sample order. ``meta`` has one row per sample, so it is
        collected and the split is a literal mask."""
        cond = {
            r["pos"]: r["condition"]
            for r in meta.filter(F.col("pos").isNotNull() & F.col("condition").isNotNull())
            .select("pos", "condition")
            .collect()
        }

        def keep(*labels: str) -> Column:
            mask = F.array(
                *[F.lit(cond.get(i) in labels) for i in range(max(cond, default=-1) + 1)]
            ).cast("array<boolean>")
            # past the mask's end: NULL, so not kept
            return F.filter("values", lambda x, i: F.try_element_at(mask, i + 1))

        return genes.select(
            "gene",
            keep("case", "control").alias("values"),
            keep("case").alias("case_v"),
            keep("control").alias("ctrl_v"),
        )

    # ---- stage 4: differential expression (pipeline2.py:540-661) --------
    def differential_expression(self, gene_cond: DataFrame) -> DataFrame:
        """Welch t per gene from its row's case/control statistics (T2) ->
        two-sided p (Arrow-batched t CDF) -> BH-FDR (T3) -> (gene, log2FC,
        pvalue, adjusted_pvalue). Row-local up to BH's global rank."""
        mean_case, var_case = _mean_var("case_v")
        mean_control, var_control = _mean_var("ctrl_v")
        df = gene_cond.select(
            "gene",
            F.size("case_v").alias("n_case"),
            F.size("ctrl_v").alias("n_control"),
            mean_case.alias("mean_case"),
            mean_control.alias("mean_control"),
            var_case.alias("var_case"),
            var_control.alias("var_control"),
        )
        t_stat, t_df = welch_t(
            *(F.col(c) for c in ("n_case", "n_control", "mean_case", "mean_control",
                                 "var_case", "var_control"))
        )
        withp = df.select(
            "gene",
            (F.col("mean_case") - F.col("mean_control")).alias("log2FC"),
            student_t_two_sided_p(t_stat, t_df).alias("pvalue"),
        )
        return bh_fdr(withp, "pvalue", "adjusted_pvalue").select(
            "gene", "log2FC", "pvalue", "adjusted_pvalue"
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
        """Top-K gene selection, collected into a local relation:
        significant genes first (K2); if none, top-K by variance (A6/K1) —
        the reference's fallback at pipeline2.py:683-686."""
        k = self.params.n_top_genes
        genes = significant.select("gene").orderBy("gene").limit(k).collect()
        if not genes:
            genes = (
                gene_cond.filter(F.size("values") >= 2)
                .orderBy(F.desc(_mean_var("values")[1]), F.asc("gene"))
                .select("gene")
                .limit(k)
                .collect()
            )
        return _local(gene_cond, genes, "gene STRING")

    def build_network(
        self, gene_cond: DataFrame, top_genes: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """(nodes, edges): the top genes' vectors collected (broadcast
        semi-join; <= n_top_genes rows), Pearson r by ``np.corrcoef`` on the
        driver, the upper triangle's |r| > threshold (A7+P7+G1). A constant
        gene's NaN r is never an edge, nor is any pair over fewer than
        ``corr_min_periods`` samples."""
        p = self.params
        rows = sorted(
            gene_cond.join(F.broadcast(top_genes), "gene", "left_semi")
            .select("gene", "values")
            .collect(),
            key=lambda r: r["gene"],
        )
        edges = []
        if len(rows) > 1 and len(rows[0]["values"]) >= p.corr_min_periods:
            with np.errstate(divide="ignore", invalid="ignore"):
                r = np.corrcoef(np.array([r["values"] for r in rows], dtype=np.float64))
            i, j = np.triu_indices(len(rows), 1)
            keep = np.abs(r[i, j]) > p.corr_threshold  # NaN compares False
            edges = [
                (rows[a]["gene"], rows[b]["gene"], float(r[a, b]), float(abs(r[a, b])))
                for a, b in zip(i[keep], j[keep])
            ]
        nodes = _local(gene_cond, [(r["gene"],) for r in rows], "node STRING")
        return nodes, _local(gene_cond, edges, "src STRING, dst STRING, r DOUBLE, weight DOUBLE")

    # ---- stage 6: network analysis (pipeline2.py:722-792) ---------------
    def score_targets(self, nodes: DataFrame, edges: DataFrame) -> DataFrame:
        """All three centralities -> min-max scale -> composite mean
        (``graph.centrality.target_scores``, G2-G4, T4, T5) -> ranked desc
        with deterministic tie-break (K3). ``nodes`` is <= n_top_genes
        rows, so the node count comes from collecting it: no job for
        :meth:`build_network`'s local relation, one if it is cached, where
        ``count()`` is an aggregate of two."""
        return (
            target_scores(edges, nodes, n_nodes=len(nodes.collect()))
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
        expr: DataFrame,
        meta: DataFrame,
        mapping: DataFrame,
        client: Callable[[str], tuple[int, float]] | None = None,
    ) -> dict[str, DataFrame]:
        """Stages 2-7 composed; returns every intermediate (the reference
        writes each to CSV — S5 — callers can sink whichever they need)."""
        normalized = self.preprocess(expr)
        genes = self.map_probes_to_genes(normalized, mapping)
        from drug_target_discovery_spark.caching import fixture_cache

        # the four caches below back every returned DataFrame (and the
        # registry's memoized pipeline outputs) — sweep-scoped: released by
        # caching.release_caches(fixtures=True)
        gene_cond = fixture_cache(self.attach_condition(genes, meta))
        # one row per gene, re-read by the top-K cut, the sinks and every
        # consumer of the returned dict: cached so the Welch + BH + t-CDF
        # chain runs once
        diff = fixture_cache(self.differential_expression(gene_cond))
        sig = self.significant_genes(diff)
        # <= n_top_genes rows, read by the network build and the centralities
        top = fixture_cache(self.select_network_genes(gene_cond, sig))
        nodes, edges = self.build_network(gene_cond, top)
        # re-read by the centralities and the sinks
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
