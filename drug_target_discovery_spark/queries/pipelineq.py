"""Driver-visible end-to-end pipeline queries (SURVEY §3): the full GEO ->
targets chain on the deterministic synthetic fixture. The chain crosses the
t-CDF and iterative-graph boundaries SQL can't express, but the fixture is
deterministic — so both queries carry fixture VALUES oracles computed by an
independent pandas/numpy/networkx implementation (tools/gen_geo_oracles.py,
same reference code the golden test tests/test_pipeline.py compares
against)."""

from __future__ import annotations

import contextlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from drug_target_discovery_spark.caching import fixture_checkpoint, memo
from drug_target_discovery_spark.functions.rounding import rnd
from drug_target_discovery_spark.plans.pipeline import (
    DrugTargetPipeline,
    PipelineParams,
    deterministic_fake_client,
)
from drug_target_discovery_spark.queries.registry import register
from drug_target_discovery_spark.sources.geo import (
    parse_geo_series_matrix,
    read_probe_mapping_csv,
)
from drug_target_discovery_spark.sources.geo_fixture import write_fixture

_FIXTURE_VERSION = "v1"


def _fixture_dir() -> str:
    d = os.path.join(tempfile.gettempdir(), f"dtd_geo_fixture_{_FIXTURE_VERSION}")
    marker = os.path.join(d, "series_matrix.txt")
    if not os.path.exists(marker):
        # atomic publish: write into a scratch dir, rename into place (a
        # concurrent caller sees either nothing or the complete fixture)
        scratch = tempfile.mkdtemp(prefix="dtd_geo_fixture_build_")
        write_fixture(scratch, gz=False)
        try:
            os.rename(scratch, d)
        except OSError:  # raced: someone else published first
            pass
    return d


@contextlib.contextmanager
def _narrow_shuffle(spark: SparkSession):
    """Right-size shuffle width to the fixture volume for the duration of
    the chain's internal actions (significance probe, centrality collects):
    the fixture long table is ~1K rows, so 32-partition shuffle stages are
    pure scheduling overhead. Restored afterwards — at real GEO scale the
    session default / AQE coalescing governs. (Shuffle width binds at
    EXECUTION time, which is why the chain materializes inside this
    window.)"""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _diff_chain(spark: SparkSession) -> dict[str, DataFrame]:
    """Stages 1-4 (parse -> preprocess -> map -> differential), memoized.
    Split from the graph/validation half so the differential query pays
    only its own stages; the targets memo extends this one."""

    def build() -> dict[str, DataFrame]:
        d = _fixture_dir()
        with _narrow_shuffle(spark):
            expr, meta = parse_geo_series_matrix(
                spark, os.path.join(d, "series_matrix.txt")
            )
            expr = expr.coalesce(2)
            mapping = read_probe_mapping_csv(spark, os.path.join(d, "mapping.csv"))
            pipe = DrugTargetPipeline(PipelineParams())
            normalized = pipe.preprocess(expr)
            gene_long = pipe.map_probes_to_genes(normalized, mapping)
            gene_cond = fixture_checkpoint(pipe.attach_condition(gene_long, meta))
            diff = fixture_checkpoint(pipe.differential_expression(gene_cond))
            diff.count()
        return {"pipe": pipe, "gene_cond": gene_cond, "differential": diff}

    return memo(spark, "geo.diff_chain", build)


def _full_chain(spark: SparkSession) -> dict[str, DataFrame]:
    """Stages 5-7 (network -> centralities -> validation) on top of the
    stage-1-4 memo."""

    def build() -> dict[str, DataFrame]:
        out = _diff_chain(spark)
        pipe, gene_cond, diff = out["pipe"], out["gene_cond"], out["differential"]
        with _narrow_shuffle(spark):
            sig = pipe.significant_genes(diff)
            top = fixture_checkpoint(pipe.select_network_genes(gene_cond, sig))
            nodes, edges = pipe.build_network(gene_cond, top)
            edges = fixture_checkpoint(edges)
            scores = fixture_checkpoint(pipe.score_targets(nodes, edges))
            validated = fixture_checkpoint(
                pipe.validate_targets(scores, deterministic_fake_client)
            )
            validated.count()
        return {
            **out,
            "network_nodes": nodes,
            "network_edges": edges,
            "target_scores": scores,
            "validated_targets": validated,
        }

    return memo(spark, "geo.full_chain", build)


from drug_target_discovery_spark.queries._geo_oracles import GEO_ORACLES  # noqa: E402


@register(
    "geo_pipeline_differential",
    tags=("pipeline", "geo"),
    oracle=GEO_ORACLES.get("geo_pipeline_differential"),
)
def geo_pipeline_differential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stages 1-4 (parse -> preprocess -> map -> Welch/BH differential
    table) on the synthetic GEO fixture — schema matches the reference's
    differential_expression.csv (gene, log2FC, pvalue, adjusted_pvalue).
    Oracle: fixture VALUES computed by the independent pandas/numpy
    reference implementation (tools/gen_geo_oracles.py); SF-independent
    because the fixture is."""
    out = _diff_chain(spark)["differential"]
    return out.select(
        "gene",
        rnd("log2FC", 6).alias("log2FC"),
        rnd("pvalue", 8).alias("pvalue"),
        rnd("adjusted_pvalue", 8).alias("adjusted_pvalue"),
    )


@register(
    "geo_pipeline_targets",
    tags=("pipeline", "geo"),
    oracle=GEO_ORACLES.get("geo_pipeline_targets"),
)
def geo_pipeline_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full nine-stage chain to validated targets (schema of the
    reference's GSE46602_final_targets.csv) with the deterministic offline
    enrichment client. Oracle: fixture VALUES (tools/gen_geo_oracles.py),
    networkx centralities + the fake client's closed-form enrichment."""
    out = _full_chain(spark)["validated_targets"]
    return out.select(
        "gene",
        rnd("composite_score", 6).alias("composite_score"),
        "num_known_drugs",
        rnd("avg_association_score", 6).alias("avg_association_score"),
        rnd("drugability_score", 6).alias("drugability_score"),
    )
