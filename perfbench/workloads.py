"""One pass of each workload, untraced and traced, plus its output check.

A pipeline pass goes from the generated input files to every output
written: parse -> ``DrugTargetPipeline.run`` with the offline enrichment
stub -> differential CSV, validated-targets CSV and network GEXF. A
registry pass runs every query of the mix into the ``noop`` sink.
"""

from __future__ import annotations

import glob
import os
import re
import time

import numpy as np
import pandas as pd

from drug_target_discovery_spark.caching import fixture_cache, release_caches
from drug_target_discovery_spark.plans.pipeline import (
    DrugTargetPipeline,
    PipelineParams,
    deterministic_fake_client,
)
from drug_target_discovery_spark.queries.registry import all_queries
from drug_target_discovery_spark.sources.geo import (
    parse_geo_series_matrix,
    read_probe_mapping_csv,
)
from drug_target_discovery_spark.sources.sinks import write_csv, write_gexf

STAGES = (
    "parse", "preprocess", "map_probes", "attach", "de",
    "topk", "pearson", "centrality", "validate", "sinks",
)
# The traced pass composes the stages itself, so it is a copy of
# DrugTargetPipeline.run's plan: it caches the output of the stages that
# run() caches (RUN_CACHED) and, to time each stage on its own, of the
# others too (TRACE_ONLY_CACHED). A self-test holds both to the code.
RUN_CACHED = ("attach", "de", "topk", "pearson")
TRACE_ONLY_CACHED = ("parse", "preprocess", "map_probes", "centrality", "validate")


# ---- pipelines -----------------------------------------------------------


def _sinks(diff, validated, nodes, edges, out_dir: str) -> None:
    write_csv(diff, os.path.join(out_dir, "differential"))
    write_csv(validated, os.path.join(out_dir, "validated"))
    write_gexf(nodes, edges, os.path.join(out_dir, "network.gexf"))


def pipeline_pass(spark, shape, inputs: dict, out_dir: str) -> None:
    expr, meta = parse_geo_series_matrix(spark, inputs["matrix_path"])
    mapping = read_probe_mapping_csv(spark, inputs["mapping_path"])
    out = DrugTargetPipeline(PipelineParams(n_top_genes=shape.n_top)).run(
        expr, meta, mapping, client=deterministic_fake_client
    )
    _sinks(
        out["differential"], out["validated_targets"],
        out["network_nodes"], out["network_edges"], out_dir,
    )


def pipeline_pass_traced(spark, shape, inputs: dict, out_dir: str, tracer, k: int) -> dict:
    """The same pass with every stage materialized under its own job group.
    Unlike ``run()``, which fuses parse, preprocess, probe mapping and the
    condition join into one plan up to its first cache, every stage's
    output is cached here (see ``TRACE_ONLY_CACHED``). Returns the extra
    per-layer readings the spans do not hold."""
    pl = DrugTargetPipeline(PipelineParams(n_top_genes=shape.n_top))
    extra = {}
    with tracer.span("parse", k):
        t0 = time.perf_counter()
        expr, meta = parse_geo_series_matrix(spark, inputs["matrix_path"])
        extra["parse.plan_s"] = time.perf_counter() - t0
        mapping = read_probe_mapping_csv(spark, inputs["mapping_path"])
        expr = fixture_cache(expr)
        expr.count()
    with tracer.span("preprocess", k):
        norm = fixture_cache(pl.preprocess(expr))
        norm.count()
    with tracer.span("map_probes", k):
        genes = fixture_cache(pl.map_probes_to_genes(norm, mapping))
        genes.count()
    with tracer.span("attach", k):
        cond = fixture_cache(pl.attach_condition(genes, meta))
        cond.count()
    with tracer.span("de", k):
        diff = fixture_cache(pl.differential_expression(cond))
        diff.count()
    with tracer.span("topk", k):
        top = fixture_cache(pl.select_network_genes(cond, pl.significant_genes(diff)))
        top.count()
    with tracer.span("pearson", k):
        nodes, edges = pl.build_network(cond, top)
        edges = fixture_cache(edges)
        edges.count()
    with tracer.span("centrality", k) as sp:
        scores = fixture_cache(pl.score_targets(nodes, edges))
        scores.count()
    extra["centrality.driver_py_s"] = sp.py_cpu_s
    with tracer.span("validate", k):
        validated = fixture_cache(pl.validate_targets(scores, deterministic_fake_client))
        validated.count()
    with tracer.span("sinks", k):
        _sinks(diff, validated, nodes, edges, out_dir)
    return extra


def _read_csv_dir(path: str) -> pd.DataFrame:
    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    return pd.concat([pd.read_csv(p) for p in parts], ignore_index=True)


def read_outputs(out_dir: str) -> dict:
    gexf = open(os.path.join(out_dir, "network.gexf")).read()
    return {
        "differential": _read_csv_dir(os.path.join(out_dir, "differential")),
        "validated": _read_csv_dir(os.path.join(out_dir, "validated")),
        "n_nodes": len(re.findall(r"<node ", gexf)),
        "n_edges": len(re.findall(r"<edge ", gexf)),
    }


def check_pipeline(got: dict, ref: dict) -> str | None:
    """Compare one pass's written outputs with the reference; None = pass."""
    d = got["differential"].sort_values("gene").reset_index(drop=True)
    rd = ref["differential"]
    if d["gene"].astype(str).tolist() != rd["gene"]:
        return f"differential genes differ ({len(d)} vs {len(rd['gene'])} rows)"
    for col, tol in (("log2FC", 1e-9), ("pvalue", 1e-6), ("adjusted_pvalue", 1e-6)):
        ok = np.isclose(d[col].to_numpy(float), np.asarray(rd[col], float),
                        rtol=tol, atol=1e-12, equal_nan=True)
        if not ok.all():
            i = int(np.argmax(~ok))
            return f"differential {col} differs at {d['gene'][i]}"
    if (got["n_nodes"], got["n_edges"]) != (ref["n_nodes"], ref["n_edges"]):
        return (f"network {got['n_nodes']} nodes / {got['n_edges']} edges, "
                f"reference {ref['n_nodes']} / {ref['n_edges']}")
    v, want = got["validated"], ref["targets"]
    if len(v) != len(want):
        return f"{len(v)} validated targets, reference {len(want)}"
    # a gene outside the reference top-20 may only stand in for a tie
    cut = min(ref["composite"][g] for g in want)
    for row in v.itertuples():
        score = ref["composite"].get(row.gene)
        if score is None or abs(score - row.composite_score) > 1e-6:
            return f"target {row.gene} composite {row.composite_score} vs {score}"
        if row.gene not in want and score < cut - 1e-6:
            return f"target {row.gene} is outside the reference top-{len(want)}"
        if abs(ref["drugability"][row.gene] - row.drugability_score) > 1e-9:
            return f"target {row.gene} drugability {row.drugability_score}"
    return None


def calibration(got: dict) -> dict:
    d = got["differential"]
    sig = (d["adjusted_pvalue"] < 0.05) & (d["log2FC"].abs() > 1.0)
    return {
        "genes_tested": int(len(d)),
        "significant": int(sig.sum()),
        "nodes": got["n_nodes"],
        "edges": got["n_edges"],
    }


# ---- registry ------------------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_query(spark, sf_dir: str, name: str) -> None:
    """Run one query into the noop sink."""
    _noop(all_queries()[name].fn(spark, sf_dir))


def registry_pass_traced(spark, sf_dir: str, names: list[str], tracer, k: int):
    """Each query under its own span: ``plan_s`` is the query function's
    return plus ``executedPlan``, ``exec_s`` the drain into ``noop``.
    Returns the per-query readings and, by query, the error of each query
    that raised."""
    reg = all_queries()
    out, errors = {}, {}
    for name in names:
        with tracer.span(f"q.{name}", k):
            t0 = t1 = time.perf_counter()
            try:
                df = reg[name].fn(spark, sf_dir)
                df._jdf.queryExecution().executedPlan()
                t1 = time.perf_counter()
                _noop(df)
            except Exception as e:  # one failing query must not hide the rest
                errors[name] = f"{type(e).__name__}: {e}"
            out[f"q.{name}.plan_s"] = t1 - t0
            out[f"q.{name}.exec_s"] = time.perf_counter() - t1
        release_caches()
    release_caches(fixtures=True)
    return out, errors
