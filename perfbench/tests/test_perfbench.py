"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q

The generator and calibration tests need numpy/networkx only; the smoke
tests start Spark and run one short benchmark run per workload (about a
minute each).
"""

from __future__ import annotations

import ast
import filecmp
import inspect
import json
import os
import re
import shutil
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import geo_gen, harness, reference, registry_mix, tables_gen  # noqa: E402
from perfbench import workloads  # noqa: E402
from perfbench.workloads import STAGES  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _fake_client(gene: str) -> tuple[int, float]:
    return 1, 0.5


def test_geo_generator_is_deterministic(tmp_path):
    shape = geo_gen.GSE46602
    a = geo_gen.write_inputs(shape, 3, str(tmp_path / "a"))
    b = geo_gen.write_inputs(shape, 3, str(tmp_path / "b"))
    c = geo_gen.write_inputs(shape, 4, str(tmp_path / "c"))
    assert filecmp.cmp(a["matrix_path"], b["matrix_path"], shallow=False)
    assert filecmp.cmp(a["mapping_path"], b["mapping_path"], shallow=False)
    assert a["digest"] == b["digest"] != c["digest"]


def test_table_generator_is_deterministic(tmp_path):
    a = tables_gen.write_tables(0.002, 3, str(tmp_path / "a"))
    b = tables_gen.write_tables(0.002, 3, str(tmp_path / "b"))
    assert [os.path.basename(p) for p in a] == [os.path.basename(p) for p in b]
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))


def test_geo_fixture_keeps_semantic_edges():
    d = geo_gen.generate(geo_gen.GSE46602, 5)
    v = d["values"]
    missing = (v != v).mean(axis=1)
    assert (missing > 0.8).sum() == 1            # one probe dropped by the NA filter
    assert 0 < ((missing > 0) & (missing < 0.2)).sum()  # scattered, imputed NAs
    assert (v[~(v != v).any(axis=1)].std(axis=1) == 0).sum() == 1  # one constant probe
    assert (v[v == v]).max() > 100                # the log2 trigger fires
    symbols = [s for s in d["symbols"] if s]
    assert len(symbols) > len(set(symbols))       # multi-probe genes
    assert "\tNA\t" in d["matrix_text"] or "\tNA\n" in d["matrix_text"]


@pytest.mark.parametrize(
    "shape,seed",
    [(geo_gen.GSE46602, 1), (geo_gen.GSE46602, 2), (geo_gen.GSE46602, 3),
     (geo_gen.WIDE_COHORT, 1)],
    ids=["gse46602-1", "gse46602-2", "gse46602-3", "wide_cohort-1"],
)
def test_calibration_within_band(shape, seed):
    ref = reference.compute(geo_gen.generate(shape, seed), shape.n_top, _fake_client)
    assert shape.sig_band[0] <= ref["n_significant"] <= shape.sig_band[1]
    assert shape.edge_band[0] <= ref["n_edges"] <= shape.edge_band[1]
    assert ref["n_nodes"] == shape.n_top
    assert abs(ref["mapped_frac"] - shape.mapped_frac) < 0.005


def test_reference_t_distribution():
    # two-sided p of t=2.0 with 10 df, and of t=0
    assert reference.t_two_sided_p(2.0, 10.0) == pytest.approx(0.0733880347, rel=1e-8)
    assert reference.t_two_sided_p(0.0, 7.0) == pytest.approx(1.0)


def test_benchmark_json_is_well_formed():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in SPEC[k]]
    assert all(NAME.match(n) for n in names)
    for k in ("end_to_end", "per_layer"):
        assert len({m["name"] for m in SPEC[k]}) == len(SPEC[k])
    assert {"setup_s", "wall_s", "first_pass_s", "cpu_s", "peak_mem_mb"} == {
        m["name"] for m in SPEC["end_to_end"]
    }
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in SPEC["workloads"])
    assert len(SPEC["per_layer"]) <= 128


def test_per_layer_names_cover_every_layer():
    declared = {m["name"] for m in SPEC["per_layer"]}
    for st in STAGES:
        assert {f"stage.{st}.{f}" for f in ("s", "jobs", "task_s", "shuffle_mb")} <= declared
    for q in registry_mix.CANARY_V2:
        assert {f"q.{q}.plan_s", f"q.{q}.exec_s"} <= declared
    assert set(registry_mix.MIX) <= set(registry_mix.CANARY_V2)


# the pipeline method (or source function) behind each stage's output
STAGE_OF = {
    "parse_geo_series_matrix": "parse", "preprocess": "preprocess",
    "map_probes_to_genes": "map_probes", "attach_condition": "attach",
    "differential_expression": "de", "select_network_genes": "topk",
    "build_network": "pearson", "score_targets": "centrality",
    "validate_targets": "validate",
}


def _cached_stages(fn) -> list[str]:
    """The stage behind each ``fixture_cache(...)`` call in ``fn``: the
    called method inside the argument, or, for a bare name, the call
    whose result was last assigned to it."""
    tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))

    def stage(node):
        for n in ast.walk(node):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                if name in STAGE_OF:
                    return STAGE_OF[name]
        return None

    bound, out = {}, []
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            for t in node.targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and stage(node.value):
                        bound.setdefault(n.id, []).append((node.lineno, stage(node.value)))
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call) and getattr(node.func, "id", "") == "fixture_cache"):
            arg = node.args[0]
            if isinstance(arg, ast.Name):
                out.append(max(b for b in bound[arg.id] if b[0] <= node.lineno)[1])
            else:
                out.append(stage(arg))
    return out


def test_traced_composition_matches_run_caching():
    """The traced pass copies DrugTargetPipeline.run's plan: it fails here
    when run() caches at other stages than the copy assumes."""
    from drug_target_discovery_spark.plans.pipeline import DrugTargetPipeline

    run_cached = _cached_stages(DrugTargetPipeline.run)
    assert sorted(run_cached) == sorted(workloads.RUN_CACHED)
    traced = _cached_stages(workloads.pipeline_pass_traced)
    assert sorted(traced) == sorted(workloads.RUN_CACHED + workloads.TRACE_ONLY_CACHED)


def test_declared_rejects_a_metric_not_computed():
    names = [m["name"] for m in SPEC["per_layer"]]
    values = {n: 1.0 for n in names if not n.startswith(harness.UNREACHED["gse46602"])}
    assert set(harness._declared(values, 1, "gse46602")) == set(names)
    with pytest.raises(RuntimeError, match="not computed"):
        harness._declared({k: v for k, v in values.items() if k != "caching.release_s"},
                          1, "gse46602")
    with pytest.raises(RuntimeError, match="not declared"):
        harness._declared({**values, "caching.relase_s": 1.0}, 1, "gse46602")
    e2e = {m["name"]: 1.0 for m in SPEC["end_to_end"]}
    with pytest.raises(RuntimeError, match="not computed"):
        harness._declared({k: v for k, v in e2e.items() if k != "setup_s"}, 0, "registry_mix")


def test_run_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    p = subprocess.run(
        SPEC["command"] + ["--workload", "gse46602", "--seed", "1", "--seconds", "1",
                           "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0 and not p.stdout.strip()


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        SPEC["command"] + ["--workload", workload, "--seed", "9", "--seconds", "1",
                           "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    info = json.loads(lines[-2].removeprefix("perfbench-info "))
    return json.loads(lines[-1]), info


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_pass_is_correct_and_prints_declared_metrics(workload):
    result, info = _run(workload, trace=1)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert info["failed_frac"] == 0
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    if workload == "gse46602":
        assert info["calibration"]["in_band"]


def test_untraced_run_prints_end_to_end_metrics():
    result, _ = _run("gse46602", trace=0)
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    assert all(v["value"] > 0 for v in result["metrics"].values())
