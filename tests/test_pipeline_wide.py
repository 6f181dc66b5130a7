"""Edge cases of the one-row-per-probe pipeline, each checked against
numpy/pandas: even-count medians in imputation and in the probe collapse,
an all-NA probe kept by ``na_threshold=0``, a constant gene, fewer samples
than ``corr_min_periods``, a data header that disagrees with the sample
metadata, a row with an unparseable cell, and correlations within 1e-12 of the edge threshold (the
pipeline's driver Gram matrix against the registry's ``F.corr`` self-join).
"""

import numpy as np
import pandas as pd
import pytest

from drug_target_discovery_spark.operators.correlation import corr_edges
from drug_target_discovery_spark.plans.pipeline import DrugTargetPipeline, PipelineParams
from drug_target_discovery_spark.sources.geo import parse_geo_series_matrix


def _frame(spark, rows: dict, key: str = "probe_id"):
    return spark.createDataFrame(list(rows.items()), f"{key} STRING, values ARRAY<DOUBLE>")


def _arrays(df, key: str = "probe_id") -> dict:
    return {r[key]: np.array(r["values"], dtype=np.float64) for r in df.collect()}


def _preprocess_ref(vals: pd.DataFrame, p: PipelineParams) -> pd.DataFrame:
    """Reference preprocessing in pandas: NA threshold, row-median fill,
    log2 on the global max, ddof=0 z-score (sd 0 -> 0, an all-NA row stays
    NA as StandardScaler leaves it)."""
    df = vals[vals.notna().sum(axis=1) >= p.na_threshold * vals.shape[1]]
    df = df.apply(lambda row: row.fillna(row.median()), axis=1)
    if df.max().max() > p.log2_trigger:
        df = np.log2(df + 1)
    mu, sd = df.mean(axis=1), df.std(axis=1, ddof=0)
    z = df.sub(mu, axis=0).div(sd.replace(0.0, np.nan), axis=0)
    z[sd == 0.0] = 0.0
    return z


def _network(spark, rows: dict, **params):
    pipe = DrugTargetPipeline(PipelineParams(**params))
    gene_cond = _frame(spark, rows, key="gene")
    top = spark.createDataFrame([(g,) for g in rows], "gene STRING")
    nodes, edges = pipe.build_network(gene_cond, top)
    return {r["node"] for r in nodes.collect()}, {
        (r["src"], r["dst"]): r["r"] for r in edges.collect()
    }


def _pandas_edges(rows: dict, threshold: float, min_periods: int) -> dict:
    corr = pd.DataFrame(rows).corr(min_periods=min_periods)
    genes = sorted(rows)
    return {
        (a, b): corr.loc[a, b]
        for i, a in enumerate(genes)
        for b in genes[i + 1:]
        if pd.notna(corr.loc[a, b]) and abs(corr.loc[a, b]) > threshold
    }


ROWS = {
    "p_even": [1.0, None, 3.0, 10.0, None, 4.0],   # 4 present: median 3.5
    "p_odd": [2.0, 8.0, None, 5.0, 1.0, 7.0],      # 5 present: median 5
    "p_const": [7.0] * 6,                          # sd 0 -> z 0
    "p_all_na": [None] * 6,
}


@pytest.mark.filterwarnings("ignore:Mean of empty slice")  # the all-NA row's median
@pytest.mark.parametrize("top", [10.0, 150.0], ids=["linear", "log2"])
def test_preprocess_matches_pandas_with_even_median_and_all_na_probe(spark, top):
    rows = {**ROWS, "p_top": [top, 1.0, 2.0, 3.0, 4.0, None]}
    params = PipelineParams(na_threshold=0.0)
    got = _arrays(DrugTargetPipeline(params).preprocess(_frame(spark, rows)))
    ref = _preprocess_ref(pd.DataFrame(rows, dtype=np.float64).T, params)
    assert set(got) == set(ref.index) == set(rows)
    for probe, want in ref.iterrows():
        np.testing.assert_allclose(got[probe], want.to_numpy(), rtol=1e-12, atol=1e-12,
                                   equal_nan=True, err_msg=probe)
    assert np.isnan(got["p_all_na"]).all()
    # the default threshold drops the all-NA probe
    kept = _arrays(DrugTargetPipeline().preprocess(_frame(spark, rows)))
    assert "p_all_na" not in kept and set(kept) == set(rows) - {"p_all_na"}


def test_preprocess_has_no_hash_shuffle(spark):
    plan = DrugTargetPipeline().preprocess(_frame(spark, ROWS))._jdf.queryExecution()
    assert "hashpartitioning" not in plan.executedPlan().toString()


def test_probe_collapse_is_the_elementwise_median(spark):
    probes = {
        "a1": [1.0, 4.0, 9.0], "a2": [3.0, 2.0, None],               # G2: even count
        "b1": [1.0, 5.0, 0.5], "b2": [2.0, 6.0, 0.25],
        "b3": [4.0, None, 1.0], "b4": [8.0, 7.0, 2.0],               # G4: even, one NA
        "c1": [5.0, 1.0, 2.0], "c2": [0.0, 3.0, 2.0], "c3": [1.0, 2.0, 9.0],  # G3: odd
        "z1": [1.0, 1.0, 1.0],                                       # unmapped
    }
    mapping = {"a1": "G2", "a2": "G2", "b1": "G4", "b2": "G4", "b3": "G4", "b4": "G4",
               "c1": "G3", "c2": "G3", "c3": "G3"}
    got = _arrays(
        DrugTargetPipeline().map_probes_to_genes(
            _frame(spark, probes),
            spark.createDataFrame(list(mapping.items()), "probe_id STRING, gene_symbol STRING"),
        ),
        key="gene",
    )
    vals = pd.DataFrame(probes, dtype=np.float64).T.loc[list(mapping)]
    ref = vals.groupby(pd.Series(mapping)).median()
    assert set(got) == set(ref.index)
    for gene, want in ref.iterrows():
        np.testing.assert_array_equal(got[gene], want.to_numpy(), err_msg=gene)


def test_all_na_gene_gets_null_statistics(spark):
    pipe = DrugTargetPipeline()
    cond = spark.createDataFrame(
        [("G", [None] * 4, [None] * 2, [None] * 2),
         ("H", [1.0, 2.0, 5.0, 7.0], [1.0, 2.0], [5.0, 7.0])],
        "gene STRING, values ARRAY<DOUBLE>, case_v ARRAY<DOUBLE>, ctrl_v ARRAY<DOUBLE>",
    )
    got = {r["gene"]: r for r in pipe.differential_expression(cond).collect()}
    assert got["G"]["log2FC"] is None and got["G"]["pvalue"] is None
    assert got["H"]["log2FC"] == pytest.approx(np.mean([1.0, 2.0]) - np.mean([5.0, 7.0]))


def test_no_significant_gene_falls_back_to_top_variance(spark):
    rows = {"A": [1.0, 2.0, 3.0], "B": [0.0, 10.0, 0.0], "C": [5.0, 5.0, 5.5],
            "D": [0.0, -10.0, 0.0], "E": [None, None, None]}
    pipe = DrugTargetPipeline(PipelineParams(n_top_genes=3))
    gene_cond = _frame(spark, rows, key="gene")
    no_sig = spark.createDataFrame([], "gene STRING")
    got = [r["gene"] for r in pipe.select_network_genes(gene_cond, no_sig).collect()]
    var = pd.DataFrame(rows, dtype=np.float64).var(ddof=1).dropna()
    want = sorted(var.index, key=lambda g: (-var[g], g))[:3]
    assert got == want == ["B", "D", "A"]


def test_constant_gene_is_never_an_edge(spark):
    rng = np.random.default_rng(3)
    a = rng.normal(size=8)
    rows = {"A": a.tolist(), "B": (2 * a + 0.01 * rng.normal(size=8)).tolist(),
            "C": [0.0] * 8, "D": rng.normal(size=8).tolist()}
    nodes, edges = _network(spark, rows, corr_threshold=0.7)
    want = _pandas_edges(rows, 0.7, 3)
    assert nodes == set(rows)
    assert set(edges) == set(want) and ("A", "B") in edges
    assert not any("C" in pair for pair in edges)
    for pair, r in want.items():
        assert edges[pair] == pytest.approx(r, rel=1e-12)


@pytest.mark.parametrize("min_periods", [2, 3])
def test_fewer_samples_than_min_periods_gives_no_edges(spark, min_periods):
    rows = {"A": [1.0, 2.0], "B": [2.0, 4.5], "C": [3.0, 1.0]}
    _, edges = _network(spark, rows, corr_min_periods=min_periods)
    want = _pandas_edges(rows, 0.7, min_periods)
    assert set(edges) == set(want)
    assert bool(edges) == (min_periods <= 2)


def test_header_meta_mismatch_matches_the_inner_join(spark, tmp_path):
    meta_ids = ["S1", "S2", "S3", "S4", "S5"]
    tissue = ["tumor", "normal", "tumor", "normal", "tumor"]
    header = ["S1", "S2", "S4", "S6"]  # S3, S5 absent; S6 has no metadata
    cells = {"p1": [1.0, 2.0, 3.0, 4.0], "p2": [5.0, 6.0, 7.0, 8.0]}
    lines = [
        "!Sample_geo_accession\t" + "\t".join(f'"{s}"' for s in meta_ids),
        "!Sample_characteristics_ch1\t" + "\t".join(f'"tissue: {t}"' for t in tissue),
        "!series_matrix_table_begin",
        '"ID_REF"\t' + "\t".join(f'"{s}"' for s in header),
        *(f'"{p}"\t' + "\t".join(map(str, v)) for p, v in cells.items()),
        '"short"\t9.0\t10.0',  # a short row: its missing cells are NA
        "!series_matrix_table_end",
    ]
    path = tmp_path / "series_matrix.txt"
    path.write_text("\n".join(lines) + "\n")
    expr, meta = parse_geo_series_matrix(spark, str(path))
    assert {r["sample_id"]: r["pos"] for r in meta.collect()} == {
        "S1": 0, "S2": 1, "S3": None, "S4": 2, "S5": None}
    assert {r["probe_id"]: r["values"] for r in expr.collect()} == {
        **cells, "short": [9.0, 10.0, None, None]}
    expr = expr.filter("probe_id != 'short'")

    got = {r["gene"]: r for r in DrugTargetPipeline().attach_condition(
        expr.withColumnRenamed("probe_id", "gene"), meta).collect()}
    # the inner join of the long table with the conditioned metadata
    long = pd.DataFrame(cells, index=header).rename_axis("sample_id").reset_index().melt(
        id_vars="sample_id", var_name="gene")
    cond = pd.DataFrame({"sample_id": meta_ids,
                         "condition": ["case" if t == "tumor" else "control" for t in tissue]})
    joined = long.merge(cond, on="sample_id").assign(
        pos=lambda d: d["sample_id"].map(header.index)).sort_values(["gene", "pos"])
    for gene, g in joined.groupby("gene"):
        assert got[gene]["values"] == g["value"].tolist()
        assert got[gene]["case_v"] == g.loc[g.condition == "case", "value"].tolist()
        assert got[gene]["ctrl_v"] == g.loc[g.condition == "control", "value"].tolist()


def test_parse_drops_a_row_with_an_unparseable_cell(spark, tmp_path):
    """A non-missing cell that float() rejects drops its whole row; empty,
    NA, NaN and NULL cells are missing (NULL); quotes and blanks around a
    cell are stripped (the reference's skip-on-ValueError)."""
    rows = {
        "ok": ["1.5", "NA", "", "null"],
        "quoted": ['"2.5"', " 3 ", "NaN", "inf"],
        "bad": ["1.0", "abc", "3.0", "4.0"],
        "bad_last": ["1.0", "2.0", "3.0", "1.2.3"],
    }
    lines = [
        "!Sample_geo_accession\t" + "\t".join(f'"S{i}"' for i in range(4)),
        "!series_matrix_table_begin",
        '"ID_REF"\t' + "\t".join(f'"S{i}"' for i in range(4)),
        *(f'"{p}"\t' + "\t".join(v) for p, v in rows.items()),
        "!series_matrix_table_end",
    ]
    path = tmp_path / "series_matrix.txt"
    path.write_text("\n".join(lines) + "\n")
    expr, _ = parse_geo_series_matrix(spark, str(path))
    assert {r["probe_id"]: r["values"] for r in expr.collect()} == {
        "ok": [1.5, None, None, None],
        "quoted": [2.5, 3.0, None, float("inf")],
    }


def test_threshold_ties_agree_between_gram_and_f_corr(spark):
    """|r| within 1e-12 of the threshold: the driver Gram matrix and the
    registry's F.corr self-join keep and drop the same pairs."""
    s, thr, eps = 50, 0.7, 5e-13
    rng = np.random.default_rng(11)
    # orthonormal, centred columns: x and one private direction per y
    q, _ = np.linalg.qr(np.column_stack([np.ones(s), rng.normal(size=(s, 5))]))
    x = q[:, 1]
    targets = {"Y1": thr + eps, "Y2": thr - eps, "Y3": -(thr + eps), "Y4": -(thr - eps)}
    rows = {"X": x.tolist()}
    for k, (name, r0) in enumerate(targets.items()):
        rows[name] = (r0 * x + np.sqrt(1 - r0 * r0) * q[:, 2 + k]).tolist()
    r_np = pd.DataFrame(rows).corr()
    for name, r0 in targets.items():
        assert abs(r_np.loc["X", name] - r0) < 1e-14
        assert 0 < abs(abs(r_np.loc["X", name]) - thr) < 1e-12

    _, gram = _network(spark, rows, corr_threshold=thr)
    long = spark.createDataFrame(
        [(g, i, v) for g, vs in rows.items() for i, v in enumerate(vs)],
        "gene STRING, sample INT, value DOUBLE",
    )
    fcorr = {(r["g1"], r["g2"]) for r in
             corr_edges(long, "gene", "sample", "value", threshold=thr).collect()}
    assert set(gram) == fcorr == {("X", "Y1"), ("X", "Y3")}
