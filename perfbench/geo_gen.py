"""Seeded GEO Series Matrix generator for the pipeline workload.

Writes a series-matrix text file plus a probe->gene mapping CSV whose
statistics are planted so that the pipeline's outputs land in a stated
band: the significant-gene count, the top-K network's node and edge
counts, and the mapped-probe fraction. The same seed gives byte-identical
files.

The model, per mapped gene g and sample s, in standardized units:

    x[g, s] = d_g * (a * (case_s - p) + f_g * F[s]) + e_g * E[g, s]

``d_g`` is a differential gene's direction (+1/-1), ``a`` the planted
group shift, ``F`` one co-expression factor that the core genes load on
(``f_g`` is zero outside the core) and ``E`` gene noise. Non-differential
genes are noise only. The edges are the core's clique plus the few pairs
whose shared group shift alone crosses the cut. One core, rather than many
equal disjoint modules, keeps eigenvector power iteration convergent: on
equal disjoint cliques the leading eigenvalue repeats and it need not
converge. Each probe
adds its own noise, offset and scale in log2 space, and the file stores
``2**L - 1`` so the pipeline's raw-max > 100 log2 trigger fires.

Semantic edges kept from the unit fixture: scattered NA cells (empty and
``NA`` tokens), one probe more than 80% missing, one constant probe,
multi-probe genes and unmapped probes (some listed with an empty symbol).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class GeoShape:
    name: str
    n_probes: int
    n_case: int
    n_control: int
    mapped_frac: float        # share of probes with a gene symbol
    probes_per_gene: float    # mean probes per mapped gene
    n_de: int                 # planted differential genes
    n_top: int                # network budget (PipelineParams.n_top_genes)
    core_frac: float          # share of DE genes in the co-expression core
    diff_z: float             # planted |log2FC| in z units (threshold is 1)
    core_share: float         # variance share of the core factor
    # the band the realised calibration must land in (inclusive)
    sig_band: tuple[int, int]
    edge_band: tuple[int, int]

    @property
    def n_samples(self) -> int:
        return self.n_case + self.n_control


# GSE46602 shape: 50 samples (36 tumour / 14 normal), 81.6% of probes
# mapped at ~2.23 probes per gene (54,675 probes onto ~20k genes). The probe
# count and the network budget are scaled down (54,675 -> 3,000 probes,
# top-500 -> top-100) so that a cold and a warm pass fit one benchmark run.
# The paper's ratios are kept: significant genes / network budget
# (1,294 / 500 = 2.6) and top-K edge density (3,577 / C(500, 2) = 2.87%).
GSE46602 = GeoShape(
    name="gse46602",
    n_probes=3_000,
    n_case=36,
    n_control=14,
    mapped_frac=0.816,
    probes_per_gene=2.23,
    n_de=275,
    n_top=100,
    core_frac=0.17,
    diff_z=1.45,
    core_share=0.5,
    sig_band=(245, 290),
    edge_band=(115, 170),
)

# Wide cohort: the same semantics on a balanced 240-sample cohort (120 /
# 120) with the paper's top-500 network budget, for changes to correlation
# and DE. 560 significant genes keep the top-K full; the Pearson self-join
# feeds K^2 * S / 2 = 30M rows into corr(), while parse and preprocess see
# about as many cells as the paper shape's third. A core of 85 of the 500
# gives 3,570 edges (paper: 3,577).
WIDE_COHORT = GeoShape(
    name="wide_cohort",
    n_probes=4_000,
    n_case=120,
    n_control=120,
    mapped_frac=0.816,
    probes_per_gene=2.23,
    n_de=560,
    n_top=500,
    core_frac=0.17,
    diff_z=1.45,
    core_share=0.4,
    sig_band=(500, 620),
    edge_band=(3_400, 3_750),
)

SHAPES = {s.name: s for s in (GSE46602, WIDE_COHORT)}

CONST_GENE = "CONST1"


def _gene_names(rng: np.random.Generator, n: int) -> list[str]:
    # zero-padded ids in a random order, so the DE genes interleave with
    # the null genes when the pipeline sorts by name
    ids = rng.permutation(n) + 10_000
    return [f"G{i:05d}" for i in ids]


def generate(shape: GeoShape, seed: int) -> dict:
    """Draw one dataset. Returns the exact cell values as written (NaN for
    missing cells), the probe and sample ids, the mapping, the conditions
    and the file texts."""
    rng = np.random.default_rng([seed, int.from_bytes(shape.name.encode(), "little") % 2**31])
    n_s, n_p = shape.n_samples, shape.n_probes
    n_mapped = int(round(n_p * shape.mapped_frac))
    n_genes = int(round((n_mapped - 1) / shape.probes_per_gene))
    genes = _gene_names(rng, n_genes)

    # probe -> gene: one probe per gene, the rest on random genes
    gene_of_probe = np.concatenate(
        [np.arange(n_genes), rng.integers(0, n_genes, n_mapped - 1 - n_genes)]
    )
    rng.shuffle(gene_of_probe)

    # planted DE genes, in name order (the top-K cut takes the first K
    # significant genes by name); every 1/core_frac-th one joins the
    # co-expression core, whose pairs correlate well above the 0.7 cut
    de = rng.choice(n_genes, size=shape.n_de, replace=False)
    de = de[np.argsort([genes[g] for g in de])]
    pos = np.arange(shape.n_de)
    core = np.floor((pos + 1) * shape.core_frac) > np.floor(pos * shape.core_frac)
    load = np.where(core, np.sqrt(shape.core_share), 0.0)
    direction = rng.choice([-1.0, 1.0], size=shape.n_de)

    case = np.zeros(n_s)
    case[: shape.n_case] = 1.0
    p = shape.n_case / n_s
    a = shape.diff_z  # group shift, in units of the gene's total sd
    shift_share = a * a * p * (1 - p)
    noise = np.sqrt(np.maximum(1.0 - shift_share - load**2, 0.02))

    # the factor is drawn orthogonal to the group split, so it never adds
    # to or cancels the planted shift (which would move genes across the
    # |log2FC| > 1 cut and the core out of the top-K)
    factor = rng.standard_normal(n_s)
    for g in (case == 1, case == 0):
        factor[g] -= factor[g].mean()
    factor /= factor.std()
    x = rng.standard_normal((n_genes, n_s))  # null genes: pure noise
    # the direction flips shift and factor together: |r| within the core
    # is the same for up- and down-regulated genes
    x[de] = (
        direction[:, None] * (a * (case - p)[None, :] + load[:, None] * factor[None, :])
        + noise[:, None] * rng.standard_normal((shape.n_de, n_s))
    )

    # mapped probes: gene signal + probe noise, arbitrary log2 offset/scale
    probe_noise = 0.25
    base = rng.uniform(6.0, 12.0, n_mapped - 1)[:, None]
    scale = rng.uniform(0.4, 1.2, n_mapped - 1)[:, None]
    sig = x[gene_of_probe] + probe_noise * rng.standard_normal((n_mapped - 1, n_s))
    mapped_log = base + scale * sig
    n_unmapped = n_p - n_mapped
    unmapped_log = rng.uniform(5.0, 11.0, (n_unmapped, 1)) + 0.6 * rng.standard_normal(
        (n_unmapped, n_s)
    )
    # row layout: mapped probes, the constant probe (mapped to its own
    # gene), then unmapped probes; the row order is shuffled below
    log = np.vstack([mapped_log, np.full((1, n_s), np.log2(501.0)), unmapped_log])
    raw = np.exp2(log) - 1.0

    # semantic edges: ~0.05% scattered NAs, one >80%-missing probe
    na = rng.random(raw.shape) < 5e-4
    na[n_mapped - 1] = False  # keep the constant probe constant
    heavy = n_mapped + 1 if n_unmapped > 2 else 0
    na[heavy, : int(n_s * 0.9)] = True
    na_token = rng.random(raw.shape) < 0.5

    order = rng.permutation(n_p)
    raw, na, na_token = raw[order], na[order], na_token[order]
    probe_ids = [f"{1_000_000 + i}_at" for i in range(n_p)]
    symbol = np.array(
        [genes[g] for g in gene_of_probe] + [CONST_GENE] + [""] * n_unmapped, dtype=object
    )[order]

    cells = np.char.mod("%.4f", raw)
    values = cells.astype(np.float64)  # exactly what a parser reads back
    values[na] = np.nan
    cells = np.where(na, np.where(na_token, "NA", ""), cells)

    samples = [f"GSM{1_120_000 + i}" for i in range(n_s)]
    conditions = ["case"] * shape.n_case + ["control"] * shape.n_control
    titles = [
        f"prostate tumor {i}" if c == "case" else f"normal prostate {i}"
        for i, c in enumerate(conditions)
    ]
    tissue = ["tumor" if c == "case" else "normal" for c in conditions]
    head = [
        f'!Series_title\t"synthetic {shape.name} seed {seed}"',
        "!Sample_geo_accession\t" + "\t".join(f'"{s}"' for s in samples),
        "!Sample_title\t" + "\t".join(f'"{t}"' for t in titles),
        "!Sample_characteristics_ch1\t" + "\t".join(f'"tissue: {t}"' for t in tissue),
        "!series_matrix_table_begin",
        '"ID_REF"\t' + "\t".join(f'"{s}"' for s in samples),
    ]
    body = ["\t".join([f'"{pid}"', *row]) for pid, row in zip(probe_ids, cells.tolist())]
    matrix_text = "\n".join([*head, *body, "!series_matrix_table_end"]) + "\n"

    # mapping: unmapped probes are half absent, half listed with no symbol
    map_lines = ["PROBEID,SYMBOL"]
    listed_blank = rng.random(n_p) < 0.5
    for i, pid in enumerate(probe_ids):
        if symbol[i]:
            map_lines.append(f"{pid},{symbol[i]}")
        elif listed_blank[i]:
            map_lines.append(f"{pid},")
    mapping_text = "\n".join(map_lines) + "\n"

    return {
        "values": values,
        "probe_ids": probe_ids,
        "symbols": list(symbol),
        "samples": samples,
        "conditions": conditions,
        "matrix_text": matrix_text,
        "mapping_text": mapping_text,
    }


def write_inputs(shape: GeoShape, seed: int, out_dir: str) -> dict:
    """Generate and write (series_matrix.txt, mapping.csv) into ``out_dir``.
    Returns the generated dataset plus the two paths and a content digest."""
    data = generate(shape, seed)
    os.makedirs(out_dir, exist_ok=True)
    matrix_path = os.path.join(out_dir, "series_matrix.txt")
    map_path = os.path.join(out_dir, "mapping.csv")
    with open(matrix_path, "w") as fh:
        fh.write(data["matrix_text"])
    with open(map_path, "w") as fh:
        fh.write(data["mapping_text"])
    digest = hashlib.sha256(
        (data["matrix_text"] + data["mapping_text"]).encode()
    ).hexdigest()
    return {**data, "matrix_path": matrix_path, "mapping_path": map_path, "digest": digest}
