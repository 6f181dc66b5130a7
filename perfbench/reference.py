"""Independent vectorized reference for the pipeline workloads.

Recomputes, from the generated cell values alone, what the drug-target
pipeline must output: the differential table (log2FC, p-value, BH
adjusted p-value per gene), the top-K co-expression network and the
top-20 targets by composite centrality. numpy does the statistics and
networkx the centralities; nothing here calls into the package under test
except the offline enrichment stub, which is an input like the data.
"""

from __future__ import annotations

import math

import networkx as nx
import numpy as np

NA_THRESHOLD, LOG2_TRIGGER = 0.2, 100.0
P_THRESHOLD, FC_THRESHOLD, CORR_THRESHOLD = 0.05, 1.0, 0.7
N_TOP_TARGETS = 20
DRUG_WEIGHT, ASSOC_WEIGHT = 0.6, 0.4


def _betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b) by Lentz's continued fraction."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1.0) / (a + b + 2.0):
        return 1.0 - _betainc(b, a, 1.0 - x)
    front = math.exp(
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log1p(-x)
    ) / a
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 500):
        for num in (
            m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
            -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1)),
        ):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return front * h


def t_two_sided_p(t: float, df: float) -> float:
    return _betainc(df / 2.0, 0.5, df / (df + t * t))


def _bh(p: np.ndarray) -> np.ndarray:
    """Benjamini-Hochberg over the non-NaN entries; NaN stays NaN."""
    out = np.full_like(p, np.nan)
    ok = ~np.isnan(p)
    pv = p[ok]
    m = len(pv)
    order = np.argsort(pv, kind="stable")
    ranked = pv[order] * m / np.arange(1, m + 1)
    adj = np.minimum.accumulate(ranked[::-1])[::-1].clip(max=1.0)
    res = np.empty(m)
    res[order] = adj
    out[ok] = res
    return out


def compute(data: dict, n_top: int, client) -> dict:
    """Reference outputs for one generated dataset (see geo_gen.generate)."""
    v = data["values"].copy()
    symbols = np.array(data["symbols"], dtype=object)
    is_case = np.array([c == "case" for c in data["conditions"]])
    n_s = v.shape[1]

    # preprocess: NA filter, median impute, conditional log2, z-score
    present = (~np.isnan(v)).sum(axis=1)
    keep = present >= NA_THRESHOLD * n_s
    v, symbols = v[keep], symbols[keep]
    med = np.nanmedian(v, axis=1)
    v = np.where(np.isnan(v), med[:, None], v)
    if v.max() > LOG2_TRIGGER:
        v = np.log2(v + 1.0)
    sd = v.std(axis=1)[:, None]
    z = np.where(sd == 0.0, 0.0, (v - v.mean(axis=1)[:, None]) / np.where(sd == 0.0, 1.0, sd))

    # probe -> gene: median over a gene's probes per sample
    mapped = symbols != ""
    z, symbols = z[mapped], symbols[mapped]
    genes, inv = np.unique(symbols.astype(str), return_inverse=True)
    order = np.argsort(inv, kind="stable")
    bounds = np.flatnonzero(np.diff(inv[order])) + 1
    gx = np.vstack([np.median(z[idx], axis=0) for idx in np.split(order, bounds)])

    # Welch t, two-sided p, BH
    a, b = gx[:, is_case], gx[:, ~is_case]
    na_, nb = a.shape[1], b.shape[1]
    ma, mb = a.mean(axis=1), b.mean(axis=1)
    va, vb = a.var(axis=1, ddof=1), b.var(axis=1, ddof=1)
    se2 = va / na_ + vb / nb
    log2fc = ma - mb
    p = np.full(len(genes), np.nan)
    for i in np.flatnonzero(se2 > 0):
        t = log2fc[i] / math.sqrt(se2[i])
        dfw = se2[i] ** 2 / ((va[i] / na_) ** 2 / (na_ - 1) + (vb[i] / nb) ** 2 / (nb - 1))
        p[i] = t_two_sided_p(t, dfw)
    adj = _bh(p)

    sig = (adj < P_THRESHOLD) & (np.abs(log2fc) > FC_THRESHOLD)
    sig_idx = np.flatnonzero(sig)  # genes are sorted, so this is name order
    top = sig_idx[:n_top]

    # Pearson network over the top-K, |r| > threshold
    r = np.corrcoef(gx[top])
    iu, ju = np.triu_indices(len(top), k=1)
    hit = np.abs(r[iu, ju]) > CORR_THRESHOLD
    g = nx.Graph()
    g.add_nodes_from(genes[top])
    g.add_edges_from(zip(genes[top][iu[hit]], genes[top][ju[hit]]))

    # centralities -> min-max -> composite
    cents = [
        nx.degree_centrality(g),
        nx.betweenness_centrality(g, normalized=True),
        nx.eigenvector_centrality(g, max_iter=1000, tol=1e-6),
    ]
    nodes = list(genes[top])
    scaled = []
    for c in cents:
        col = np.array([c[n] for n in nodes])
        rng = col.max() - col.min()
        scaled.append(np.zeros_like(col) if rng == 0 else (col - col.min()) / rng)
    composite = {n: float(c) for n, c in zip(nodes, np.mean(scaled, axis=0))}
    targets = sorted(nodes, key=lambda n: (-composite[n], n))[:N_TOP_TARGETS]
    drugability = {}
    for n in nodes:
        drugs, assoc = client(n)
        drugability[n] = DRUG_WEIGHT * drugs + ASSOC_WEIGHT * assoc

    def floats(a):  # JSON-safe: NaN -> None
        return [None if np.isnan(x) else float(x) for x in a]

    return {
        "differential": {
            "gene": genes.tolist(),
            "log2FC": floats(log2fc),
            "pvalue": floats(p),
            "adjusted_pvalue": floats(adj),
        },
        "n_genes_tested": int(len(genes)),
        "n_significant": int(sig.sum()),
        "n_nodes": int(len(top)),
        "n_edges": int(hit.sum()),
        "n_pairs": int(len(iu)),
        "mapped_frac": float((np.array(data["symbols"], dtype=object) != "").mean()),
        "composite": composite,
        "drugability": drugability,
        "targets": targets,
    }
