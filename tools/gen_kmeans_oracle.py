"""Generate queries/_kmeans_oracle.py: fixture VALUES oracle for the
`kmeans_lloyd_clusters` query, computed by an INDEPENDENT plain-numpy
implementation of the same exactness contract (integer micro-unit
quantization, exact int64 M-step sums, first-min-index assignment) — no
Spark, no shared code with operators/kmeans.py.

Usage: python tools/gen_kmeans_oracle.py
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import numpy as np

SF_DIR = "/root/testdata/sf0.01"
K = 8
ITERS = 5
S = 1_000_000


def numpy_lloyd(V_int: np.ndarray, ids: np.ndarray, k: int, iters: int):
    order = np.argsort(ids)
    V_int, ids = V_int[order], ids[order]
    centroids = V_int[:k].astype(np.float64)  # k smallest ids (sorted)

    def assign(C):
        Vf = V_int.astype(np.float64)
        D = np.stack([((Vf - c) ** 2).sum(axis=1) for c in C], axis=1)
        return D.argmin(axis=1)  # first occurrence = smallest cluster id

    for _ in range(iters):
        lab = assign(centroids)
        new = []
        for j in range(k):
            m = lab == j
            if not m.any():
                new.append(centroids[j])
                continue
            s = V_int[m].sum(axis=0, dtype=np.int64)  # exact
            new.append(s / int(m.sum()))
        centroids = np.stack(new)
    lab = assign(centroids)
    out = []
    for j in range(k):
        n = int((lab == j).sum())
        acc = 0.0
        for x in centroids[j]:  # left-to-right, mirrors the driver loop
            acc += (x / S) ** 2
        norm_micro = int(math.floor(math.sqrt(acc) * 1e6 + 0.5))
        out.append((j, n, norm_micro))

    # simplified silhouette under the final model — same reduction order
    # as the Spark kernel (per-centroid distance stack, first-min argmin)
    Vf = V_int.astype(np.float64)
    D2 = np.stack([((Vf - c) ** 2).sum(axis=1) for c in centroids], axis=1)
    lab2 = D2.argmin(axis=1)
    idx = np.arange(len(Vf))
    a = np.sqrt(D2[idx, lab2])
    D2[idx, lab2] = np.inf
    b = np.sqrt(D2.min(axis=1))
    mx = np.maximum(a, b)
    # divide only where mx > 0: a zero mx scores 0.0 without a NaN
    ratio = np.zeros_like(mx)
    np.divide(b - a, mx, out=ratio, where=mx > 0.0)
    sil_q = np.floor(ratio * 1e6 + 0.5).astype(np.int64)
    sil = []
    for j in range(k):
        m = lab2 == j
        n = int(m.sum())
        if n == 0:
            sil.append((j, 0, None, None))
            continue
        raw = int(sil_q[m].sum()) / (1e6 * n)
        mean_r = math.floor(raw * 1e6 + 0.5) / 1e6
        sil.append((j, n, mean_r, raw))
    return out, sil


def main() -> None:
    emb = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{SF_DIR}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in emb], dtype=np.int64)
    V = np.stack([np.asarray(r[1], dtype=np.float64) for r in emb])
    V_int = np.floor(V * S + 0.5).astype(np.int64)
    rows, sil_rows = numpy_lloyd(V_int, ids, K, ITERS)

    # rounding-boundary margin check for the 6dp silhouette means
    worst = 1.0
    for row in sil_rows:
        raw = row[3]
        if raw is None:
            continue
        frac = abs(raw) * 1e6 % 1.0
        worst = min(worst, abs(frac - 0.5))
    print(f"silhouette rounding-boundary margin: {worst:.2e} (want > 1e-6)")

    sil_values = ",\n      ".join(
        f"(CAST({j} AS INT), CAST({n} AS BIGINT), "
        + ("CAST(NULL AS DOUBLE))" if m is None else f"CAST({m:.6f} AS DOUBLE))")
        for j, n, m, _raw in sil_rows
    )

    values = ",\n      ".join(
        f"(CAST({j} AS INT), CAST({n} AS BIGINT), CAST({nm} AS BIGINT))"
        for j, n, nm in rows
    )
    body = f'''"""AUTO-GENERATED by tools/gen_kmeans_oracle.py — do not edit.

Fixture VALUES oracle for kmeans_lloyd_clusters, computed by an
independent numpy Lloyd implementation on the {SF_DIR} embeddings
(the SF the driver's correctness gate runs at). Regenerate after
changing K/ITERS/quantization or the testdata.
"""

KMEANS_ORACLE_SF_DIR = {SF_DIR!r}

KMEANS_ORACLE = """
    SELECT * FROM (VALUES
      {values}
    ) AS t(cluster_id, n_members, centroid_norm_micro)
    ORDER BY cluster_id
"""

KMEANS_SIL_ORACLE = """
    SELECT * FROM (VALUES
      {sil_values}
    ) AS t(cluster_id, n_members, mean_silhouette)
    ORDER BY cluster_id
"""
'''
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "drug_target_discovery_spark",
        "queries",
        "_kmeans_oracle.py",
    )
    with open(out_path, "w") as f:
        f.write(body)
    print(f"wrote {out_path}: {rows}")


if __name__ == "__main__":
    sys.exit(main())
