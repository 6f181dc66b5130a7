"""Exercise the DISTRIBUTED graph strategies at bench scale (VERDICT r3 #8).

The graph tier's production queries run on top-K-bounded graphs, so their
sweeps only ever hit the driver fast paths; the `_distributed` strategies
(join-aggregate eigenvector/PageRank/CC/k-core loops, the Adamic-Adar
wedge join) were equivalence-tested on small fixtures only. This tool
drives them on a synthetic graph ABOVE the driver thresholds — turning the
100 TB story from "designed" into "exercised" — and records timing +
driver-path parity.

Graph: deterministic, 10 components (residue classes mod 10), each a
stride ring plus seeded pseudo-random intra-class edges — connected within
class, never across, so CC ground truth is trivial to assert independently.

Usage:  python tools/bench_distributed_graph.py [n_nodes] [out.json]
Writes BENCH_GRAPH_DISTRIBUTED.json at the repo root by default.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from drug_target_discovery_spark.caching import release_caches
from drug_target_discovery_spark.graph.algorithms import (
    _cc_distributed,
    _core_distributed,
    _pagerank_distributed,
    connected_components,
    core_numbers,
    pagerank,
)
from drug_target_discovery_spark.graph.centrality import (
    _eigenvector_distributed,
    eigenvector_centrality,
)
from drug_target_discovery_spark.session import get_spark

N_CLASSES = 10


def build_graph(spark, n: int, extra_per_node: int = 4, n_classes: int = N_CLASSES):
    """(nodes, edges) DataFrames: stride-``n_classes`` ring per residue class
    plus seeded random intra-class edges — ~n*(1 + extra_per_node) edges,
    ``n_classes`` components. The multi-component form feeds the CC probe
    (trivial ground truth); eigenvector/PageRank probes use n_classes=1
    (one connected component) because the 10 statistically-identical
    components make the dominant eigenvalue near-degenerate (ratio
    λ2/λ1 ≈ 1) and power iteration legitimately cannot separate them."""
    rng = np.random.default_rng(4242)
    ids = np.arange(n, dtype=np.int64)
    ring_src, ring_dst = ids, (ids + n_classes) % n  # stays in class when n_classes | n
    # random partners within the same residue class
    rnd_src = np.repeat(ids, extra_per_node)
    offsets = rng.integers(1, n // n_classes, size=rnd_src.size, dtype=np.int64)
    rnd_dst = (rnd_src + offsets * n_classes) % n
    src = np.concatenate([ring_src, rnd_src])
    dst = np.concatenate([ring_dst, rnd_dst])
    keep = src != dst
    import pandas as pd

    edges = spark.createDataFrame(
        pd.DataFrame({"src": src[keep], "dst": dst[keep]})
    ).dropDuplicates(["src", "dst"])
    nodes = spark.createDataFrame(pd.DataFrame({"node": ids}))
    return nodes.cache(), edges.cache()


def timed(fn):
    """``fn()``'s frame, cached and counted, and the seconds that took:
    cache() is lazy, so the work runs in the count and must be timed."""
    t0 = time.perf_counter()
    out = fn().cache()
    out.count()
    return out, round(time.perf_counter() - t0, 2)


def compare(a, b, col: str, tol: float) -> float:
    """Max |a.col - b.col| joined on node (must cover every node)."""
    j = (
        a.select("node", F.col(col).alias("_a"))
        .join(b.select("node", F.col(col).alias("_b")), "node", "full")
    )
    row = j.agg(
        F.max(F.abs(F.col("_a") - F.col("_b"))).alias("d"),
        F.sum(F.when(F.col("_a").isNull() | F.col("_b").isNull(), 1).otherwise(0)).alias("miss"),
    ).collect()[0]
    assert row["miss"] == 0, f"{col}: {row['miss']} unmatched nodes"
    d = float(row["d"])
    assert d <= tol, f"{col}: max diff {d} > tol {tol}"
    return d


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    # build_graph's ring edge stays inside its residue class only when
    # n_classes divides n, and the intra-class offset draw needs at least
    # 2 nodes per class — reject sizes that would break the CC ground truth
    # (e.g. n=12345 wraps node 12344 into class 9, merging components).
    if n % N_CLASSES != 0 or n < 2 * N_CLASSES:
        raise SystemExit(
            f"n_nodes must be a multiple of {N_CLASSES} and >= {2 * N_CLASSES} "
            f"(got {n}): the residue-class ground truth requires it"
        )
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_GRAPH_DISTRIBUTED.json",
    )
    spark = get_spark("bench-distributed-graph")
    nodes, edges = build_graph(spark, n)
    n_edges = edges.count()
    report: dict = {"n_nodes": n, "n_edges": n_edges, "checks": {}}

    # --- connected components: driver union-find vs min-label propagation
    cc_drv, t_drv = timed(lambda: connected_components(edges, nodes))
    cc_dist, t_dist = timed(lambda: _cc_distributed(edges, nodes))
    compare(cc_drv, cc_dist, "component", 0)
    # independent ground truth: component of v == residue class min (0..9)
    wrong = cc_dist.filter(F.col("component") != F.col("node") % N_CLASSES).count()
    assert wrong == 0, f"{wrong} nodes off the residue-class ground truth"
    report["checks"]["connected_components"] = {
        "driver_sec": t_drv, "distributed_sec": t_dist, "max_diff": 0,
        "ground_truth": "10 residue-class components, exact",
    }
    release_caches()

    # --- eigenvector centrality: numpy power iteration vs join-aggregate
    # loop, on the CONNECTED variant (see build_graph docstring)
    cnodes, cedges = build_graph(spark, n, n_classes=1)
    cedges.count()
    ev_kw = dict(max_iter=300, tol=1e-6)
    ev_drv, t_drv = timed(lambda: eigenvector_centrality(cedges, cnodes, **ev_kw))
    ev_dist, t_dist = timed(lambda: _eigenvector_distributed(cedges, cnodes, n, **ev_kw))
    d = compare(ev_drv, ev_dist, "eigenvector_centrality", 1e-4)
    report["checks"]["eigenvector_centrality"] = {
        "driver_sec": t_drv, "distributed_sec": t_dist, "max_diff": d,
    }
    release_caches()

    # --- pagerank: numpy vs join-aggregate loop
    pr_kw = dict(max_iter=60, tol=1e-8)
    pr_drv, t_drv = timed(lambda: pagerank(cedges, cnodes, **pr_kw))
    pr_dist, t_dist = timed(lambda: _pagerank_distributed(cedges, cnodes, n, **pr_kw))
    d = compare(pr_drv, pr_dist, "pagerank", 1e-6)
    report["checks"]["pagerank"] = {
        "driver_sec": t_drv, "distributed_sec": t_dist, "max_diff": d,
    }
    release_caches()

    # --- k-core: BZ driver peeling vs distributed h-index fixpoint, on the
    # full multi-component graph (core structure is per-component)
    core_drv, t_drv = timed(lambda: core_numbers(edges, nodes))
    core_dist, t_dist = timed(lambda: _core_distributed(edges, nodes))
    d = compare(core_drv, core_dist, "core", 0)
    report["checks"]["core_numbers"] = {
        "driver_sec": t_drv, "distributed_sec": t_dist, "max_diff": d,
        "note": "integer core numbers, exact equality",
    }
    release_caches()

    # --- Adamic-Adar wedge enumeration at full scale vs an independent
    # numpy adjacency-list oracle: for every middle z, accumulate
    # 1/ln(deg z) onto each neighbor pair (u<w), then drop existing
    # edges. Work is sum deg(z)^2/2 wedge updates — the same bound the
    # Spark join carries; the Spark side is the registered query's plan.
    from collections import defaultdict

    from drug_target_discovery_spark.queries.graphq import _adamic_adar_distributed

    can = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
        .cache()
    )
    can.count()
    # the distributed wedge join itself — this bench claims to measure the
    # distributed plan, so the small-graph driver fast path must not
    # silently take over (ADVICE r6).
    aa, t_aa = timed(lambda: _adamic_adar_distributed(can))
    n_pairs = aa.count()

    pdf = can.toPandas()
    edge_set = set(zip(pdf["a"].astype(int), pdf["b"].astype(int)))
    nbrs: dict[int, list[int]] = defaultdict(list)
    for a, b in edge_set:
        nbrs[a].append(b)
        nbrs[b].append(a)
    score: dict[tuple[int, int], float] = defaultdict(float)
    common: dict[tuple[int, int], int] = defaultdict(int)
    for z, nz in nbrs.items():
        if len(nz) < 2:
            continue
        wz = 1.0 / np.log(len(nz))
        arr = np.sort(np.asarray(nz, dtype=np.int64))
        iu, iw = np.triu_indices(len(arr), 1)
        for u, w_ in zip(arr[iu], arr[iw]):
            key = (int(u), int(w_))
            score[key] += wz
            common[key] += 1
    expected = {
        k: (common[k], s) for k, s in score.items() if k not in edge_set
    }
    assert n_pairs == len(expected), (n_pairs, len(expected))
    max_d = 0.0
    for r in aa.toPandas().itertuples():
        c, s = expected[(int(r.u), int(r.w))]
        assert r.n_common == c, (r.u, r.w, r.n_common, c)
        d_pair = abs(r.s_q / 1e6 - s)
        assert d_pair <= c * 5e-7 + 1e-9, (r.u, r.w, d_pair)
        max_d = max(max_d, d_pair)
    report["checks"]["adamic_adar"] = {
        "wall_sec": t_aa, "n_scored_pairs": n_pairs,
        "max_diff": round(max_d, 9),
        "ground_truth": "numpy adjacency-list wedge accumulation, exact pair set",
    }
    release_caches(fixtures=True)

    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
