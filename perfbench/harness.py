"""The body of one benchmark run: set-up, cold pass, warm passes, the
optional traced pass, the output check and the metrics."""

from __future__ import annotations

import json
import os
import resource
import signal
import subprocess
import time
from statistics import median

from drug_target_discovery_spark.caching import release_caches
from drug_target_discovery_spark.plans.pipeline import deterministic_fake_client
from drug_target_discovery_spark.queries.registry import all_queries
from drug_target_discovery_spark.session import get_spark
from drug_target_discovery_spark.sources.tables import TABLES, load_table

from perfbench import geo_gen, reference, registry_mix, tables_gen, workloads
from perfbench.trace import (
    Tracer, descendants, gc_live_peak_mb, heap_committed_mb, jvm_gc_s, retained_heap_mb,
    storage_mb, tree_cpu_s,
)

SETUP_REPS = 3
# untimed warm passes between the cold pass and the timed ones: JIT
# compilation is still settling over the first re-runs of a pass, and a
# timed pass there scattered about twice as much across runs as a later
# one (METRICS.md). On registry_mix the check sweep is that re-run.
WARMUP_PASSES = {"gse46602": 1, "registry_mix": 0}
# one timed warm pass per this many seconds of --seconds, about what a
# settled warm pass takes on a 4-CPU host, so that the timed passes fill
# about --seconds
WARM_PASS_BUDGET_S = {"gse46602": 10.0, "registry_mix": 6.0}
REGISTRY_SF = 0.002
BENCH_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "BENCHMARK.json")


def warm_pass_count(workload: str, seconds: float) -> int:
    return max(1, int(seconds // WARM_PASS_BUDGET_S[workload]))


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Pipeline:
    """The paper's pipeline on a generated GSE46602-shaped matrix. A pass
    is one operation; its written outputs are checked after it."""

    def __init__(self, spark, name: str, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.shape = geo_gen.SHAPES[name]
        self.calib: dict = {}

    def setup(self) -> None:
        self.inputs = geo_gen.write_inputs(self.shape, self.seed, os.path.join(self.work, "in"))
        self.spark.read.text(self.inputs["matrix_path"]).count()

    def prepare_check(self) -> None:
        """Load or compute the reference outputs (cached per seed)."""
        cache = os.path.join(os.path.dirname(self.work), "refcache")
        os.makedirs(cache, exist_ok=True)
        digest = self.inputs["digest"][:16]
        path = os.path.join(cache, f"{self.shape.name}-{self.seed}-{digest}.json")
        if os.path.exists(path):
            with open(path) as fh:
                self.ref = json.load(fh)
            return
        self.ref = reference.compute(self.inputs, self.shape.n_top, deterministic_fake_client)
        with open(path + ".tmp", "w") as fh:
            json.dump(self.ref, fh)
        os.replace(path + ".tmp", path)

    def _out(self, k: int) -> str:
        return os.path.join(self.work, "out", f"pass{k}")

    def run_pass(self, k: int) -> dict:
        t0 = time.perf_counter()
        errors = []
        try:
            workloads.pipeline_pass(self.spark, self.shape, self.inputs, self._out(k))
        except Exception as e:  # a failed pass is counted, not fatal
            errors.append(f"{type(e).__name__}: {e}")
        return {"wall_s": time.perf_counter() - t0, "errors": errors}

    def end_pass(self, k: int, rec: dict) -> dict:
        """After the timed pass: read the caches it holds, release them and
        check the written outputs."""
        sc = self.spark.sparkContext
        out = {"storage_mb": storage_mb(sc), "retained_mb": retained_heap_mb(sc)}
        t0 = time.perf_counter()
        release_caches(fixtures=True)
        out["release_s"] = time.perf_counter() - t0
        errors = list(rec["errors"])
        if not errors:
            got = workloads.read_outputs(self._out(k))
            self.calib = workloads.calibration(got)
            err = workloads.check_pipeline(got, self.ref)
            errors += [err] if err else []
        return {**out, "ops": 1, "failed": int(bool(errors)), "errors": errors}

    def traced_pass(self, tracer: Tracer, k: int) -> tuple[dict, dict]:
        extra = workloads.pipeline_pass_traced(
            self.spark, self.shape, self.inputs, self._out(k), tracer, k
        )
        spans = {s.name: s for s in tracer.spans}
        out = {}
        for st in workloads.STAGES:
            sp = spans[st]
            out.update({f"stage.{st}.s": sp.s, f"stage.{st}.jobs": sp.jobs,
                        f"stage.{st}.task_s": sp.task_s, f"stage.{st}.shuffle_mb": sp.shuffle_mb})
        out["pipeline.spill_mb"] = sum(s.spill_mb for s in spans.values())
        rec = {"wall_s": sum(s.s for s in spans.values()), "errors": []}
        return {**out, **extra}, {**rec, **self.end_pass(k, rec)}

    def check_pass(self) -> None:
        """Nothing left to check: every pass's outputs were checked after it."""
        return None

    def layer_counts(self) -> dict:
        if not self.calib:  # no pass wrote outputs to count
            return {}
        n, e = self.calib["nodes"], self.calib["edges"]
        pairs = n * (n - 1) // 2
        return {
            "pearson.pairs_in": pairs,
            "pearson.edges_out": e,
            "pearson.keep_ratio": e / pairs if pairs else 0.0,
            "de.genes_tested": self.calib["genes_tested"],
            "de.significant": self.calib["significant"],
        }

    def calibration(self) -> dict:
        s, c = self.shape, self.calib
        return {
            **c,
            "mapped_frac": self.ref["mapped_frac"],
            "band": {"significant": s.sig_band, "edges": s.edge_band, "nodes": s.n_top},
            "in_band": bool(c) and s.sig_band[0] <= c["significant"] <= s.sig_band[1]
            and s.edge_band[0] <= c["edges"] <= s.edge_band[1] and c["nodes"] == s.n_top,
            "shape": {"probes": s.n_probes, "samples": s.n_samples, "top_k": s.n_top},
        }


class Registry:
    """The frozen query mix over generated tables. Each query is one
    operation. Every timed pass drains each query into the noop sink; the
    rows are collected and checked against the DuckDB oracles in one
    untimed sweep right after the cold pass. The traced pass runs the
    whole 22-query canary: the mix first, then the rest, which are
    checked after it."""

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.dir = os.path.join(work, "tables")
        self.names = list(registry_mix.MIX)

    def setup(self) -> None:
        tables_gen.write_tables(REGISTRY_SF, self.seed, self.dir)
        load_table(self.spark, self.dir, "lineitem").count()

    def prepare_check(self) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")

    def check_queries(self, names: list[str]) -> dict:
        """Collect each query's rows and check them; by query, the reason
        each one failed."""
        errors = {}
        for name in names:
            try:
                rows = all_queries()[name].fn(self.spark, self.dir).toPandas()
                err = registry_mix.check(name, rows, all_queries()[name].oracle, self.con)
            except Exception as e:  # the query or its oracle failed
                err = f"{type(e).__name__}: {e}"
            release_caches()
            if err:
                errors[name] = err
        release_caches(fixtures=True)
        return errors

    def check_pass(self) -> dict:
        errors = self.check_queries(self.names)
        return {"check": True, "ops": len(self.names), "failed": len(errors),
                "errors": [f"{n}: {e}" for n, e in errors.items()]}

    def run_pass(self, k: int) -> dict:
        """Wall is the time spent inside the queries; the releases of the
        query-scoped caches between them are outside it."""
        wall = release_s = peak = 0.0
        errors, per_query = [], {}
        for name in self.names:
            t0 = time.perf_counter()
            try:
                workloads.run_query(self.spark, self.dir, name)
            except Exception as e:  # one failing query must not hide the rest
                errors.append(f"{name}: {type(e).__name__}: {e}")
            per_query[name] = time.perf_counter() - t0
            wall += per_query[name]
            peak = max(peak, storage_mb(self.spark.sparkContext))
            t0 = time.perf_counter()
            release_caches()
            release_s += time.perf_counter() - t0
        return {"wall_s": wall, "per_query": per_query, "storage_mb": peak,
                "release_s": release_s, "errors": errors}

    def end_pass(self, k: int, rec: dict) -> dict:
        """After the timed pass: read the sweep-scoped memos it holds and
        release them."""
        retained = retained_heap_mb(self.spark.sparkContext)
        t0 = time.perf_counter()
        release_caches(fixtures=True)
        return {"retained_mb": retained, "release_s": rec["release_s"] + time.perf_counter() - t0,
                "ops": len(self.names), "failed": len(rec["errors"])}

    def traced_pass(self, tracer: Tracer, k: int) -> tuple[dict, dict]:
        rest = [n for n in registry_mix.CANARY_V2 if n not in self.names]
        out, errors = workloads.registry_pass_traced(
            self.spark, self.dir, self.names + rest, tracer, k
        )
        spans = tracer.spans
        out.update({
            "queries.jobs": sum(s.jobs for s in spans),
            "queries.task_s": sum(s.task_s for s in spans),
            "queries.shuffle_mb": sum(s.shuffle_mb for s in spans),
            "queries.spill_mb": sum(s.spill_mb for s in spans),
        })
        # the queries outside the mix ran nowhere else: check them now,
        # outside every span (the mix was checked after the warm passes)
        for name, err in self.check_queries([n for n in rest if n not in errors]).items():
            errors[name] = err
        mix = {f"q.{n}" for n in self.names}
        rec = {"wall_s": sum(s.s for s in spans if s.name in mix),
               "ops": len(self.names) + len(rest), "failed": len(errors),
               "errors": [f"{n}: {e}" for n, e in errors.items()]}
        return out, rec

    def layer_counts(self) -> dict:
        return {}

    def calibration(self) -> dict:
        return {"queries": self.names, "scale_factor": REGISTRY_SF}


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def run(args, work: str) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        return _measure(spark, args, work, session_s)
    finally:
        _stop(spark)


def _measure(spark, args, work: str, session_s: float) -> tuple[dict, dict]:
    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    wl = (Registry(spark, args.seed, work) if args.workload == "registry_mix"
          else Pipeline(spark, args.workload, args.seed, work))
    gen_s = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup()
        gen_s.append(time.perf_counter() - t0)
    setup_s = session_s + median(gen_s)
    wl.prepare_check()

    passes: list[dict] = []

    def one_pass() -> float:
        """One timed pass; its CPU and GC readings cover the pass alone,
        not the untimed ``end_pass`` (full collection, release, check)."""
        gc0, cpu0, tree0 = jvm_gc_s(sc), time.process_time(), tree_cpu_s(jvm_pid)
        rec = wl.run_pass(len(passes))
        py_cpu = time.process_time() - cpu0
        rec.update(py_cpu_s=py_cpu, gc_s=jvm_gc_s(sc) - gc0,
                   engine_cpu_s=tree_cpu_s(jvm_pid) - tree0 + py_cpu)
        rec.update(wl.end_pass(len(passes), rec))
        passes.append(rec)
        return rec

    # closed loop, one client: the cold pass, then a fixed number of warm
    # passes. The count comes from --seconds alone, never from measured
    # pass times: the later passes of a run are faster (JIT compilation
    # still settles), so a count that followed the clock made the median
    # jump with it.
    stat0 = _cpu_times()
    first_pass_s = one_pass()["wall_s"]
    # the registry check sweep re-runs the cold pass's queries untimed: it
    # is that workload's warm-up re-run (WARMUP_PASSES)
    check = wl.check_pass()
    if check is not None:
        passes.append(check)
    for _ in range(WARMUP_PASSES[args.workload]):
        one_pass()["warmup"] = True
    # a traced run needs one untraced warm pass, the reference for
    # trace.overhead_s, before its traced pass
    n_warm = 1 if args.trace else warm_pass_count(args.workload, args.seconds)
    warm_recs = [one_pass() for _ in range(n_warm)]
    warm = [r["wall_s"] for r in warm_recs]
    stat1 = _cpu_times()
    # memory high-water marks of the measured window, read before the
    # traced pass adds to them. The heap is committed and touched at
    # start, so the JVM's VmHWM less the heap is its native high-water
    # mark. The heap's use is the most a pass left live: what
    # a young collection leaves in the heap follows G1's timing and
    # scatters too much to bound (heap_live_peak_mb, per layer only).
    hwm, heap = _vm_hwm_mb(jvm_pid), heap_committed_mb(sc)
    mem = {"jvm_vmhwm_mb": hwm, "heap_mb": heap, "native_peak_mb": hwm - heap,
           "heap_retained_mb": max(r["retained_mb"] for r in passes if "retained_mb" in r),
           "heap_live_peak_mb": gc_live_peak_mb(os.path.join(work, "gc.log")),
           "py_maxrss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0}
    wall_s = median(warm)

    per_layer: dict = {}
    if args.trace:
        tracer = Tracer(spark, f"pb{os.getpid()}")
        try:
            per_layer, rec = wl.traced_pass(tracer, len(passes))
        except Exception as e:  # counted like any failed operation
            per_layer = {}
            rec = {"wall_s": 0.0, "ops": 1, "failed": 1,
                   "errors": [f"traced pass: {type(e).__name__}: {e}"]}
        passes.append({**rec, "traced": True})
        tracer.dump(os.path.join(os.path.dirname(work), f"trace-{os.path.basename(work)}.json"))
        per_layer.update(wl.layer_counts())
        per_layer.update({
            "caching.storage_mb_peak": max(r["storage_mb"] for r in warm_recs),
            "caching.release_s": median([r["release_s"] for r in warm_recs]),
            "jvm.gc_s": median([r["gc_s"] for r in warm_recs]),
            "driver.py_cpu_s": median([r["py_cpu_s"] for r in warm_recs]),
            "jvm.heap_live_peak_mb": mem["heap_live_peak_mb"],
            "jvm.heap_retained_mb": mem["heap_retained_mb"],
            "jvm.native_peak_mb": mem["native_peak_mb"],
            "trace.overhead_s": rec["wall_s"] - wall_s,
        })

    release_caches(fixtures=True)
    # persistent RDDs still registered after a full release: the
    # checkpointed memos that unpersist() does not free show up here
    leaked = sc._jsc.getPersistentRDDs().size()
    per_layer["caching.leaked_rdds"] = leaked

    attempted = sum(r["ops"] for r in passes)
    failed = sum(r["failed"] for r in passes)
    measured = {"wall_s": wall_s, "first_pass_s": first_pass_s, "setup_s": setup_s,
                "cpu_s": median([r["engine_cpu_s"] for r in warm_recs]),
                "peak_mem_mb": mem["native_peak_mb"] + mem["heap_retained_mb"]
                + mem["py_maxrss_mb"]}
    metrics = _declared(per_layer if args.trace else measured, args.trace, args.workload,
                        strict=failed == 0)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    delta = [b - a for a, b in zip(stat0, stat1)]
    info = {
        "session_s": session_s,
        "setup_reps_s": gen_s,
        "warm_passes": len(warm),
        # the highest percentile the warm passes support: their maximum
        "wall_s_max": max(warm),
        "passes": passes,
        "memory": mem,
        "failed_frac": failed / attempted,
        # share of the host's CPU time stolen by other tenants in the window
        "steal_frac": delta[7] / max(sum(delta), 1) if len(delta) > 7 else None,
        "calibration": wl.calibration(),
        "caching_leaked_rdds": leaked,
    }
    return result, info


# Per-layer metrics of layers a workload does not reach: they read 0.
UNREACHED = {
    "gse46602": ("q.", "queries."),
    "registry_mix": ("stage.", "parse.", "pearson.", "de.", "centrality.", "pipeline."),
}


def _declared(values: dict, trace: int, workload: str, strict: bool = True) -> dict:
    """Every metric BENCHMARK.json declares for this mode, by name and
    unit. Only a per-layer metric of a layer the workload does not reach
    (``UNREACHED``) may be absent from ``values``; it reads 0. Any other
    declared metric that was not computed, or any computed value that is
    not declared, is an error of the harness. A run with a failed
    operation (``strict`` false) may miss values; they read 0."""
    with open(BENCH_JSON) as fh:
        spec = json.load(fh)
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    names = {m["name"] for m in declared}
    skip = UNREACHED[workload] if trace else ()
    missing = sorted(n for n in names - set(values) if not n.startswith(skip))
    unknown = sorted(set(values) - names)
    if unknown or (missing and strict):
        raise RuntimeError(f"metrics not computed: {missing}; not declared: {unknown}")
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in declared}


def _stop(spark) -> None:
    """Stop Spark, then wait for the driver JVM and the Python workers it
    started to end."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    workers = set(descendants(proc.pid)) - {proc.pid}
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    # the workers exit once the JVM's sockets close; kill any that linger
    _wait_gone(workers, 10.0)
    for pid in workers:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    _wait_gone(workers, 10.0)


def _wait_gone(pids: set[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        pids.intersection_update([p for p in pids if _alive(p)])
        if not pids:
            return
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
