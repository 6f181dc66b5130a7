"""Benchmark of the drug-target discovery engine.

    python3 perfbench/run.py --workload gse46602 --seed 1 --seconds 20 --trace 0

One run is one fresh process on ``local[nproc]``, closed loop, one client:
set-up, one cold pass, one untimed warm-up re-run of it (on
``registry_mix`` the check sweep), then timed warm passes that fill
about ``--seconds`` (one per 10 s on ``gse46602``, per 6 s on
``registry_mix``, at least one), each pass's outputs checked outside its
timed window. With ``--trace 1`` one timed warm pass is followed by a
traced pass that gives the per-layer metrics. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer ones with ``--trace 1``). The line before
it, ``perfbench-info {...}``, holds the host, provenance, calibration and
per-pass record. Everything the run writes stays under ``perfbench/_work``.

Workloads (see METRICS.md for the metrics and what moves them):
  gse46602      the paper's pipeline on a GSE46602-shaped series matrix
  registry_mix  a frozen mix of registry queries over generated tables
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("gse46602", "registry_mix")


def _meminfo_mb(key: str, path: str = "/proc/meminfo") -> float:
    with open(path) as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def pin_host(work: str) -> dict:
    """Pin parallelism, driver heap and scratch dirs before Spark starts."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = _meminfo_mb("MemTotal")
    # an eighth of the host's memory, 1-2 GiB, committed and touched at
    # start: a heap that G1 grows on its own timing made the GC work, and
    # with it cpu_s and wall_s, scatter run to run (METRICS.md)
    heap_mb = int(min(max(mem_mb // 8, 1024), 2048))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM: temp files in the checkout, no hsperfdata in /tmp
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # the driver JVM only (not spark-submit's launcher); the GC log
        # gives the heap in use after each collection
        "SPARK_SUBMIT_OPTS": (f"-Xms{heap_mb}m -XX:+AlwaysPreTouch "
                              f"-Xlog:gc:file={os.path.join(work, 'gc.log')}"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"nproc": cpus, "mem_total_mb": round(mem_mb), "driver_heap_mb": heap_mb,
            "loadavg1_start": load1}


def provenance() -> dict:
    """Git head and dirty flag where the checkout is a repository, and a
    digest of the engine's sources either way."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "drug_target_discovery_spark")
    for dirpath, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    out = {"source_sha256": h.hexdigest()[:16], "git_head": None, "git_dirty": None}
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10)
        if head.returncode == 0:
            dirty = subprocess.run(["git", "status", "--porcelain", "-uno"], cwd=ROOT,
                                   capture_output=True, text=True, timeout=10)
            out.update(git_head=head.stdout.strip(), git_dirty=bool(dirty.stdout.strip()))
    except (OSError, subprocess.SubprocessError):
        pass
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "drug_target_discovery_spark")):
        print("perfbench: the engine's sources are not in this checkout", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    host = pin_host(work)
    sys.path.insert(0, ROOT)
    try:
        from perfbench.harness import run
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    try:
        result, info = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            **host, **provenance(), **info}
    print("perfbench-info " + json.dumps(info, default=float), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
