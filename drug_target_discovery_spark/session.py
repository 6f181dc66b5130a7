"""SparkSession factory.

Tuned for the test environment (single-JVM ``local[N]``) but every setting is
chosen to also be correct on a 1000-executor cluster:

- AQE on (coalesce shuffle partitions, skew-join splitting, runtime
  join-strategy demotion) — at 100 TB the static shuffle-partition count is
  always wrong; AQE fixes it at runtime.
- Arrow on — every Pandas-UDF boundary is Arrow-batched, never per-row pickling.
- UTC session timezone — deterministic event-time semantics regardless of host.
- shuffle partitions default to the local core count; on a real cluster this
  would be set to ~2-3x total cores (or left to AQE's initialPartitionNum).
- driver heap defaults to about half the host's memory (``MemTotal``), so a
  query that outgrows it spills instead of getting the JVM OOM-killed;
  ``$SPARK_DRIVER_MEMORY`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _default_driver_memory() -> str:
    """About half of ``MemTotal``; Spark's own 1g where it is unreadable."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 2048}m"  # kB / 2 -> MiB
    except OSError:
        pass
    return "1g"


def get_spark(
    app_name: str = "drug-target-discovery-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``cpus`` controls local parallelism and defaults to ``$SPARK_GRAFT_CPUS``
    (driver contract) or 32.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Executor Python workers must import this package for pandas_udf /
    # mapInPandas kernels. Driver sys.path does NOT propagate to workers —
    # in local mode they inherit the env, so export PYTHONPATH; on a real
    # cluster ship the package instead (spark.submit.pyFiles / a wheel).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # vectorized parquet reader + pushdown are on by default; pin anyway
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # testdata parquet carries TIMESTAMP(NANOS) which Spark has no type
        # for; read as long and normalize in sources.tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # shuffle/spill scratch on tmpfs when it can actually hold it: this box
    # has 128 GiB RAM and a throttled disk, so RAM-backed scratch removes
    # iowait spikes from bench timings. Guarded — a standard container's
    # 64 MB /dev/shm would turn every sizable shuffle into ENOSPC, so fall
    # back to Spark's default local dir unless /dev/shm has >= 16 GiB free.
    # (Respects SPARK_LOCAL_DIRS, which Spark itself also honors.) On a real
    # cluster this is the executors' local SSD setting; the 100 TB design
    # never depends on it.
    local_dirs = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dirs is None:
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 16 << 30:
                local_dirs = "/dev/shm/spark-local"
        except OSError:
            pass
    if local_dirs:
        builder = builder.config("spark.local.dir", local_dirs)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list, schema: str | StructType) -> DataFrame:
    """``rows`` (tuples in ``schema``'s column order) as a local relation.

    Built on the driver as one Arrow table, so the frame is a
    ``LocalRelation``, empty or not, and reading it runs no Spark job. A
    Python list handed to ``createDataFrame`` becomes an RDD-backed
    ``LogicalRDD`` instead, whose every read is a Python-worker job (so
    does an empty pandas frame)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema)
