"""Canonical parquet sources (driver testdata, TESTDATA.md).

Mirrors SURVEY.md §2.1 S11: ``spark.read.parquet`` is the engine's canonical
scan. Column pruning and predicate pushdown reach the parquet reader through
Catalyst — callers should select/filter as early as possible and let the
optimizer do the rest (verify with ``.explain``: ``ReadSchema`` /
``PushedFilters``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drug_target_discovery_spark.caching import memo

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension tables small enough to always broadcast in joins (SURVEY §2.4 J8).
BROADCAST_DIMS = {"region", "nation", "supplier", "customer", "part"}


# Columns stored as TIMESTAMP(NANOS) in the testdata parquet. Spark reads
# them as long (spark.sql.legacy.parquet.nanosAsLong); we truncate to
# microseconds — exactly what DuckDB's nanos->micros coercion does — so both
# engines see identical timestamp values.
_NANO_TS_COLS = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
    "events": ["ts"],
}


# Lazy-PLAN memo (optimization r13, guide §1.2/§6): `spark.read.parquet`
# pays file listing + footer schema inference on the DRIVER every call
# (~0.14s here; at 100 TB a full directory listing per query). The scan
# plan is immutable and session-bound, so one build per (session, dir,
# table) serves every query — this memoizes the LAZY DataFrame only;
# every execution still reads the parquet from disk (no data or result
# caching). Keyed on id(session) (caching.memo adds the applicationId) so
# a new session (or restarted context) rebuilds, PLUS the parquet path's
# (mtime_ns, size): `spark.read.parquet` captures the file listing at plan
# build, so a memoized plan over a REWRITTEN path would reference deleted
# files (caught by test_round11_ops' overwrite-the-fixture edge). One
# local stat (~1 us) per call preserves rewrite-then-reload semantics
# while still skipping the ~0.14s JVM listing+footer read on the immutable
# bench tables. Cleared with the sweep fixtures so long test sessions
# don't pin dead plan objects.


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table lazily, normalizing nano-timestamps.

    Self-configures the session it is handed (the driver's harness may pass
    a session built without our factory): nanosAsLong so TIMESTAMP(NANOS)
    parquet (events.ts) is readable at all, and UTC session timezone so
    naive parquet timestamps surface the same epoch seconds the DuckDB
    oracle computes. Both are dynamic SQL confs — safe to set repeatedly."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # locked-down session: proceed with its settings
    try:
        st = os.stat(f"{sf_dir}/{name}.parquet")
    except OSError:  # missing path: fall through uncached
        return _scan(spark, sf_dir, name)
    return memo(
        spark,
        "table_plan",
        lambda: _scan(spark, sf_dir, name),
        id(spark),
        sf_dir,
        name,
        st.st_mtime_ns,
        st.st_size,
    )


def _scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _NANO_TS_COLS.get(name, []):
        if col not in df.columns:
            continue
        dtype = dict(df.dtypes)[col]
        if dtype == "bigint":
            # TIMESTAMP(NANOS) parquet surfaced as nano-long
            df = df.withColumn(
                col, F.timestamp_micros(F.floor(F.col(col) / F.lit(1000)).cast("long"))
            )
        elif dtype == "timestamp_ntz":
            # naive micros parquet: restore TimestampType for downstream
            # epoch-seconds casts, which Spark forbids on TIMESTAMP_NTZ.
            # Under a UTC session tz the cast is a pure retag (same wall
            # values, same epoch DuckDB computes). If load_table's conf.set was
            # rejected (locked-down session) and the session tz is NOT UTC,
            # a bare cast shifts epochs by the host offset — and offset
            # COMPENSATION (from/to_utc_timestamp) is wrong by the DST delta
            # around transitions, because the cast and the compensation
            # evaluate the offset at different instants. Instead, derive the
            # epoch micros from the NTZ's CALENDAR FIELDS (date ordinal +
            # h/m/s.micros) — pure field arithmetic, timezone-independent,
            # exact for any wall time including the DST gap.
            try:
                tz = spark.conf.get("spark.sql.session.timeZone")
            except Exception:
                tz = None
            if tz in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
                ts = F.col(col).cast("timestamp")
            else:
                ts = F.timestamp_micros(
                    F.expr(
                        f"CAST(unix_date(CAST({col} AS DATE)) AS BIGINT) * 86400000000"
                        f" + hour({col}) * 3600000000"
                        f" + minute({col}) * 60000000"
                        f" + CAST(date_part('SECOND', {col}) * 1000000 AS BIGINT)"
                    )
                )
            df = df.withColumn(col, ts)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
