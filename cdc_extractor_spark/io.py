"""Fixture table loaders.

Reference analog: ``Client.java:51-65`` (JDBC connection factory) +
``WorkerRunnable.java:93-94`` (``select * from audit.logged_actions``).
Our batch source is Parquet (columnar, pushdown-friendly); the driver
fixtures at ``/root/testdata/sf*`` stand in for the monitored ``bmsql_*``
base tables and the audit change log (``events``).

Scale note: ``spark.read.parquet`` plans one task per file split
(``spark.sql.files.maxPartitionBytes``), so the same call that reads a
6 MB fixture reads a 100 TB table across 1000 executors.  Filters and
column prunes written against these frames reach the scan (verified in
tests/test_plans.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table.  Schemas are embedded in the Parquet
    footer (see FIXTURES.md); no inference happens.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark
    reads as a long (``spark.sql.legacy.parquet.nanosAsLong``, set in
    session.py); it is normalized here to µs-precision TimestampType —
    the same truncation DuckDB applies — so every downstream operator
    sees a plain timestamp column.

    Session-robustness: a *foreign* SparkSession (e.g. the driver's) may
    leave ``spark.sql.parquet.inferTimestampNTZ.enabled`` at its Spark-4
    default (true), in which case every naive parquet timestamp — the
    fixtures' ``ts`` / ``o_orderdate`` / ``l_shipdate`` — reads back as
    TIMESTAMP_NTZ, on which ``unix_millis`` / ``F.window`` hard-fail.
    We normalize ALL timestamp_ntz columns to TimestampType here, with
    the naive wall-clock interpreted AS UTC regardless of the session
    zone, so every query is correct under any caller-built session —
    including one whose ``spark.sql.session.timeZone`` is a JVM-local
    zone.  In a UTC session the plain cast already means wall-as-UTC
    and is left untouched (zero plan overhead on the repo's own
    sessions); in a non-UTC session the cast's zone shift is undone
    with ``from_utc_timestamp`` (caveat: within a DST transition hour
    of the session zone the round-trip is ambiguous by construction —
    irrelevant for naive-UTC fixture data, noted for honesty).
    Asserted in tests/test_driver_session.py.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        # integer division, NOT `/` (double division loses ±1µs at 1e18 ns
        # magnitudes, which flips ms boundaries vs DuckDB's truncation)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz_cols = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    if ntz_cols:
        from pyspark.sql import functions as F

        tz = spark.conf.get("spark.sql.session.timeZone", "UTC") or "UTC"
        if tz in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            conv = {c: F.col(c).cast("timestamp") for c in ntz_cols}
        else:
            conv = {
                c: F.from_utc_timestamp(F.col(c).cast("timestamp"), tz)
                for c in ntz_cols
            }
        df = df.withColumns(conv)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture as a temp view (mirrors the DuckDB oracle
    environment, where the same names are pre-registered)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
