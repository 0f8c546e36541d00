"""SparkSession factory.

Reference analog: ``Client.java:11-49`` — process launch reading
``numberOfThread`` / ``runDuration`` system properties and spawning
threads.  In Spark the parallelism/scheduling knobs live on the session;
everything else (queueing, backpressure, shutdown) is engine-managed.

Scale stance (100 TB design point): the defaults below are for local
test runs.  On a real cluster the same builder is used with
``master=yarn/k8s``; the only per-job knobs we set are AQE (on), shuffle
partitions (cluster-sized), and Arrow (on, for the pandas-UDF paths).
Nothing in the engine assumes local mode.

Codegen cache: ``get_session`` sets the STATIC conf
``spark.sql.codegen.cache.maxEntries`` to ``CODEGEN_CACHE_ENTRIES``
(4096) on the builder.  Spark's default keeps 100 compiled generated
classes; one pass over the 277 non-streaming registry queries at sf0.001
generates about 3,300 distinct classes (the 8-query ``registry_floor``
loop needs 142), so a long-lived session at the default evicts and
recompiles most of its working set every pass — Janino on the driver,
then HotSpot JIT again for the new classes.  A static conf is fixed
when the first session in the JVM starts, so it cannot live in
``runtime_sql_confs()``, which is reapplied to live sessions.  A
caller-built session keeps whatever cap it started with; query results
do not depend on the cap, only compile work does.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CODEGEN_CACHE_ENTRIES = 4096


def runtime_sql_confs() -> dict[str, str]:
    """Every RUNTIME-SETTABLE SQL conf ``get_session`` applies, as one
    auditable dict.  tests/test_driver_session.py unsets exactly these
    keys to rebuild a pristine caller session (a caller that builds
    its own ``SparkSession.builder`` sets none of them), so a query
    that silently depends on any conf here fails locally FIRST —
    ``source_python_datasource_scan`` once failed under a caller-built
    session for exactly such a gap (pushFilters needs the
    filterPushdown conf the caller never set).  Add new confs HERE,
    not inline in ``get_session``, or the caller-session sim stops
    being faithful.

    Static confs (fixed when the first session starts) cannot go here: they
    throw when set on a live session.  ``spark.sql.codegen.cache.maxEntries``
    is one — it sits on the builder in ``get_session``, sized from the
    ~3,300 classes one pass over the registry compiles; a caller-built
    session keeps its own cap, which changes compile work, not results."""
    return {
        "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Python Data Source API (sources/pyds.py): let the engine hand
        # supported predicates to the reader's pushFilters().  Also set
        # defensively by pyds.register() for caller-built sessions.
        "spark.sql.python.filterPushdown.enabled": "true",
        # events.parquet stores plain (no-tz) timestamps; read them as
        # TimestampType interpreted in the UTC session zone so epoch-ms
        # extraction matches DuckDB's naive-timestamp epoch_ms().
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        # events.parquet stores TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as long ns and normalize in io.load_table.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }


def get_session(
    app_name: str = "cdc_extractor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime coalescing, skew-join splitting, broadcast demotion.
    - ``spark.sql.shuffle.partitions`` sized to cores locally; on a
      cluster pass ``shuffle_partitions`` ≈ 2-3× total cores.
    - UTC session timezone so timestamp math matches the DuckDB oracle
      (naive-UTC) and is stable across machines.
    - Arrow enabled for the vectorized pandas-UDF paths (similarity,
      multimodal) — the only places Python touches row data.
    - Codegen cache sized to the registry's working set (module
      docstring), so a long-lived session compiles each class once.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    sql_confs = runtime_sql_confs()
    if shuffle_partitions:
        sql_confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    for k, v in sql_confs.items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
