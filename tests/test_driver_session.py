"""Session-robustness: the driver builds its OWN SparkSession, without
this repo's reader configs (session.py).  Under Spark 4 defaults every
naive parquet timestamp then reads as TIMESTAMP_NTZ
(``spark.sql.parquet.inferTimestampNTZ.enabled`` defaults true) and the
nanos ``events.ts`` column arrives as NTZ rather than the
``nanosAsLong`` bigint — the exact environment that crashed
``asof_join_latest_order`` in CORRECTNESS_r01 (`unix_millis` hard-fails
on NTZ).  ``io.load_table`` normalizes all NTZ columns to TimestampType
so every query is correct under any caller-built session; this module
re-runs the FULL oracle-parity suite with the driver's reader configs
simulated on the shared session.  It runs at ``conftest.SMOKE_SF``
(sf0.001).  To compare named queries at sf0.01, run
``python -m tests.oracle_check <sf0.01 fixture dir> name ...``.
"""

from __future__ import annotations

import pytest

from tests.oracle_check import compare, duckdb_conn

def _session_confs() -> dict[str, str]:
    # EVERY runtime SQL conf session.py applies — not a hand-picked
    # subset.  A sim that reset only the two parquet confs once missed
    # a query's filterPushdown dependence, which then failed under a
    # caller-built session; deriving the key list from session.py
    # itself makes the sim stay faithful as confs are added.
    from cdc_extractor_spark.session import runtime_sql_confs

    return runtime_sql_confs()


@pytest.fixture(scope="module")
def driver_spark(spark):
    keys = sorted(_session_confs())
    saved = {k: spark.conf.get(k) for k in keys}
    for k in keys:
        # unset → the TRUE Spark default (not a hardcoded guess), i.e.
        # exactly what the driver's pristine SparkSession.builder sees.
        spark.conf.unset(k)
    yield spark
    for k, v in saved.items():
        spark.conf.set(k, v)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


def _oracle_names():
    from cdc_extractor_spark.queries import ORACLES

    return sorted(ORACLES)


def test_load_table_normalizes_ntz(driver_spark, sf_dir):
    from cdc_extractor_spark.io import TABLES, load_table

    for t in TABLES:
        df = load_table(driver_spark, sf_dir, t)
        ntz = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
        assert not ntz, f"{t}: NTZ columns leaked through load_table: {ntz}"


def test_raw_read_is_ntz_under_driver_confs(driver_spark, sf_dir):
    # Guard that the simulation is real: a RAW read (bypassing
    # load_table) must produce NTZ columns, else this module is
    # vacuously re-running the plain parity suite.
    raw = driver_spark.read.parquet(f"{sf_dir}/orders.parquet")
    kinds = {f.name: f.dataType.typeName() for f in raw.schema.fields}
    assert kinds["o_orderdate"] == "timestamp_ntz"


def test_sim_resets_every_session_conf(driver_spark):
    # Guard that the sim covers ALL of session.py's confs, at their
    # pristine Spark-4 defaults — the r6 driver failure mode was a conf
    # (python.filterPushdown) the old two-key sim never reset.  If a
    # query needs a conf, it must set it itself (as pyds.register()
    # now does), not inherit it from the repo session.
    # Re-unset filterPushdown first (ADVICE r7): parity tests in this
    # module run pyds.register(), which sets it on the shared session —
    # without the unset this assert is test-order-dependent under
    # -k / -p randomly / xdist reordering.
    driver_spark.conf.unset("spark.sql.python.filterPushdown.enabled")
    assert driver_spark.conf.get(
        "spark.sql.python.filterPushdown.enabled"
    ) == "false"
    assert driver_spark.conf.get("spark.sql.shuffle.partitions") == "200"
    assert driver_spark.conf.get(
        "spark.sql.execution.arrow.pyspark.enabled"
    ) == "false"


def test_ntz_normalization_is_session_timezone_independent(spark, sf_dir):
    """A caller-built session may run a non-UTC session zone; the NTZ
    wall-clock must still be interpreted as UTC (matching the DuckDB
    oracle's naive reading), not shifted by the zone offset."""
    from pyspark.sql import functions as F

    from cdc_extractor_spark.io import load_table

    def epochs(s):
        df = load_table(s, sf_dir, "orders")
        return sorted(
            r[0]
            for r in df.select(F.unix_millis("o_orderdate")).limit(50).collect()
        )

    confs = {
        "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "false",
        "spark.sql.session.timeZone": "UTC",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        want = epochs(spark)
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        got = epochs(spark)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert got == want


@pytest.mark.parametrize("name", _oracle_names())
def test_query_matches_oracle_under_driver_session(driver_spark, sf_dir, con, name):
    from cdc_extractor_spark.queries import ORACLES, QUERIES

    df = QUERIES[name](driver_spark, sf_dir)
    compare(df, con, ORACLES[name], name)


def test_rows_only_queries_run_under_driver_session(driver_spark, sf_dir):
    from cdc_extractor_spark.queries import ORACLES, QUERIES

    for name in sorted(set(QUERIES) - set(ORACLES)):
        df = QUERIES[name](driver_spark, sf_dir)
        assert df.count() >= 0, name
