"""Fixed invariance sample: 20 queries under the harshest session.

Two one-off full-registry sweeps (SCALE.md, round 7) re-ran every
query under a caller-built session's pristine confs and under
``spark.sql.shuffle.partitions=7``.  The first axis is re-checked for
the whole registry by tests/test_driver_session.py (a CDCX_FULL_TESTS
file); the second only for the hand-curated SENSITIVE list
(test_partition_invariance.py).  This module re-runs a fixed sample of
SAMPLE_SIZE other oracled queries under both axes at once: pristine
session confs AND shuffle.partitions=7.

The sample is the SAMPLE_SIZE names with the smallest
md5(f"{SAMPLE_KEY}:{name}"), so it is the same on every run and can be
read off in review.
"""

from __future__ import annotations

import hashlib

import pytest

from tests.oracle_check import compare, duckdb_conn
from tests.test_partition_invariance import SENSITIVE

SAMPLE_SIZE = 20
SAMPLE_KEY = 15


def sample_for_key(key: int) -> list[str]:
    """The SAMPLE_SIZE oracled queries with the smallest
    md5(f"{key}:{name}").  SENSITIVE names are excluded (they already
    run at shuffle=7 in test_partition_invariance.py)."""
    from cdc_extractor_spark.queries import ORACLES

    pool = sorted(set(ORACLES) - set(SENSITIVE))
    keyed = sorted(
        pool, key=lambda n: hashlib.md5(f"{key}:{n}".encode()).hexdigest()
    )
    return sorted(keyed[:SAMPLE_SIZE])


@pytest.fixture(scope="module")
def harsh_spark(spark):
    """Driver-pristine confs + adversarial shuffle partitioning, both
    at once: unset every session.py runtime conf (true Spark defaults,
    as in test_driver_session) and then force shuffle.partitions=7."""
    from cdc_extractor_spark.session import runtime_sql_confs

    keys = sorted(runtime_sql_confs())
    saved = {k: spark.conf.get(k) for k in keys}
    for k in keys:
        spark.conf.unset(k)
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    yield spark
    for k, v in saved.items():
        spark.conf.set(k, v)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sample_for_key(SAMPLE_KEY))
def test_sampled_query_invariant_under_harsh_session(
    harsh_spark, sf_dir, con, name
):
    from cdc_extractor_spark.queries import ORACLES, QUERIES

    df = QUERIES[name](harsh_spark, sf_dir)
    compare(df, con, ORACLES[name], name)
