"""Fixed EMPTY-INPUT sample: 20 queries over a zero-row fixture.

The reference crashes on empty batches (SURVEY.md §5.2,
WorkerRunnable.java:145 NoSuchElementException).  A full-registry run
over a zero-row schema clone (tools/empty_sweep.py) records which
queries survive; this module keeps that property from regressing with
a fixed sample: the SAMPLE_SIZE queries with the smallest
md5(f"empty:{SAMPLE_KEY}:{name}") re-run over the empty fixture and
must return a well-formed (possibly empty) DataFrame.

EXPECTED_RAISERS is the recorded exclusion ledger from that sweep —
names whose empty-input behavior is a known finding, queued in
SCALE.md.  Shrinking this ledger is the ratchet; growing it should only
happen with a recorded rationale.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile

import pytest

SAMPLE_SIZE = 20
SAMPLE_KEY = 15

# Sweep findings (tools/empty_sweep.py), by class; the round-13 full
# sweep ran 276/288 OK with 12 raising.  streaming_microbatch_epochs has
# since left the ledger: its driver-planned run path returns no epochs
# over an empty feed.  The remaining 11, checked against behaviour by
# test_ledger_query_still_raises_on_empty_input:
#   empty-dir round-trips — fixture staging writes ZERO files, the
#     read side then fails on a missing/schema-less path (production
#     ingest dirs always exist; the fix is pathGlobFilter/explicit
#     schemas, as source_binaryfile_ingest already does):
EXPECTED_RAISERS = frozenset(
    {
        "dpp_pruned_revenue",
        "partitioned_sink_pruned_read",
        "sink_pipe_text",
        "streaming_bitmap_distinct",
        "streaming_dedup_exactly_once",
        "streaming_interval_join",
        "streaming_session_windows",
        "streaming_stateful_snapshot",
        "streaming_static_enrichment",
        "streaming_upsert_snapshot",
        #   designed loud guard (raises a clear ValueError by contract):
        "streaming_ivf_maintenance",
    }
)

# ADVICE r12 closure: the ledger is a RATCHET — it may only shrink (or
# grow with a recorded rationale and an explicit edit HERE).  Freezing
# the exact contents means a regression that starts raising on empty
# input cannot hide by silently joining the exclusion set.
_LEDGER_FROZEN = frozenset(
    {
        "dpp_pruned_revenue",
        "partitioned_sink_pruned_read",
        "sink_pipe_text",
        "streaming_bitmap_distinct",
        "streaming_dedup_exactly_once",
        "streaming_interval_join",
        "streaming_session_windows",
        "streaming_stateful_snapshot",
        "streaming_static_enrichment",
        "streaming_upsert_snapshot",
        "streaming_ivf_maintenance",
    }
)


def test_ledger_is_exactly_the_frozen_set():
    """Pin the ledger's exact contents (ADVICE r12): any growth must
    edit BOTH sets in the same reviewed change, with a rationale in
    the comment above EXPECTED_RAISERS."""
    assert EXPECTED_RAISERS == _LEDGER_FROZEN, (
        f"exclusion ledger drifted: "
        f"added={sorted(EXPECTED_RAISERS - _LEDGER_FROZEN)} "
        f"removed={sorted(_LEDGER_FROZEN - EXPECTED_RAISERS)}"
    )


def sample_for_key(key: int) -> list[str]:
    from cdc_extractor_spark.queries import QUERIES

    pool = sorted(set(QUERIES) - EXPECTED_RAISERS)
    keyed = sorted(
        pool,
        key=lambda n: hashlib.md5(f"empty:{key}:{n}".encode()).hexdigest(),
    )
    return sorted(keyed[:SAMPLE_SIZE])


def test_ledger_names_are_registered():
    from cdc_extractor_spark.queries import QUERIES

    unknown = sorted(EXPECTED_RAISERS - set(QUERIES))
    assert not unknown, f"stale exclusion-ledger names: {unknown}"


# The temp dir the rest of the suite uses; the empty fixture's caches
# must not land there.
_REAL_TMPDIR = tempfile.gettempdir()


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    """The zero-row fixture.  While it is live the temp dir is a dir
    under the fixture's own base, so the feeds and caches built over it
    (keyed on a path pytest deletes later) leave nothing behind in the
    real temp dir."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.empty_sweep import make_empty_fixture

    base = str(tmp_path_factory.mktemp("empty_fixture"))
    tmp = os.path.join(base, "tmp")
    os.makedirs(tmp)
    saved = tempfile.tempdir
    tempfile.tempdir = tmp
    try:
        yield make_empty_fixture(spark, base)
    finally:
        tempfile.tempdir = saved


def test_empty_fixture_builds_nothing_in_the_real_temp_dir(spark, empty_sf):
    """A cache built over the empty fixture lands under the fixture's
    base, not in the temp dir the rest of the suite shares."""
    from cdc_extractor_spark.queries import QUERIES

    def cdcx() -> set[str]:
        return {n for n in os.listdir(_REAL_TMPDIR) if n.startswith("cdcx_")}

    before = cdcx()
    assert QUERIES["streaming_microbatch_epochs"](spark, empty_sf).collect() == []
    assert cdcx() == before
    fixture_tmp = tempfile.gettempdir()
    assert os.path.dirname(fixture_tmp) == empty_sf
    assert any(n.startswith("cdcx_feed_") for n in os.listdir(fixture_tmp))


@pytest.mark.parametrize("name", sorted(EXPECTED_RAISERS))
def test_ledger_query_still_raises_on_empty_input(spark, empty_sf, name):
    """The ledger records behaviour, not a guess: a listed query that
    stops raising on the empty fixture must leave the ledger (and so
    join the sampled pool)."""
    from cdc_extractor_spark.queries import QUERIES

    with pytest.raises(Exception):
        QUERIES[name](spark, empty_sf).collect()


@pytest.mark.parametrize("name", sample_for_key(SAMPLE_KEY))
def test_sampled_query_survives_empty_input(spark, empty_sf, name):
    from cdc_extractor_spark.queries import QUERIES

    rows = QUERIES[name](spark, empty_sf).collect()
    assert isinstance(rows, list)
