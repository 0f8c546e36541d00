"""Registry-wide empty-input robustness sweep (VERDICT r11 task #8).

The reference crashes on empty batches (SURVEY.md §5.2,
WorkerRunnable.java:145 NoSuchElementException); rounds 8-12 pinned
per-round operators against that bug class in their test files.  This
tool runs EVERY registered query over a zero-row clone of the fixture
schema and reports which ones raise — the findings feed
tests/test_empty_input_sample.py's exclusion ledger (EXPECTED_RAISERS).

Usage: python tools/empty_sweep.py [names...]   (default: all)
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC_SF = "/root/testdata/sf0.001"


def make_empty_fixture(spark, base: str) -> str:
    """Zero-row parquet for every table, schemas cloned from sf0.001."""
    from cdc_extractor_spark.io import TABLES

    for t in TABLES:
        src = os.path.join(SRC_SF, f"{t}.parquet")
        spark.read.parquet(src).limit(0).write.mode("overwrite").parquet(
            os.path.join(base, f"{t}.parquet")
        )
    return base


def main() -> None:
    from cdc_extractor_spark.queries import QUERIES
    from cdc_extractor_spark.session import get_session

    spark = get_session(app_name="empty_sweep")
    base = make_empty_fixture(
        spark, tempfile.mkdtemp(prefix="cdcx_empty_fixture_")
    )
    names = sys.argv[1:] or sorted(QUERIES)
    ok, failed = [], []
    for name in names:
        try:
            rows = QUERIES[name](spark, base).collect()
            ok.append(name)
            print(f"{name} OK rows={len(rows)}", flush=True)
        except Exception as ex:
            failed.append((name, repr(ex)[:160]))
            print(f"{name} RAISES {repr(ex)[:160]}", flush=True)
    print(f"\nSUMMARY ok={len(ok)} raises={len(failed)}")
    for name, err in failed:
        print(f"  {name}: {err}")
    spark.stop()


if __name__ == "__main__":
    main()
