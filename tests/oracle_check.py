"""Local mirror of the driver's t2 check: run a Spark query and its
DuckDB oracle over the same parquet fixtures, compare row count, schema
shape and order-insensitive values (columns sorted by name, rows sorted
by all columns).

Run from the repo root against any fixture dir (sf0.01, or a
``tools/gen_scale_fixture.py`` scale point):

    python -m tests.oracle_check <fixture_dir> name [name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from pathlib import Path

import duckdb

from cdc_extractor_spark.io import TABLES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """One view per fixture table that ``sf_dir`` holds.  A table is a
    parquet file, or a directory of part files as
    ``tools/gen_scale_fixture.py`` writes it."""
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            src = p / "*.parquet" if p.is_dir() else p
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        # driver-style value hashing: floats compared at fixed precision
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    try:
        import numpy as np

        if isinstance(v, np.ndarray):
            return tuple(_norm_cell(x) for x in v.tolist())
        if isinstance(v, np.generic):
            return _norm_cell(v.item())
    except ImportError:
        pass
    return v


def _norm_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(normed, key=repr)


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str = "?"):
    # The driver's pandas-based value hasher cannot hash list/map/struct
    # cells (CORRECTNESS_r01: `unhashable type: 'list'` on A8).  Reject
    # complex-typed output columns here so the local mirror fails the
    # same way the driver does instead of silently passing on
    # tuple-ized values.
    complex_cols = [
        f.name
        for f in spark_df.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    assert not complex_cols, (
        f"{name}: oracle-backed query emits complex-typed columns "
        f"{complex_cols}; driver hash would fail — join/stringify them"
    )
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.sql(sql)
    d_cols = list(rel.columns)
    d_rows = rel.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column names differ: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count differs: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    sn = _norm_rows(s_cols, s_rows)
    dn = _norm_rows(d_cols, d_rows)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(sn, dn)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)}/{len(sn)} rows differ; first: "
        f"spark={mismatches[0][1]} duckdb={mismatches[0][2]}"
    )
    return len(sn)


def main(argv: list[str]) -> int:
    """Compare each named registry query with its oracle over the
    fixture ``argv[0]``; print one line per name and a total.  Exit
    status 1 if any name differs."""
    from cdc_extractor_spark.queries import ORACLES, QUERIES
    from cdc_extractor_spark.session import get_session

    sf_dir, names = os.path.abspath(argv[0]), argv[1:]
    spark = get_session(app_name="oracle_check")
    con = duckdb_conn(sf_dir)
    n_ok = 0
    for name in names:
        t0 = time.perf_counter()
        try:
            n_rows = compare(QUERIES[name](spark, sf_dir), con, ORACLES[name], name)
            verdict, n_ok = f"MATCH rows={n_rows}", n_ok + 1
        except AssertionError as e:
            verdict = f"MISMATCH {e}"
        print(f"{name}: {verdict} {time.perf_counter() - t0:.1f}s", flush=True)
    print(f"{n_ok}/{len(names)} match")
    return int(n_ok < len(names))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
