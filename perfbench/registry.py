"""The registry workloads: a closed loop with one client that builds
each query with ``QUERIES[name](spark, sf)`` and executes it to the
noop sink, as ``bench.py`` does.

``FLOOR`` is fixed by rule: ``sorted(QUERIES)`` without the
``streaming_*`` queries, those under 1.0 s in the 8-core detail table
(``BENCH_DETAIL_c8.md``), then every 32nd from index 0: 8 queries.
"""

from __future__ import annotations

import random
import statistics
import time


FLOOR = [
    "agg_max_offset",
    "cdc_version_delta",
    "doc_repetition_flags",
    "interval_user_coverage",
    "pii_redaction",
    "sketch_mergeable_hll",
    "tfidf_term_stats",
    "weighted_doc_sample",
]

WARM_PASSES = 2  # untimed noop passes after the checked pass
# the host is shared: an oracle that needs more fails instead of growing
DUCKDB_CONFIG = {"memory_limit": "2GB"}


_FLOATS = ("DOUBLE", "FLOAT", "REAL")


def oracle_diff(con, spark_out, sql: str) -> str | None:
    """None when ``spark_out`` (an Arrow table) equals the DuckDB
    oracle's rows as a multiset, else why not.  Order-insensitive, with
    columns matched by name and floats compared at 6 decimals."""
    con.register("spark_out", spark_out)
    con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_out AS {sql}")
    s_types = dict(r[:2] for r in con.execute("DESCRIBE spark_out").fetchall())
    d_types = dict(r[:2] for r in con.execute("DESCRIBE oracle_out").fetchall())
    if sorted(s_types) != sorted(d_types):
        return f"columns {sorted(s_types)} != {sorted(d_types)}"

    def norm(c: str) -> str:
        if s_types[c] in _FLOATS or d_types[c] in _FLOATS:
            return f'round(CAST("{c}" AS DOUBLE), 6)'
        return f'"{c}"'

    cols = ", ".join(norm(c) for c in sorted(s_types))
    n_s = spark_out.num_rows
    n_d = con.execute("SELECT count(*) FROM oracle_out").fetchone()[0]
    if n_s != n_d:
        return f"{n_s} rows != {n_d}"
    bad = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM spark_out "
        f"EXCEPT ALL SELECT {cols} FROM oracle_out)"
    ).fetchone()[0]
    return f"{bad}/{n_s} rows differ" if bad else None


def registry(ctx, names: list[str]) -> None:
    import duckdb
    from cdc_extractor_spark import queries
    from cdc_extractor_spark.io import TABLES

    spark, sf = ctx.spark, ctx.sf_dir
    con = duckdb.connect(config=DUCKDB_CONFIG)
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    # warm-up cycles: first the correctness gate, each query collected
    # as Arrow (only the Spark side is timed), then noop passes as the
    # measured loop runs them
    wrong: dict[str, str] = {}
    with ctx.cycle():
        outs = {}
        for name in names:
            try:
                outs[name] = queries.QUERIES[name](spark, sf).toArrow()
            except Exception as exc:
                wrong[name] = f"raised {exc!r}"
    for name, out in outs.items():
        try:
            why = oracle_diff(con, out, queries.ORACLES[name])
        except duckdb.Error as exc:
            why = f"oracle raised {exc!r}"
        if why:
            wrong[name] = why
    con.close()
    for name, why in sorted(wrong.items()):
        ctx.log(f"{name}: {why}")
    for _ in range(WARM_PASSES):
        with ctx.cycle():
            for name in [n for n in names if n not in wrong]:
                queries.QUERIES[name](spark, sf).write.format("noop").mode(
                    "overwrite"
                ).save()
    ctx.start_measure()

    rng = random.Random(ctx.seed)
    pass_s: list[float] = []
    pass_cpu_ms: list[float] = []  # CPU per query of each pass
    start = time.perf_counter()
    while not pass_s or time.perf_counter() - start < ctx.seconds:
        order = rng.sample(names, len(names))
        t_pass, cpu = time.perf_counter(), ctx.cpu_s()
        for name in order:
            op_id = (len(pass_s), name)
            ctx.outcome.attempt()
            t = time.perf_counter()
            try:
                with ctx.op("query"):
                    with ctx.span("queries.build"):
                        df = queries.QUERIES[name](spark, sf)
                    ctx.plan(df)
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                ctx.log(f"{name} raised {exc!r}")
                ctx.outcome.fail(op_id)
                continue
            ctx.samples_ms.append((time.perf_counter() - t) * 1000.0)
            if name in wrong:
                ctx.outcome.fail(op_id)
        pass_s.append(time.perf_counter() - t_pass)
        pass_cpu_ms.append((ctx.cpu_s() - cpu) * 1000.0 / len(order))
    ctx.end_measure()
    # the median pass, not the window's mean: the first pass costs most
    # while the JIT still compiles, and how many passes follow it in the
    # window depends on the host's speed
    ctx.cpu_ms_per_op = statistics.median(pass_cpu_ms)
    ctx.log(f"pass_s {[round(x, 3) for x in pass_s]} "
            f"cpu_ms_per_query {[round(x) for x in pass_cpu_ms]}")
    ctx.layers["registry.passes"] = len(pass_s)
    ctx.mismatches += len(wrong)
