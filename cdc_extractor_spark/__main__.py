"""Process-launch CLI — the reference's entry point re-expressed.

``Client.java:11-49`` reads ``-DnumberOfThread`` / ``-DrunDuration`` /
``-DsleepDuration`` / ``-Dtables`` from JVM system properties, spawns
one coordinator, N workers and a staleness monitor, sleeps, then
``System.exit(0)``.  Here the same knobs configure one extraction
call over the change feed: parallelism sizes the shuffle partitions
(scan fan-out is engine-scheduled, A15), the table restriction is a
pushed ``In`` filter (never SQL-interpolated — Config.java's
injection-by-construction and missing-comma bugs are structurally
impossible), and the run duration bounds the call.  No epoch starts
after the bound, and an epoch that has started runs to completion
instead of being killed by a hard exit; the next ``run`` on the same
``--out`` picks up the files left over, exactly-once.

``run`` is one bounded pass: it extracts every feed file that arrived
since the last pass on the same ``--out`` (``O/epochs/`` records which
files each epoch covers) and returns.  A pass that finds no new file
lists the feed and starts no Spark job.  The caller owns the poll
cadence — call ``run`` again to poll again; ``--poll-interval-ms`` is
parsed for ``-DsleepDuration`` parity and not read.  The staleness
monitor is the same pass: stdout carries one ``epoch=…`` line per epoch
so far, then one ``staleness batch=…`` line per epoch this pass
extracted with rows.

Usage:
  python -m cdc_extractor_spark run --sf-dir /root/testdata/sf0.001 \\
      --out /tmp/cdc_run --workers 4 --tables customer,orders
  python -m cdc_extractor_spark query starjoin_revenue_by_region \\
      --sf-dir /root/testdata/sf0.001 --limit 10
  python -m cdc_extractor_spark list
"""

from __future__ import annotations

import argparse
import os
import sys


def _cmd_run(args: argparse.Namespace) -> int:
    from cdc_extractor_spark.session import get_session
    from cdc_extractor_spark.sources.changes import changes_df
    from cdc_extractor_spark.streaming.pipeline import (
        run_cdc_pipeline,
        write_feed_batches,
    )

    spark = get_session(
        app_name="cdc_extractor_spark_run", shuffle_partitions=args.workers
    )
    feed = args.feed or os.path.join(args.out, "feed")
    if not os.path.isdir(feed) or not os.listdir(feed):
        write_feed_batches(
            changes_df(spark, args.sf_dir), feed, args.batches
        )
    tables = tuple(t for t in args.tables.split(",") if t) or None
    extracted: list[dict] = []
    rows = run_cdc_pipeline(
        spark,
        feed,
        args.out,
        timeout_sec=args.run_duration_min * 60,
        tables=tables,
        on_epoch=extracted.append,
    )
    for r in rows:
        print(
            f"epoch={r['epoch_id']} offsets=({r['min_event_id']},"
            f"{r['max_event_id']}] rows={r['n_rows']} txns={r['n_txns']} "
            f"uptodate_ms={r['uptodate_ms']}"
        )
    # an epoch whose batch the table filter empties reports null
    # uptodate (agg over zero rows) — skip it, don't crash on it
    now_ms = max(
        (r["uptodate_ms"] for r in rows if r["uptodate_ms"] is not None),
        default=0,
    )
    for r in extracted:
        if r["n_rows"]:
            print(
                f"staleness batch={r['epoch_id']} rows={r['n_rows']} "
                f"lag_ms={now_ms - r['uptodate_ms']}"
            )
    print(f"extract dir: {os.path.join(args.out, 'extract')}")
    return 0


def _cmd_query(args: argparse.Namespace) -> int:
    from cdc_extractor_spark.queries import QUERIES
    from cdc_extractor_spark.session import get_session

    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    spark = get_session(app_name="cdc_extractor_spark_query")
    QUERIES[args.name](spark, args.sf_dir).show(args.limit, truncate=False)
    return 0


def _cmd_explain(args: argparse.Namespace) -> int:
    from cdc_extractor_spark.queries import QUERIES
    from cdc_extractor_spark.session import get_session

    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    spark = get_session(app_name="cdc_extractor_spark_explain")
    df = QUERIES[args.name](spark, args.sf_dir)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(args.mode)
    print(df._jdf.queryExecution().explainString(mode))
    return 0


def _cmd_list(_args: argparse.Namespace) -> int:
    from cdc_extractor_spark.queries import ORACLES, QUERIES

    for name in QUERIES:
        mark = "oracle" if name in ORACLES else "rows-only"
        print(f"{name}\t{mark}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="cdc_extractor_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("run", help="run the CDC extraction pipeline")
    r.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    r.add_argument("--out", required=True)
    r.add_argument("--feed", default=None, help="existing feed dir (else derived)")
    r.add_argument("--workers", type=int, default=4, help="-DnumberOfThread")
    r.add_argument(
        "--poll-interval-ms",
        type=int,
        default=1000,
        help="-DsleepDuration; not read: each run is one pass, and the "
        "caller owns the poll cadence",
    )
    r.add_argument(
        "--tables", default="customer,orders", help="-Dtables (comma list)"
    )
    r.add_argument(
        "--run-duration-min",
        type=float,
        default=2.0,
        help="-DrunDuration: bound on the pass; no epoch starts after "
        "it, and the next run on the same --out extracts the files left "
        "over, exactly-once",
    )
    r.add_argument("--batches", type=int, default=4, help="feed micro-batches")
    r.set_defaults(fn=_cmd_run)

    q = sub.add_parser("query", help="run a registry query and show rows")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--limit", type=int, default=20)
    q.set_defaults(fn=_cmd_query)

    ex = sub.add_parser(
        "explain", help="print a registry query's physical plan"
    )
    ex.add_argument("name")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ex.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "formatted", "cost", "codegen"],
    )
    ex.set_defaults(fn=_cmd_explain)

    ls = sub.add_parser("list", help="list registered queries")
    ls.set_defaults(fn=_cmd_list)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
