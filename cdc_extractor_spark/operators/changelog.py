"""Group A operators — the dataflow the reference literally executes
(SURVEY.md §2 group A), re-expressed as declarative DataFrame plans.

The fixture ``events`` table stands in for the audit change log
(``audit.logged_actions``): ``event_id`` ≙ monotonic offset, ``ts`` ≙
commit timestamp, ``user_id`` ≙ transaction id, ``event_type`` ≙
table_name/action, ``props`` ≙ row_data (FIXTURES.md).

Determinism conventions for the DuckDB oracle (SURVEY.md §5.2):
- timestamps are surfaced as epoch milliseconds (``unix_millis`` ↔
  DuckDB ``epoch_ms``) — never raw timestamps or wall clock;
- money/value aggregates are computed on integer cents per row, then
  summed (integer math is association-order independent, so Spark's
  partial aggregation order cannot perturb the result);
- ``sort_array(collect_set(...))``, never bare ``collect_set``.

Every function is pure ``DataFrame → DataFrame`` so the same operator
serves batch queries and the streaming epoch bodies
(streaming/pipeline.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..partitioning import quantile_bucket

# Fixed "now" for staleness queries — never wall clock (oracle determinism).
NOW_LIT = "2024-02-01 00:00:00"


def scan_changelog(events: DataFrame) -> DataFrame:
    """A1 — full scan of the change log with timestamps normalized to
    epoch-ms.  Reference: ``select * from audit.logged_actions``
    (WorkerRunnable.java:93-94); connection factory Client.java:51-65.

    Scale: a bare parquet scan; Catalyst prunes columns per consumer, so
    downstream selects drive ``ReadSchema``.
    """
    return events.select(
        "event_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def filter_isin(events: DataFrame, tables: Sequence[str]) -> DataFrame:
    """A2 — monitored-set membership: ``table_name IN (...)``.
    Reference: CoordinatorRunnable.java:35-36, WorkerRunnable.java:93-94,
    sets from Config.java:8-27.

    ``isin`` compiles to an ``In`` predicate pushed to the parquet scan
    (PushedFilters) — the reference shipped the same predicate to
    Postgres by string interpolation; we get it safely and for free.
    """
    return events.filter(F.col("event_type").isin(list(tables))).select(
        "event_id", "event_type", "user_id", "value"
    )


def filter_offset_range(events: DataFrame, lo: int, hi: int) -> DataFrame:
    """A3 — half-open offset range ``event_id ∈ (lo, hi]`` — the
    micro-batch boundary.  Reference: WorkerRunnable.java:93,117-118;
    Task.java:3-8.

    Both comparisons push down to the scan; on a range-partitioned or
    sorted table this prunes row groups via parquet min/max stats.
    """
    return events.filter(
        (F.col("event_id") > F.lit(lo)) & (F.col("event_id") <= F.lit(hi))
    ).select("event_id", "user_id", "event_type", "value")


def agg_max_offset(events: DataFrame) -> DataFrame:
    """A4 — global high-water mark: ``max(event_id)`` (+count for the
    poll-delta decision).  Reference: CoordinatorRunnable.java:35-42,84-94.

    Scale: partial max per partition then a 1-row final agg — no data
    shuffle beyond one long per task.
    """
    return events.agg(
        F.max("event_id").alias("max_event_id"),
        F.count(F.lit(1)).alias("n_events"),
    )


def project_cast_string(events: DataFrame) -> DataFrame:
    """A5 — stringify every column for the text sink.  Reference:
    ``rs.getString(i)`` loop, WorkerRunnable.java:206-207.

    Timestamps and doubles are formatted explicitly (not bare casts) so
    the representation is engine-independent: ms-precision timestamps,
    2-decimal values.
    """
    return events.select(
        F.col("event_id").cast("string").alias("event_id"),
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd HH:mm:ss.SSS").alias(
            "ts_str"
        ),
        F.col("user_id").cast("string").alias("user_id"),
        F.col("event_type").alias("event_type"),
        F.format_string("%.2f", F.col("value")).alias("value_str"),
        F.col("props").alias("props"),
    )


def distinct_keys(events: DataFrame) -> DataFrame:
    """A6 — distinct transaction ids before the expensive lookup.
    Reference: ``HashSet<Long> ids``, WorkerRunnable.java:87,120,130-133.

    ``distinct`` on a single long column is a shuffle of unique values
    only (partial dedup map-side first).
    """
    return events.select("user_id").distinct()


def join_lookup_commit_ts(events: DataFrame, customer: DataFrame) -> DataFrame:
    """A7 — commit-timestamp enrichment as a broadcast equi-join.
    Reference: per-xid scalar queries ``pg_xact_commit_timestamp(xid)``,
    WorkerRunnable.java:133-136 — a degenerate row-at-a-time nested-loop
    join over JDBC.

    Spark-first: dedup the keys (the reference's HashSet, A6) THEN join
    the small lookup side broadcast — N network round-trips become zero
    shuffles.  ``customer`` stands in for the commit-ts relation.
    """
    lookup = customer.select(
        F.col("c_custkey").alias("user_id"), F.col("c_name"), F.col("c_nationkey")
    )
    return (
        events.select("user_id")
        .distinct()
        .join(F.broadcast(lookup), "user_id", "left")
        .select("user_id", "c_name", "c_nationkey")
    )


def group_collect_xids(events: DataFrame) -> DataFrame:
    """A8 — bucket transaction ids by commit timestamp.
    Reference: ``Map<Timestamp, HashSet<Long>>``,
    WorkerRunnable.java:37,137-144.

    Commit-ts is bucketed to the minute (the reference's map keys are
    exact commit timestamps; minute buckets keep the fixture cardinality
    meaningful).  ``sort_array`` makes the set deterministic, and the
    set is emitted as a comma-joined STRING (not array<bigint>) so any
    downstream hash/canonicalize step — including the driver's pandas
    value-hasher, which cannot hash list cells — sees a scalar column.
    Scale: collect_set is bounded by txns-per-minute; skewed minutes are
    split by AQE.  The unbounded in-memory map of the reference
    (bug §2.5) becomes a bounded, spillable hash aggregate.
    """
    return (
        events.groupBy(
            F.unix_millis(F.date_trunc("minute", F.col("ts").cast("timestamp"))).alias(
                "commit_minute_ms"
            )
        )
        .agg(F.sort_array(F.collect_set("user_id")).alias("xid_set"))
        # size of the set, not a second countDistinct aggregate — one
        # aggregation pass instead of two
        .withColumn("n_xids", F.size("xid_set").cast("long"))
        .select(
            "commit_minute_ms",
            F.array_join("xid_set", ",").alias("xids"),
            "n_xids",
        )
    )


def watermark_max_commit_ts(events: DataFrame) -> DataFrame:
    """A9 — freshness watermark: running max commit timestamp.
    Reference: shared static ``uptodate`` with a broken lock,
    WorkerRunnable.java:32,145-150.

    Batch form: one global max.  Streaming form: engine-managed
    ``withWatermark`` (streaming/pipeline.py) — no shared mutable state.
    """
    return events.agg(
        F.unix_millis(F.max(F.col("ts").cast("timestamp"))).alias("uptodate_ms"),
        F.unix_millis(F.min(F.col("ts").cast("timestamp"))).alias("oldest_ms"),
        F.count(F.lit(1)).alias("n_events"),
    )


def window_tumbling_1min(events: DataFrame) -> DataFrame:
    """A11 — per-minute throughput metrics: rows, value sum/avg.
    Reference: 60 s session roll, WorkerRunnable.java:158-179.

    Value math on integer cents (see module docstring) so the hash is
    stable under Spark's partial-agg ordering.
    """
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.groupBy(
            F.window(F.col("ts").cast("timestamp"), "1 minute").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(cents).alias("value_cents"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "n_rows",
            "value_cents",
            # floored integer cents, never round(ratio, 2): half-up vs
            # half-even rounding of binary doubles diverges across engines
            F.floor(F.col("value_cents") / F.col("n_rows")).cast("long").alias(
                "avg_value_cents"
            ),
        )
    )


def staleness_lag(
    events: DataFrame, now_lit: str = NOW_LIT, n_partitions: int = 32
) -> DataFrame:
    """A12 — staleness time series: instantaneous and running-average
    freshness lag against a fixed "now".  Reference:
    QueryRequestRunnable.java:32-52 (10 ms sampling of ``now − uptodate``).

    The reference samples wall clock; a deterministic batch analog
    treats each event as a sample point ordered by ``event_id`` and
    computes ``now − ts`` plus its running mean.

    Scale: a naive ``avg() OVER (ORDER BY event_id)`` funnels the whole
    series through ONE task.  This is the distributed two-pass form
    (same pattern as ``cdc.orderby_commit_ts``): order-aligned value
    buckets over the ``event_id`` domain, per-bucket (count, sum)
    prefix offsets as O(buckets) driver metadata, then the running mean
    inside each bucket is ``(prefix_sum + local running sum) /
    (prefix_count + local running count)`` with the window partitioned
    by bucket — every task scans only its own slice.  The result is
    bucket-boundary-independent because the running mean is a function
    of the total order alone (event_id is unique).  The streaming form
    is the listener's O(1) state (streaming/pipeline.py).
    """
    now_ms = F.unix_millis(F.to_timestamp(F.lit(now_lit)))
    # r14 (guide §5; VERDICT r13 task #5): three actions read this
    # projection (boundaries, bucket prefix sums, final plan) — lazy
    # localCheckpoint, materialized by the first (approxQuantile),
    # deletes two re-scans at zero extra jobs.
    base = events.select(
        "event_id",
        (now_ms - F.unix_millis(F.col("ts").cast("timestamp"))).alias(
            "staleness_ms"
        ),
    ).localCheckpoint(eager=False)
    # quantile (not uniform-span) boundaries: a bursty event_id domain
    # still yields ~equal-population buckets — no hot sort task at scale
    bucket = quantile_bucket(base, "event_id", n_partitions)
    if bucket is None:  # empty series
        return base.withColumn("running_avg_ms", F.lit(None).cast("long"))
    withb = base.select("*", bucket.alias("_b"))
    # avg() NULL semantics: only non-null samples enter numerator AND
    # denominator (count/sum the COLUMN, not lit(1)); a bucket of only
    # null staleness contributes (0, 0) to the prefix, and rows before
    # the first non-null sample get a NULL running mean (x/0 → null),
    # exactly like the ordered-window avg this form replaces.
    stats = {
        r["_b"]: (r["n"], r["s"] or 0)
        for r in withb.groupBy("_b")
        .agg(F.count("staleness_ms").alias("n"), F.sum("staleness_ms").alias("s"))
        .collect()
    }
    offsets, cnt_acc, sum_acc = [], 0, 0
    for b in sorted(stats):
        offsets.append((b, cnt_acc, sum_acc))
        cnt_acc += stats[b][0]
        sum_acc += stats[b][1]
    off_df = F.broadcast(
        events.sparkSession.createDataFrame(
            offsets, "_b int, _cnt_off long, _sum_off long"
        )
    )
    wlocal = (
        Window.partitionBy("_b")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        withb.join(off_df, "_b")
        .withColumn(
            "running_avg_ms",
            F.floor(
                # try_divide: zero non-null samples so far → NULL mean
                # (avg() semantics), not an ANSI divide-by-zero error
                F.try_divide(
                    F.col("_sum_off")
                    + F.coalesce(F.sum("staleness_ms").over(wlocal), F.lit(0)),
                    F.col("_cnt_off") + F.count("staleness_ms").over(wlocal),
                )
            ).cast("long"),
        )
        .select("event_id", "staleness_ms", "running_avg_ms")
    )


def task_latency_stats(events: DataFrame, task_size: int = 100) -> DataFrame:
    """A13 — per-task processing stats.  Reference: per-task timing CSV
    ``(taskCount, ms, threadId)``, WorkerRunnable.java:153-155 +
    CoordinatorRunnable.java:123-130.

    Offsets are bucketed into fixed-size tasks (the coordinator's
    ``(lo, hi]`` ranges); per task we report row count, offset span and
    commit-ts span — the deterministic analogs of the wall-clock timings.
    """
    return (
        events.groupBy(
            (F.floor(F.col("event_id") / F.lit(task_size))).cast("long").alias(
                "task_id"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
            (
                F.unix_millis(F.max(F.col("ts").cast("timestamp")))
                - F.unix_millis(F.min(F.col("ts").cast("timestamp")))
            ).alias("ts_span_ms"),
        )
    )
