"""General analytics operators over the event stream — the remaining
§2-checklist surfaces (ordered-window sessionization, pivot,
bucketed histograms, a vectorized UDAF) that a complete engine offers
on top of the CDC feed.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..partitioning import ntile_from_rank as _ntile_from_rank

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gaps-and-islands sessionization: a new session starts when the
    gap to the user's previous event exceeds ``gap_minutes``.

    Plan shape: one shuffle on user, one per-user ordered window pass
    (lag → boundary flag → running sum).  The streaming twin is
    ``F.session_window``; this batch form exists for the oracle and for
    retrospective backfills.
    """
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("event_id")
    gap_ms = gap_minutes * 60_000
    flagged = events.select(
        "event_id", "user_id", ms.alias("at_ms")
    ).withColumn(
        "new_session",
        F.when(
            (F.col("at_ms") - F.lag("at_ms").over(w)) > gap_ms, F.lit(1)
        ).otherwise(F.lit(0)).cast("long"),
    )
    sessions = flagged.withColumn(
        "session_no",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("at_ms").alias("start_ms"),
            F.max("at_ms").alias("end_ms"),
        )
        .withColumn("duration_ms", F.col("end_ms") - F.col("start_ms"))
    )


def pivot_event_counts(events: DataFrame) -> DataFrame:
    """Pivot: one row per user, one count column per event type.  The
    pivot values are declared (not discovered) so the plan is a single
    aggregation — no extra distinct pass, stable schema at any scale."""
    return (
        events.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )


def value_histogram(events: DataFrame, bucket_width: int = 10) -> DataFrame:
    """Fixed-width histogram of the value column per event type — the
    bucketing primitive behind quality-score distributions.  One hash
    aggregate; bucket id is pure arithmetic (floor), so any engine
    agrees."""
    bucket = F.floor(F.col("value") / bucket_width).cast("long")
    return (
        events.groupBy("event_type", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "bucket",
            (F.col("bucket") * bucket_width).cast("double").alias("bucket_lo"),
            "n",
        )
    )


@F.pandas_udf(T.LongType())
def _weighted_mean_cents(v_cents: pd.Series, w: pd.Series) -> int:
    """Vectorized grouped-agg UDAF kernel: floor(Σvw / Σw) per group in
    exact int64 — Arrow batch in, scalar out.  Integer arithmetic makes
    the result independent of row order, so the oracle hash-matches
    regardless of shuffle placement."""
    denom = int(w.sum())
    return int(v_cents.mul(w).sum()) // denom if denom else 0


@F.pandas_udf(T.LongType())
def _n_rows(v: pd.Series) -> int:
    # Spark disallows mixing grouped-agg pandas UDFs with built-in
    # aggregates in one agg(); the count rides the same Arrow pass
    return len(v)


def udaf_weighted_value(events: DataFrame) -> DataFrame:
    """Weighted mean value (integer cents) per event type, weight =
    1 + user_id % 5 (deterministic from the fixture).  Demonstrates the
    pandas GROUPED_AGG UDAF path: each group's Arrow batches reduce in
    the Python worker, the engine handles the group shuffle."""
    return (
        events.withColumn("w", (F.col("user_id") % 5 + 1))
        .withColumn("v_cents", F.round(F.col("value") * 100).cast("long"))
        .groupBy("event_type")
        .agg(
            _weighted_mean_cents(F.col("v_cents"), F.col("w")).alias(
                "weighted_value_cents"
            ),
            _n_rows(F.col("v_cents")).alias("n_events"),
        )
    )

def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Data-profiling pass: per column — row/non-null/distinct counts
    and lexicographic min/max of the string form.  The standard
    pre-ingestion quality gate of a training-data pipeline (schema
    drift, null explosions, cardinality collapse all surface here).

    Scale: unpivot FIRST (``stack`` into (column_name, value) long
    form), then one grouped aggregate.  A wide agg with one
    countDistinct per column plans as Expand + SortAggregate (the
    distinct groups force sort-based aggregation of N× the input); the
    long form keeps a single countDistinct column, so Catalyst plans
    two-phase *hash* aggregation with map-side partial dedup — the N×
    row amplification is collapsed before the shuffle.  String casts
    are shortest-round-trip, hence injective: distinct counts equal the
    native-type counts.
    """
    stack_args = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in cols)
    pairs = df.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (column_name, value_str)"
    )
    return (
        pairs.groupBy("column_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("value_str").alias("n_nonnull"),
            F.countDistinct("value_str").alias("n_distinct"),
            F.min("value_str").alias("min_str"),
            F.max("value_str").alias("max_str"),
        )
        .select(
            "column_name",
            "n_rows",
            "n_nonnull",
            (F.col("n_rows") - F.col("n_nonnull")).alias("n_nulls"),
            "n_distinct",
            "min_str",
            "max_str",
        )
    )

def two_level_rollup(events: DataFrame) -> DataFrame:
    """Hierarchical (continuous-aggregate) rollup: 1-minute partials
    per event type re-aggregated into 1-hour buckets — the hypertable
    pattern where coarse windows are maintained FROM the fine partials
    rather than rescanning raw data.

    Associative measures only (count→sum, sum→sum, min/max→min/max),
    so partial-of-partial equals direct aggregation — which is exactly
    what the oracle checks (it aggregates raw rows straight to 1 hour).

    Scale: this is the 100 TB maintenance story for A11's metrics —
    the hourly table reads O(minutes) partial rows, not O(events) raw
    rows; both shuffles are on the same (event_type, bucket) key family
    so AQE coalesces the second into a near-no-op."""
    minute = events.groupBy(
        "event_type",
        (F.unix_millis("ts") - F.unix_millis("ts") % 60_000).alias("minute_ms"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )
    return minute.groupBy(
        "event_type",
        (F.col("minute_ms") - F.col("minute_ms") % 3_600_000).alias("hour_ms"),
    ).agg(
        F.sum("n").alias("n_events"),
        F.sum("cents").alias("value_cents"),
        F.min("min_id").alias("min_event_id"),
        F.max("max_id").alias("max_event_id"),
    )


def topk_per_group(part: DataFrame, k: int = 3) -> DataFrame:
    """Per-group top-k (vs the global top-k of
    ``topk_customers_by_revenue``): the k highest-priced parts within
    every brand, ties broken by part key for determinism.

    Scale: Spark plans rank-filter windows as WindowGroupLimit — each
    shuffle partition keeps only its local top-k BEFORE the final
    per-group sort, so the full sort never materializes (plan-asserted
    in tests/test_plans.py)."""
    w = Window.partitionBy("p_brand").orderBy(
        F.col("price_cents").desc(), F.col("p_partkey").asc()
    )
    return (
        part.select(
            "p_partkey",
            "p_brand",
            F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        )
        .withColumn("brand_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("brand_rank") <= k)
    )


def gapfill_hourly_rollup(events: DataFrame) -> DataFrame:
    """Hypertable-style continuous rollup with gap filling: hourly
    per-type buckets over the full observed range — empty buckets
    materialized (zero-filled counts) and the last observed hourly
    value carried forward (``last`` with ignorenulls over an ordered
    frame), the time_bucket_gapfill capability of time-series stores.

    Scale: the dense grid is ``explode(sequence(lo, hi))`` per group —
    generated distributed, never on the driver; its size is
    hours × groups, orders of magnitude below the raw row count, so
    the left join back to the sparse rollup broadcasts the grid side
    or shuffles only bucket keys.  The forward-fill window partitions
    by group — no global sort."""
    bucket_ms = 3_600_000
    bucketed = events.select(
        "event_type",
        (F.unix_millis("ts") / bucket_ms).cast("long").alias("bucket"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    sparse = bucketed.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("cents"),
    )
    bounds = sparse.groupBy("event_type").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence("lo", "hi")).alias("bucket"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(sparse, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce("cents", F.lit(0)).alias("cents"),
            F.last("cents", ignorenulls=True).over(w).alias("ffill_cents"),
        )
    )


def rolling_user_features(events: DataFrame, frame: int = 5) -> DataFrame:
    """Per-key rolling training features over the event stream: for
    every event, the previous value, time since the previous event,
    the rolling mean over the trailing ``frame`` events, and the
    count of prior events — the standard feature-engineering shapes a
    training-data pipeline derives from behavioral logs.

    Scale: ALL windows partition by ``user_id`` — one hash shuffle on
    the key, then each task scans only its users' slices; no global
    ordering anywhere.  Ordering inside a user is (ts, event_id) with
    the unique event_id as tie-break, so the features are
    deterministic and engine-portable.  Reference analog: the
    per-worker running counters of WorkerRunnable.java:114-125 are the
    degenerate single-key form of exactly these running aggregates."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-(frame - 1), 0)
    cents = F.round(F.col("value") * 100).cast("long")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    return events.select(
        "event_id",
        "user_id",
        cents.alias("value_cents"),
        F.lag(cents).over(w).alias("prev_value_cents"),
        (ms - F.lag(ms).over(w)).alias("ms_since_prev"),
        F.floor(
            F.sum(cents).over(wf).cast("double") / F.count(F.lit(1)).over(wf)
        ).cast("long").alias(f"roll{frame}_avg_cents"),
        (F.row_number().over(w) - 1).cast("long").alias("n_prior"),
    )


def iqr_outlier_fences(events: DataFrame) -> DataFrame:
    """Tukey-fence outlier flagging + winsorization per event type:
    fences at q25 − 1.5·IQR / q75 + 1.5·IQR, every event flagged and
    clipped — the standard numeric-feature hygiene pass before
    training.  Quartiles are DYADIC fractions only (the
    percentile_cont_quartiles determinism rule: 0.25/0.75 interpolate
    exactly in double on integer cents, arbitrary fractions do not),
    and the fence arithmetic is written with the same association on
    both engines, so the doubles are bit-identical with no rounding
    hedge.

    Scale: one aggregate for the per-type quartiles (handful of rows,
    broadcast), one broadcast join back over the feed — the big side
    is never shuffled."""
    cents = F.round(F.col("value") * 100).cast("long")
    base = events.select("event_id", "event_type", cents.alias("value_cents"))
    q = F.expr("percentile(value_cents, array(0.25D, 0.75D))")
    fences = (
        base.groupBy("event_type")
        .agg(q.alias("qs"))
        .select(
            "event_type",
            (F.col("qs").getItem(0)
             - 1.5 * (F.col("qs").getItem(1) - F.col("qs").getItem(0))
             ).alias("lo"),
            (F.col("qs").getItem(1)
             + 1.5 * (F.col("qs").getItem(1) - F.col("qs").getItem(0))
             ).alias("hi"),
        )
    )
    j = base.join(F.broadcast(fences), "event_type")
    return j.select(
        "event_id",
        "event_type",
        "value_cents",
        ((F.col("value_cents") < F.col("lo"))
         | (F.col("value_cents") > F.col("hi"))).alias("is_outlier"),
        F.when(F.col("value_cents") < F.col("lo"), F.col("lo"))
        .when(F.col("value_cents") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value_cents").cast("double"))
        .alias("clipped_cents"),
    )


def funnel_steps(
    events: DataFrame,
    steps: tuple[str, str, str] = ("view", "click", "purchase"),
) -> DataFrame:
    """Ordered-funnel analysis: per user, the first time each funnel
    step was reached AT OR AFTER the previous step (view → click →
    purchase), plus the number of steps completed — the standard
    conversion query over a behavioral event stream (the reference's
    change feed interleaves exactly such per-entity action sequences,
    SURVEY.md §1.2 `action` col 14).

    Plan shape (scale): NO ordered windows — each step is one hash
    aggregate on ``user_id`` over a type-filtered slice (the
    ``event_type`` predicate reaches the scan) followed by an equi-join
    on ``user_id``; users without the prior step drop out of the join,
    so later steps aggregate ever-smaller slices.  At 100 TB this is
    three shuffles of per-user minima, never a per-user sort — the
    min-at-or-after semantics make the funnel monotone, so partial
    aggregation (map-side combine) applies at every step.
    """
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    e = events.select("user_id", "event_type", ms.alias("at_ms"))
    s1 = (
        e.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("at_ms").alias("step1_ms"))
    )
    s2 = (
        e.filter(F.col("event_type") == steps[1])
        .join(s1, "user_id")
        .filter(F.col("at_ms") >= F.col("step1_ms"))
        .groupBy("user_id")
        .agg(F.min("at_ms").alias("step2_ms"))
    )
    s3 = (
        e.filter(F.col("event_type") == steps[2])
        .join(s2, "user_id")
        .filter(F.col("at_ms") >= F.col("step2_ms"))
        .groupBy("user_id")
        .agg(F.min("at_ms").alias("step3_ms"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "step1_ms",
            "step2_ms",
            "step3_ms",
            (
                F.lit(1)
                + F.col("step2_ms").isNotNull().cast("int")
                + F.col("step3_ms").isNotNull().cast("int")
            ).cast("long").alias("steps_completed"),
        )
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort-retention matrix: users are cohorted by the epoch
    week of their FIRST event; each (cohort_week, week_offset) cell
    counts the cohort's users active that many weeks later, next to the
    cohort's size — the retention report every behavioral warehouse
    derives, kept integral (counts, not ratios) for exact cross-engine
    hashing.

    Epoch week = floor(epoch_ms / 604800000): a pure integer function
    of the timestamp, identical in any engine — no session-zone or
    week-start dialect involved.

    Plan shape (scale): one hash aggregate for first-event minima, one
    equi-join back on ``user_id`` (the only shuffle of the full feed),
    then a two-key count-distinct whose output is O(weeks²) regardless
    of input size; cohort sizes join back broadcast.
    """
    wk = 604_800_000
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    e = events.select("user_id", ms.alias("at_ms"))
    first = e.groupBy("user_id").agg(F.min("at_ms").alias("first_ms"))
    # integer DIV (epoch weeks), immune to double-division boundary
    # rounding: floor(at_ms / wk) as a DOUBLE op can disagree with the
    # oracle's integer // when at_ms sits on an exact week multiple
    joined = e.join(first, "user_id").select(
        "user_id",
        F.expr(f"first_ms DIV {wk}").cast("long").alias("cohort_week"),
        F.expr(f"at_ms DIV {wk} - first_ms DIV {wk}")
        .cast("long").alias("week_offset"),
    )
    cells = joined.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    sizes = (
        joined.filter(F.col("week_offset") == 0)
        .groupBy("cohort_week")
        .agg(F.countDistinct("user_id").alias("n_cohort"))
    )
    return cells.join(F.broadcast(sizes), "cohort_week")


def activity_streaks(events: DataFrame) -> DataFrame:
    """Gaps-and-islands over the activity calendar: per user, runs of
    CONSECUTIVE active epoch-weeks (distinct weeks with >= 1 event),
    reduced to streak statistics — longest streak, streak count,
    active-week count, latest active week.  The engagement-streak
    report every behavioral warehouse derives; the reference's change
    feed carries exactly such per-entity activity sequences
    (SURVEY.md §1.2).

    The island id is the classic ``week - row_number`` trick: within a
    user, consecutive weeks share ``week - rn``, so one ordered window
    plus two hash aggregates produce every streak.  Epoch week =
    floor(epoch_ms / 604800000) — pure integer, engine-portable.

    Plan shape (scale): the window partitions by ``user_id`` and
    orders only each user's DISTINCT weeks — bounded by the calendar
    (52/user/year), never by event volume; the heavy reduction
    (events → distinct user-weeks) happens first in one hash
    aggregate with map-side combine.  No global sort anywhere.
    """
    wk = 604_800_000
    # integer DIV (epoch weeks), immune to double-division boundary
    # rounding — same discipline as pareto_frontier_orders
    week = F.expr(
        f"unix_millis(cast(ts as timestamp)) DIV {wk}"
    ).cast("long")
    weeks = events.select("user_id", week.alias("week")).distinct()
    w = Window.partitionBy("user_id").orderBy("week")
    islands = weeks.withColumn(
        "island", F.col("week") - F.row_number().over(w)
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"), F.max("week").alias("last_week")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").alias("n_active_weeks"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest_streak"),
        F.max("last_week").alias("latest_week"),
    )


def copurchase_pairs(
    lineitem: DataFrame,
    min_orders: int = 2,
    top_n: int = 100,
    max_basket: int = 50,
) -> DataFrame:
    """Market-basket pair mining: part pairs that co-occur in the same
    order, counted across orders — the support-counting step of
    frequent-itemset mining (the first pass of Apriori / FP-growth).
    Top ``top_n`` pairs by support with full deterministic tie-break
    (count desc, part1 asc, part2 asc).

    Pair generation explodes ordered combinations of each order's
    sorted distinct basket array (graph.order_baskets/basket_pairs —
    optimization r13: one order-keyed exchange + one pair aggregate,
    replacing the distinct + cap semi-join + self-equi-join form; 1.7x
    at sf0.1 with the identical pair multiset, OPTIMIZATION_r13.md §3),
    then a hash aggregate on the pair.

    Plan shape (scale): the explode fan-out is quadratic in BASKET
    size, not corpus size — TPC-H baskets are ~4-7 items, so ~6-21
    pairs per order.  A pathological mega-basket is the skew risk (one
    100k-item basket = 5 G pairs from one row), so the cap is
    ENFORCED, not advisory: baskets over ``max_basket`` distinct items
    are dropped before pairing (the standard production mitigation — a
    wholesale order carries no affinity signal anyway).  The cap is a
    ``size()`` filter on the aggregated basket row, and the oracle
    applies the identical rule, so the mitigation itself is
    hash-verified.  The final top-n is a TakeOrdered (no global sort
    materialization).
    """
    from .graph import basket_pairs, order_baskets

    pairs = basket_pairs(order_baskets(lineitem, max_basket=max_basket))
    counts = pairs.groupBy("part1", "part2").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return (
        counts.filter(F.col("n_orders") >= min_orders)
        .orderBy(
            F.col("n_orders").desc(),
            F.col("part1").asc(),
            F.col("part2").asc(),
        )
        .limit(top_n)
    )


def pareto_frontier_orders(orders: DataFrame) -> DataFrame:
    """Skyline (Pareto-frontier) operator: orders not STRICTLY
    dominated on (earlier ``o_orderdate``, cheaper ``o_totalprice``) —
    an order is dominated iff some other order has a strictly earlier
    date AND a strictly lower price.  The classic multi-criteria
    "skyline" query (Börzsönyi et al., ICDE 2001), absent from SQL
    engines as a primitive; here it reduces to ONE running-minimum
    predicate because with two criteria, strict dominance is exactly
    "the minimum price over strictly-earlier dates undercuts mine".

    Prices compare in integer cents (round-half-up via +0.5 floor is
    not needed: ``F.round`` half-even vs DuckDB matches on the *100
    grid the generator uses — same convention as every revenue query).

    Plan shape (scale): a range-frame window ordered by date computes
    the strictly-preceding running min.  A single global time order is
    the textbook formulation; the distributed form is the repo's
    bucketed two-pass prefix pattern (per-bucket min + broadcast
    prefix mins — partitioning.quantile_bucket), worth switching to
    when the frontier input cannot pre-aggregate.  Here the input IS
    pre-aggregated: the per-date min price (one hash aggregate,
    map-side combine) is all later dates ever need, so the window runs
    over |distinct dates| rows (~2.4k for TPC-H's 7-year calendar at
    ANY scale factor), then broadcast-joins back to the full order
    set.  The frontier predicate itself prunes to a handful of rows.
    """
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # integer DIV, not floor(double division): epoch values near an
    # exact day multiple must not depend on float rounding
    days = F.expr(
        "unix_millis(cast(o_orderdate as timestamp)) DIV 86400000"
    ).cast("long")
    base = orders.select(
        "o_orderkey",
        days.alias("order_day"),
        cents.alias("price_cents"),
    )
    per_day = base.groupBy("order_day").agg(
        F.min("price_cents").alias("day_min")
    )
    w = (
        Window.orderBy("order_day")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    prior = per_day.select(
        "order_day", F.min("day_min").over(w).alias("prior_min")
    )
    return (
        base.join(F.broadcast(prior), "order_day")
        .filter(
            F.col("prior_min").isNull()
            | (F.col("prior_min") >= F.col("price_cents"))
        )
        .select("o_orderkey", "order_day", "price_cents")
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix of the event stream: for
    each (event_type -> next event_type) pair within a user's ordered
    stream, the transition count and its row-share in integer basis
    points — the empirical transition-probability estimate behavioral
    models start from.

    ``event_id`` is the within-user order (the reference feed's total
    order per entity); ``lead`` over that order pairs each event with
    its successor.

    Plan shape (scale): one shuffle on ``user_id`` for the ordered
    window (per-user state only — no global sort), then a hash
    aggregate on the (from, to) pair whose reduce side is
    |event types|² groups regardless of input size; the row-share
    normalization is a window over those few groups.  Integer DIV
    keeps shares hash-portable.
    """
    w = Window.partitionBy("user_id").orderBy("event_id")
    t = (
        events.select("user_id", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    counts = t.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    return counts.select(
        "event_type",
        "next_type",
        "n_transitions",
        F.expr(
            "n_transitions * 10000 DIV sum(n_transitions) "
            "OVER (PARTITION BY event_type)"
        ).cast("long").alias("share_bp"),
    )


def attribution_last_touch(events: DataFrame) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the most
    recent PRECEDING non-purchase event type in the user's ordered
    stream (ignore-nulls last_value over an unbounded-to-previous-row
    frame); purchases with no prior touch credit 'none'.  Output is
    the per-touch-type purchase count — the canonical marketing
    attribution rollup.

    Plan shape (scale): one shuffle on ``user_id``, one ordered window
    carrying a single string of running state, then a tiny hash
    aggregate (|event types| groups).  The ignore-nulls last_value is
    whole-stage-codegen'd JVM — no Python, no self-join (the naive
    formulation is an as-of self-join per purchase; the window form
    streams each user once).
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        events.select("user_id", "event_id", "event_type")
        .withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("none")).alias("touch_type"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )


def target_encode(events: DataFrame, m: int = 10) -> DataFrame:
    """m-estimate target encoding: each category (event_type) maps to
    the smoothed mean of the target (value, integer cents) —
    ``(sum + m * global_mean) / (n + m)`` — the standard leakage-
    controlled categorical feature for tabular models; smoothing pulls
    rare categories toward the global mean.

    All arithmetic is integer (cents + DIV), so the encoding is
    hash-portable cross-engine.

    Plan shape (scale): ONE hash aggregate over the feed (map-side
    combine) produces the per-category sums; the global mean derives
    from those few rows with an unpartitioned window over |categories|
    rows — never over the input.  At 100 TB this is a single shuffle
    of per-category partials.
    """
    cents = F.round(F.col("value") * 100).cast("long")
    per_cat = events.select("event_type", cents.alias("c")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("c").alias("sum_cents"),
    )
    return per_cat.select(
        "event_type",
        "n_events",
        "sum_cents",
        F.expr(
            f"(sum_cents + {m} * (sum(sum_cents) OVER () "
            f"DIV sum(n_events) OVER ())) DIV (n_events + {m})"
        ).cast("long").alias("enc_cents"),
    )


def interpolate_missing_hourly(events: DataFrame) -> DataFrame:
    """Time-series linear interpolation: the hourly value series per
    event type, with MISSING hours filled by integer linear
    interpolation between the surrounding known points —
    ``prev + (next-prev)·(t-t0) DIV (t1-t0)`` — the gap-repair step
    between gap-filling (gapfill_hourly_rollup: zero/forward fill)
    and model-ready continuous features.  Integer DIV keeps every
    interpolated value exactly reproducible cross-engine.

    Plan shape (scale): the dense grid explodes per type from the
    min/max hour (calendar-bounded), left-joins the sparse aggregate,
    and two ignore-nulls windows (last-known-before, first-known-
    after) carry four longs of running state per type.  Windows
    partition by event_type — no global sort; the grid is O(types ×
    hours), independent of event volume.
    """
    hour = F.expr("unix_millis(cast(ts as timestamp)) DIV 3600000")
    cents = F.round(F.col("value") * 100).cast("long")
    sparse = events.select(
        "event_type", hour.alias("bucket"), cents.alias("c")
    ).groupBy("event_type", "bucket").agg(F.sum("c").alias("cents"))
    grid = (
        sparse.groupBy("event_type")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi")).alias("bucket"),
        )
    )
    joined = grid.join(sparse, ["event_type", "bucket"], "left")
    back = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    known_b = F.when(F.col("cents").isNotNull(), F.col("bucket"))
    filled = joined.select(
        "event_type",
        "bucket",
        "cents",
        F.last(known_b, ignorenulls=True).over(back).alias("pb"),
        F.last("cents", ignorenulls=True).over(back).alias("pc"),
        F.first(known_b, ignorenulls=True).over(fwd).alias("nb"),
        F.first("cents", ignorenulls=True).over(fwd).alias("nc"),
    )
    interp = F.expr("pc + ((nc - pc) * (bucket - pb)) DIV (nb - pb)")
    return filled.select(
        "event_type",
        "bucket",
        F.when(F.col("cents").isNotNull(), F.col("cents"))
        .otherwise(interp)
        .cast("long")
        .alias("cents"),
        F.col("cents").isNull().cast("long").alias("is_interpolated"),
    )


def feature_quantile_bins(events: DataFrame, n_bins: int = 10) -> DataFrame:
    """Equal-frequency (quantile) feature binning per category: each
    event's value lands in one of ``n_bins`` per-type deciles (ntile
    over a deterministic total order — value cents, event_id
    tie-break), reduced to the per-bin manifest (count, min/max cents)
    a feature store publishes for downstream bucketized features.

    Plan shape (scale, VERDICT r5 task #2): ``events`` has ~5 distinct
    types, so a per-type ordered window still sorts ~n/5 of the table
    in ONE task at 100× — the same funnel the RFM rewrite removed.
    The exact rank now comes from partitioning.bucketed_global_rank
    with partition_cols=[event_type]: value-pure quantile buckets, one
    shared boundary pass, per-(type, bucket) windows (largest sort task
    ≈ 1/n_buckets of a type), no Exchange SinglePartition
    (plan-asserted in test_plans.py).  The tile is ntile's exact
    closed form over (rank, per-type N) — ntile_from_rank_cols, the
    columnar twin of the RFM tile arithmetic — bit-identical to the
    per-type ntile the DuckDB oracle still computes.  The manifest
    aggregate is |types × bins| groups.
    """
    from ..partitioning import bucketed_global_rank, ntile_from_rank_cols

    cents = F.round(F.col("value") * 100).cast("long")
    # r14 (guide §5; VERDICT r13 task #5): lazy localCheckpoint — the
    # helper's boundary/count actions plus the final plan read this
    # projection three times; the first action materializes the blocks
    # at zero extra jobs, deleting two event-table re-scans.
    base = events.select(
        "event_type", "event_id", cents.alias("c")
    ).localCheckpoint(eager=False)
    totals: dict[tuple, int] = {}
    ranked = bucketed_global_rank(
        base,
        "c",
        ["event_id"],
        out="_rk",
        partition_cols=["event_type"],
        totals_out=totals,
    )
    # per-type N as a broadcast join (types are few; eqNullSafe keeps a
    # hypothetical NULL type group rather than dropping it)
    spark = events.sparkSession
    tot_df = F.broadcast(
        spark.createDataFrame(
            [(k[0], v) for k, v in totals.items()],
            schema="_tt string, _tn long",
        )
    )
    binned = ranked.join(
        tot_df, F.col("event_type").eqNullSafe(F.col("_tt"))
    ).withColumn("bin", ntile_from_rank_cols("_rk", "_tn", n_bins))
    return binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("c").alias("lo_cents"),
        F.max("c").alias("hi_cents"),
    )


def colstats_cross_moments(lineitem: DataFrame) -> DataFrame:
    """ANALYZE-style cross-moment publication: for every ordered pair
    of lineitem measures (quantity, extendedprice, discount, tax — all
    integer cents), the sufficient statistics (n, Σx, Σy, Σxy) a
    cost-based optimizer or drift monitor derives covariance and
    correlation from.  Publishing the raw sums (not the combined
    ``n·Σxy − Σx·Σy``) keeps every value inside int64 — the combined
    numerator overflows at this scale and engines promote differently
    (DuckDB→HUGEINT), which would break hash parity.

    Plan shape (scale): ONE full-scan hash aggregate (map-side
    combine) producing a single row of 14 sums; the pair table is a
    driver-side ``stack`` over that row — O(1) regardless of input.
    """
    q = F.round(F.col("l_quantity") * 100).cast("long")
    p = F.round(F.col("l_extendedprice") * 100).cast("long")
    d = F.round(F.col("l_discount") * 100).cast("long")
    t = F.round(F.col("l_tax") * 100).cast("long")
    cols = {"quantity": q, "extendedprice": p, "discount": d, "tax": t}
    names = list(cols)
    aggs = [F.count(F.lit(1)).alias("n")]
    for nm, c in cols.items():
        aggs.append(F.sum(c).alias(f"s_{nm}"))
    pairs = [
        (a, b) for i, a in enumerate(names) for b in names[i + 1 :]
    ]
    for a, b in pairs:
        aggs.append(F.sum(cols[a] * cols[b]).alias(f"s_{a}_{b}"))
    one = lineitem.agg(*aggs)
    stack_args = ", ".join(
        f"'{a}', '{b}', n, s_{a}, s_{b}, s_{a}_{b}" for a, b in pairs
    )
    return one.selectExpr(
        f"stack({len(pairs)}, {stack_args}) AS "
        "(x_col, y_col, n, sum_x, sum_y, sum_xy)"
    )


# Benford expected first-digit shares, floor(log10(1+1/d)*10000) —
# integer literals so both engines agree bit-for-bit.
BENFORD_BP = (3010, 1760, 1249, 969, 791, 669, 579, 511, 457)


def benford_digit_audit(orders: DataFrame) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-data screen: observed share of each leading digit in
    basis points next to the Benford expectation, deviation signed.
    (TPC-H prices are uniform-ish, so the fixture FAILS Benford —
    which is the point of an audit column.)

    Plan shape (scale): leading digit is string arithmetic on the
    integer cents (no float log), one 9-group hash aggregate with
    map-side combine, shares via DIV over a window on 9 rows.
    """
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("long")
    counts = (
        orders.select(digit.alias("digit"))
        .filter(F.col("digit") >= 1)
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    expected = F.element_at(
        F.array(*[F.lit(v).cast("long") for v in BENFORD_BP]),
        F.col("digit").cast("int"),
    )
    return counts.select(
        "digit",
        "n",
        F.expr("n * 10000 DIV sum(n) OVER ()").cast("long").alias("share_bp"),
        expected.alias("expected_bp"),
        (
            F.expr("n * 10000 DIV sum(n) OVER ()") - expected
        ).cast("long").alias("dev_bp"),
    )


def session_path_trigrams(events: DataFrame, top_n: int = 20) -> DataFrame:
    """Path mining: the most frequent 3-step event-type paths in
    per-user ordered streams (order-2 extension of the transition
    matrix — the input to clickstream pattern analysis and next-step
    prediction).  Top ``top_n`` with deterministic tie-break.

    Plan shape (scale): one shuffle on ``user_id``, one window pass
    computing two leads, a hash aggregate bounded by |types|³ groups,
    and a TakeOrdered top-n.
    """
    w = Window.partitionBy("user_id").orderBy("event_id")
    t = (
        events.select("user_id", "event_id", "event_type")
        .withColumn("step2", F.lead("event_type", 1).over(w))
        .withColumn("step3", F.lead("event_type", 2).over(w))
        .filter(F.col("step3").isNotNull())
    )
    return (
        t.groupBy(
            F.col("event_type").alias("step1"), "step2", "step3"
        )
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(
            F.col("n_paths").desc(),
            F.col("step1").asc(),
            F.col("step2").asc(),
            F.col("step3").asc(),
        )
        .limit(top_n)
    )


def dau_wau_stickiness(events: DataFrame) -> DataFrame:
    """DAU / WAU engagement report: per epoch-day, the daily active
    users, the trailing-7-day active users, and the stickiness ratio
    (DAU·10000 DIV WAU) — the standard product-health metric whose
    hard part is a SLIDING DISTINCT count (distinct counts cannot be
    summed across days).

    The sliding distinct materializes exactly: the distinct
    (user, day) activity set expands 7× (one row per window the day
    contributes to) and de-duplicates per (user, window-day) — cost
    O(7·|user-days|), independent of raw event volume, with map-side
    combine on both aggregates.  Only report days with an actual DAU
    (window days seeded purely by the expansion are clipped).

    At 100 TB: the (user, day) reduction is the volume killer —
    everything after it is calendar-bounded × users.  The 7× constant
    is the window length; a 30-day MAU would use the same shape or an
    HLL-sketch union (sketch_mergeable_hll) when exactness is
    negotiable.
    """
    day = F.expr("unix_millis(cast(ts as timestamp)) DIV 86400000")
    ud = events.select("user_id", day.alias("day")).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    expanded = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + 6)
        ).alias("wday"),
    ).distinct()
    wau = expanded.groupBy(F.col("wday").alias("day")).agg(
        F.count(F.lit(1)).alias("wau")
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.expr("dau * 10000 DIV wau").cast("long").alias("stickiness_bp"),
        )
    )


def attribution_linear(events: DataFrame) -> DataFrame:
    """Linear (multi-touch) attribution: each purchase splits 10000
    basis points of credit EQUALLY across every touch since the user's
    previous purchase; the integer remainder goes to the earliest
    touches (one extra bp each), so total credit is conserved exactly
    — the equal-weight counterpart of last-touch attribution, and the
    first Shapley-style step every marketing mix starts from.

    Segmentation is pure window arithmetic: a running purchase count
    assigns every touch to the purchase segment it precedes; segment
    size and in-segment order come from one more window on the same
    (user, segment) partitioning.

    Plan shape (scale): one shuffle on ``user_id`` (running count),
    one on (user, segment) — both per-key ordered state, no global
    sort; the credit aggregate is |types| groups.  Credit is integer
    bp (DIV + remainder), so conservation is exact and the output
    hash-portable.
    """
    w = Window.partitionBy("user_id").orderBy("event_id")
    # touches BEFORE a purchase share its segment id: count purchases
    # strictly before me
    seg = F.sum(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, -1))
    tagged = events.select(
        "user_id", "event_id", "event_type"
    ).withColumn("seg", F.coalesce(seg, F.lit(0)))
    touches = tagged.filter(F.col("event_type") != "purchase")
    purchases = tagged.filter(F.col("event_type") == "purchase").select(
        "user_id", "seg"
    )
    ws = Window.partitionBy("user_id", "seg").orderBy("event_id")
    sized = touches.withColumn("pos", F.row_number().over(ws)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("user_id", "seg"))
    )
    credited = sized.join(purchases, ["user_id", "seg"]).select(
        "event_type",
        (
            F.expr("10000 DIV n")
            + (F.col("pos") <= F.expr("10000 % n")).cast("long")
        ).alias("credit_bp"),
    )
    return credited.groupBy(F.col("event_type").alias("touch_type")).agg(
        F.count(F.lit(1)).alias("n_credited_touches"),
        F.sum("credit_bp").alias("credit_bp"),
    )


def funnel_time_to_convert(events: DataFrame) -> DataFrame:
    """Conversion-latency distribution for the completed view→click→
    purchase funnel: count, min, exact MEDIAN (order statistic at
    (n+1) DIV 2 — no interpolation, engine-portable) and max of the
    view-to-purchase time in milliseconds.

    Plan shape (scale): reuses the funnel aggregates (three hash aggs
    + joins), then selects the order statistic over the CONVERTED
    users' latencies with the bucketed two-pass rank
    (partitioning.bucketed_global_rank) — converted-users-sized but
    never a single-task global sort (VERDICT r4 #3; plan-asserted:
    every window partitions on the rank bucket).  The latency frame is
    localCheckpointed once so the count / boundary / bucket-count /
    final passes don't each re-run the three funnel aggregates.
    """
    f = funnel_steps(events).filter(F.col("step3_ms").isNotNull())
    # r14: lazy — the rank helper's boundary action materializes the
    # latency blocks, deleting the dedicated checkpoint job (VERDICT
    # r13 task #5); the three funnel aggregates still run exactly once.
    lat = (
        f.select((F.col("step3_ms") - F.col("step1_ms")).alias("ms"))
        .localCheckpoint(eager=False)
    )
    from ..partitioning import bucketed_global_rank

    totals: dict[tuple, int] = {}
    ranked = bucketed_global_rank(lat, "ms", [], out="rn", totals_out=totals)
    n = totals.get((), 0)
    return (
        ranked.filter(F.col("rn") == F.lit((n + 1) // 2))
        .select(
            F.lit(n).cast("long").alias("n_converted"),
            F.col("ms").alias("median_ms"),
        )
        .crossJoin(
            lat.agg(
                F.min("ms").alias("min_ms"), F.max("ms").alias("max_ms")
            )
        )
        .select("n_converted", "min_ms", "median_ms", "max_ms")
    )


def copurchase_rules(
    lineitem: DataFrame,
    min_orders: int = 2,
    top_n: int = 50,
    max_basket: int = 50,
) -> DataFrame:
    """Association-rule metrics for the top co-purchase pairs —
    support, both confidences, and lift, all in integer basis points:
    the actual Apriori output (copurchase_pairs is its support pass).
    ``lift_bp = n_ab · N · 10000 DIV (n_a · n_b)`` stays in int64 at
    any realistic scale (n_ab ≤ N, counts ≤ N).

    Plan shape (scale): the capped basket relation
    (graph.order_baskets — one order-keyed exchange, reused by all
    three consumers below via ReusedExchange) feeds the pair-support
    explode (optimization r13, the copurchase_pairs rewrite), one
    item-count aggregate (broadcast back onto the top pairs — item
    counts are |parts|-sized but only the pairs' rows join), and a
    1-row N scalar read off the basket relation with no extra
    exchange.  The top-n cut happens BEFORE the metric joins, so the
    joins run over n rows.
    """
    from .graph import basket_pairs, order_baskets

    baskets = order_baskets(lineitem, max_basket=max_basket)
    pairs = (
        basket_pairs(baskets)
        .groupBy("part1", "part2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_orders)
        .orderBy(
            F.col("n_ab").desc(), F.col("part1").asc(), F.col("part2").asc()
        )
        .limit(top_n)
    )
    items = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders_total"))
    return (
        pairs.join(
            F.broadcast(items.select(F.col("l_partkey").alias("part1"),
                                     F.col("cnt").alias("n_a"))), "part1"
        )
        .join(
            F.broadcast(items.select(F.col("l_partkey").alias("part2"),
                                     F.col("cnt").alias("n_b"))), "part2"
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part1",
            "part2",
            "n_ab",
            F.expr("n_ab * 10000 DIV n_a").cast("long").alias("conf_ab_bp"),
            F.expr("n_ab * 10000 DIV n_b").cast("long").alias("conf_ba_bp"),
            F.expr("n_ab * n_orders_total * 10000 DIV (n_a * n_b)")
            .cast("long")
            .alias("lift_bp"),
        )
    )


def rfm_segments(orders: DataFrame, n_tiles: int = 5) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    the classic marketing-warehouse operator: per customer, last order
    day, order count and lifetime cents, each scored into quintiles
    (5 = best), combined into the three-digit RFM code.

    Determinism: every tile orders by (metric, custkey) — a total
    order, so quintile membership is engine-portable rank arithmetic.

    Plan shape (scale): the heavy reduction is the per-customer
    aggregate (one shuffle, map-side combine; localCheckpointed once).
    Tiles come from EXACT global ranks via
    partitioning.bucketed_global_ranks — all three metrics in one
    multi-column boundary pass + one grouping-sets bucket-count pass +
    bucket-partitioned windows, so no Exchange SinglePartition funnels
    the customer grain through one sort task (plan-asserted); tiles
    are ntile's exact closed form over the rank (first ``N mod n``
    tiles take the extra row — _ntile_from_rank), bit-identical to the
    global ntile the DuckDB oracle still computes.
    """
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    day = F.expr(
        "unix_millis(cast(o_orderdate as timestamp)) DIV 86400000"
    )
    per_cust = orders.select(
        "o_custkey", day.alias("d"), cents.alias("c")
    ).groupBy("o_custkey").agg(
        F.max("d").alias("last_day"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("c").alias("lifetime_cents"),
    )
    from ..partitioning import bucketed_global_ranks

    # Pin the customer-grain aggregate once (two actions read it: the
    # multi-column boundary pass and the grouping-sets bucket counts),
    # then rank all three metrics in ONE fixed-job pass; N for the
    # tile arithmetic falls out of the bucket counts for free.
    # r14: lazy — the boundary action materializes the blocks, so the
    # dedicated checkpoint job is deleted (VERDICT r13 task #5).
    per_cust = per_cust.localCheckpoint(eager=False)
    totals: dict[str, int] = {}
    ranked = bucketed_global_ranks(
        per_cust,
        ["last_day", "n_orders", "lifetime_cents"],
        ["o_custkey"],
        totals_out=totals,
    )
    total = totals.get("last_day", 0)

    def tile(rk: str):
        return _ntile_from_rank(rk, n_tiles, total)

    return ranked.select(
        "o_custkey",
        "last_day",
        "n_orders",
        "lifetime_cents",
        tile("_rk_last_day").alias("r_score"),
        tile("_rk_n_orders").alias("f_score"),
        tile("_rk_lifetime_cents").alias("m_score"),
    ).withColumn(
        "rfm_code",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).cast("long"),
    )


def weekly_trend_slopes(events: DataFrame) -> DataFrame:
    """Exact integer least-squares trend per event type: the OLS slope
    of weekly value totals over week index, published as the exact
    integer numerator/denominator (n·Σxy − Σx·Σy, n·Σx² − (Σx)²) plus
    a milli-cents-per-week quotient — trend detection with NO floats,
    so the regression itself is hash-verifiable cross-engine.

    x is the week offset from each type's first week (small integers),
    y the weekly cents total; with |weeks| in the thousands and weekly
    sums under ~1e12 the cross terms stay far inside int64 (the
    int64-safety reasoning of colstats_cross_moments applies — publish
    sums, combine small).

    Plan shape (scale): events reduce to (type, week) totals in one
    hash aggregate (map-side combine); the regression aggregates
    |weeks| rows per type — calendar-bounded, never event-volume.
    """
    wk = F.expr("unix_millis(cast(ts as timestamp)) DIV 604800000")
    cents = F.round(F.col("value") * 100).cast("long")
    weekly = events.select(
        "event_type", wk.alias("week"), cents.alias("c")
    ).groupBy("event_type", "week").agg(F.sum("c").alias("y"))
    based = weekly.withColumn(
        "x",
        F.col("week")
        - F.min("week").over(Window.partitionBy("event_type")),
    )
    stats = based.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.expr("n * sxy - sx * sy")
    den = F.expr("n * sxx - sx * sx")
    return stats.select(
        "event_type",
        "n",
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
        F.when(den > 0, F.expr("(n * sxy - sx * sy) * 1000 DIV (n * sxx - sx * sx)"))
        .otherwise(F.lit(0)).cast("long").alias("slope_milli_per_week"),
    )


def interpurchase_gaps(orders: DataFrame) -> DataFrame:
    """Inter-purchase time distribution: the gap in days between a
    customer's consecutive orders, bucketed into weeks — the input to
    churn prediction and replenishment models (a customer overdue
    relative to this distribution is churning).

    Plan shape (scale): per-customer lag over (day, orderkey) ordered
    rows (one shuffle on the customer key, per-key state), then a hash
    aggregate over calendar-bounded gap buckets.  Pure integer
    arithmetic throughout.
    """
    day = F.expr(
        "unix_millis(cast(o_orderdate as timestamp)) DIV 86400000"
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    gaps = (
        orders.select("o_custkey", "o_orderkey", day.alias("d"))
        .withColumn("gap_days", F.col("d") - F.lag("d").over(w))
        .filter(F.col("gap_days").isNotNull())
    )
    return (
        gaps.groupBy(
            F.expr("gap_days DIV 7").cast("long").alias("gap_week_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_days").alias("min_days"),
            F.max("gap_days").alias("max_days"),
        )
    )


def segment_migration(orders: DataFrame, n_tiles: int = 5) -> DataFrame:
    """Customer value-segment migration: monetary quintile in the
    FIRST half of the calendar vs the SECOND half, as a transition
    matrix — who is trading up, who is churning down.  The period
    split is the integer midpoint of the observed day range
    (deterministic from the data, no wall clock).

    Customers active in only one half appear with segment 0 for the
    missing half (entered / lapsed rows) — the matrix partitions ALL
    customers.

    Plan shape (scale): per-(customer, half) aggregate (one shuffle,
    localCheckpointed once), then BOTH half-rankings from one joint
    bucketed-prefix-sum pass — one boundary pass on m_cents, one
    (half, bucket) count collect, offsets cumulated per half, and a
    single window PARTITIONED on (half, bucket) (no Exchange
    SinglePartition; tiles via _ntile_from_rank with each half's own
    N, oracle's two global ntiles unchanged) — and an
    O(n_tiles²)-group transition count.
    """
    day = F.expr(
        "unix_millis(cast(o_orderdate as timestamp)) DIV 86400000"
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = orders.select("o_custkey", day.alias("d"), cents.alias("c"))
    bounds = base.agg(
        F.expr("(min(d) + max(d)) DIV 2").alias("mid")
    )
    halves = (
        base.crossJoin(F.broadcast(bounds))
        .withColumn("half", (F.col("d") > F.col("mid")).cast("int"))
        .groupBy("o_custkey", "half")
        .agg(F.sum("c").alias("m_cents"))
    )
    from ..partitioning import bucketed_global_rank

    # One boundary pass + one count pass serve BOTH halves: the rank
    # within a half is its (half-scoped) prefix offset + the local
    # row_number of a window partitioned on (half, bucket).
    # r14: lazy — the boundary action materializes the blocks (VERDICT
    # r13 task #5, one fewer scheduled job).
    halves = halves.localCheckpoint(eager=False)
    totals: dict[tuple, int] = {}
    ranked = bucketed_global_rank(
        halves,
        "m_cents",
        ["o_custkey"],
        out="_rk",
        partition_cols=["half"],
        totals_out=totals,
    )
    if not totals:  # no orders at all: empty matrix
        return halves.sparkSession.createDataFrame(
            [], "seg_from long, seg_to long, n_customers long"
        )
    seg = ranked.select(
        "o_custkey",
        "half",
        F.when(
            F.col("half") == 0,
            _ntile_from_rank("_rk", n_tiles, totals.get((0,), 0)),
        )
        .otherwise(_ntile_from_rank("_rk", n_tiles, totals.get((1,), 0)))
        .alias("seg"),
    )
    f0 = seg.filter(F.col("half") == 0).select(
        "o_custkey", F.col("seg").alias("seg_from")
    )
    f1 = seg.filter(F.col("half") == 1).select(
        "o_custkey", F.col("seg").alias("seg_to")
    )
    j = f0.join(f1, "o_custkey", "full")
    return (
        j.select(
            F.coalesce("seg_from", F.lit(0)).cast("long").alias("seg_from"),
            F.coalesce("seg_to", F.lit(0)).cast("long").alias("seg_to"),
        )
        .groupBy("seg_from", "seg_to")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def rolling_zscore_anomalies(events: DataFrame, trail: int = 6) -> DataFrame:
    """Rolling z-score anomaly detection over the hourly value series
    per event type: each bucket is scored against the mean/variance of
    the ``trail`` buckets strictly before it, flagged when it sits more
    than 3 sigma out.  The 3-sigma test is evaluated WITHOUT division —
    ``(n·x − Σ)² > 9·(n·Σx² − Σ²)`` is the |x−μ| > 3σ inequality
    multiplied through by n², so every term stays exact integer and
    the flag is bit-identical cross-engine (float σ would not be).
    The squared terms are evaluated in DECIMAL(38,0) (the DuckDB
    oracle mirrors with HUGEINT): hourly totals above ~1e9 cents would
    silently wrap a raw int64 square in non-ANSI mode and flip the
    flag.  Headroom: ``lhs² ≈ (n·x)²`` must stay under 1e38 (decimal)
    and ~1.7e38 (hugeint), so per-bucket totals are safe to ~5e17
    cents (≈ 5 quadrillion dollars/hour) with trail=6 — beyond that
    Spark nulls the flag while DuckDB errors; widen both sides
    together if a corpus ever approaches it.

    Plan shape (scale): one hash-aggregate to hourly grain (map-side
    partials over the scan), then ONE bounded ROWS window per type —
    state is three longs regardless of event volume; the series length
    is calendar-bounded, never data-bounded.  No joins, no floats.
    """
    hour = F.expr("unix_millis(cast(ts as timestamp)) DIV 3600000")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = (
        events.select("event_type", hour.alias("bucket"), cents.alias("c"))
        .groupBy("event_type", "bucket")
        .agg(F.sum("c").alias("cents"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-trail, -1)
    )
    scored = hourly.select(
        "event_type",
        "bucket",
        "cents",
        F.count(F.lit(1)).over(w).alias("n_prior"),
        F.sum("cents").over(w).alias("sum_prior"),
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * F.col("cents").cast("decimal(38,0)")
        ).over(w).alias("sumsq_prior"),
    )
    dec = "decimal(38,0)"
    lhs = (
        F.col("n_prior").cast(dec) * F.col("cents").cast(dec)
        - F.col("sum_prior").cast(dec)
    )
    var_n2 = (
        F.col("n_prior").cast(dec) * F.col("sumsq_prior").cast(dec)
        - F.col("sum_prior").cast(dec) * F.col("sum_prior").cast(dec)
    )
    return scored.select(
        "event_type",
        "bucket",
        "cents",
        F.col("n_prior").cast("long").alias("n_prior"),
        F.col("sum_prior").cast("long").alias("sum_prior"),
        F.when(
            (F.col("n_prior") >= 3) & (lhs * lhs > F.lit(9) * var_n2),
            F.lit(1),
        ).otherwise(F.lit(0)).cast("long").alias("is_anomaly"),
    )


def cusum_drift(events: DataFrame) -> DataFrame:
    """CUSUM change-point localisation per event type: the cumulative
    drift of the hourly series away from its own global mean, at bucket
    k expressed divisionlessly as ``S_k = N·prefix_k − k_idx·total``
    (the textbook Σ(xᵢ−μ) scaled by the bucket count N, so it stays an
    exact int64).  The emitted row per type is the bucket where |S_k|
    peaks — the most likely change point — plus the signed peak drift.
    Ties on |S_k| (e.g. a constant series, where every drift is 0)
    resolve to the EARLIEST bucket via a composite ordering key, so the
    answer is partition-order-independent and hash-oracle-able.

    Plan shape (scale): hourly hash-aggregate → per-type prefix-sum
    window (series is calendar-bounded) → per-type ``max_by`` argmax.
    One shuffle on event_type after the rollup; no self-joins.
    """
    hour = F.expr("unix_millis(cast(ts as timestamp)) DIV 3600000")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = (
        events.select("event_type", hour.alias("bucket"), cents.alias("c"))
        .groupBy("event_type", "bucket")
        .agg(F.sum("c").alias("cents"))
    )
    per_type = Window.partitionBy("event_type")
    ordered = per_type.orderBy("bucket")
    prefix = ordered.rowsBetween(Window.unboundedPreceding, 0)
    cur = hourly.select(
        "event_type",
        "bucket",
        F.count(F.lit(1)).over(per_type).alias("n_buckets"),
        F.row_number().over(ordered).alias("k_idx"),
        F.sum("cents").over(prefix).alias("prefix_cents"),
        F.sum("cents").over(per_type).alias("total_cents"),
    ).select(
        "event_type",
        "bucket",
        "n_buckets",
        (
            F.col("n_buckets") * F.col("prefix_cents")
            - F.col("k_idx") * F.col("total_cents")
        ).alias("drift"),
    )
    return cur.groupBy("event_type").agg(
        F.max_by(
            F.struct("bucket", "drift"),
            F.struct(
                F.abs(F.col("drift")).alias("a"),
                (-F.col("bucket")).alias("b"),
            ),
        ).alias("peak"),
        F.count(F.lit(1)).alias("n_buckets"),
    ).select(
        "event_type",
        F.col("peak.bucket").cast("long").alias("change_bucket"),
        F.col("peak.drift").cast("long").alias("peak_drift"),
        F.col("n_buckets").cast("long").alias("n_buckets"),
    )


def ewma_hourly(events: DataFrame) -> DataFrame:
    """Fixed-point EWMA smoothing (α = 1/2) of the hourly value series
    per event type, over the current + three trailing buckets with
    dyadic weights 8/4/2/1: ``ewma_q = (8·x₀ + 4·x₁ + 2·x₂ + 1·x₃)
    DIV (8+4+2+1 present)`` — the truncated geometric kernel every
    monitoring smoother uses, in exact integer arithmetic (a true
    infinite-memory EWMA is a float recurrence whose value depends on
    history length — not hash-comparable; the 4-tap dyadic kernel is
    its deterministic twin, and series boundaries just drop absent
    taps from both numerator and denominator).

    Plan shape (scale): hourly hash-aggregate, then four lag() reads in
    ONE per-type window pass — constant state, no joins.
    """
    hour = F.expr("unix_millis(cast(ts as timestamp)) DIV 3600000")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = (
        events.select("event_type", hour.alias("bucket"), cents.alias("c"))
        .groupBy("event_type", "bucket")
        .agg(F.sum("c").alias("cents"))
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    lag1, lag2, lag3 = (F.lag("cents", i).over(w) for i in (1, 2, 3))
    num = (
        F.lit(8) * F.col("cents")
        + F.lit(4) * F.coalesce(lag1, F.lit(0))
        + F.lit(2) * F.coalesce(lag2, F.lit(0))
        + F.lit(1) * F.coalesce(lag3, F.lit(0))
    )
    den = (
        F.lit(8)
        + F.when(lag1.isNotNull(), 4).otherwise(0)
        + F.when(lag2.isNotNull(), 2).otherwise(0)
        + F.when(lag3.isNotNull(), 1).otherwise(0)
    )
    return hourly.select(
        "event_type",
        "bucket",
        "cents",
        num.alias("_n"),
        den.alias("_d"),
    ).select(
        "event_type",
        "bucket",
        "cents",
        F.expr("_n DIV _d").cast("long").alias("ewma_cents"),
    )


def seasonal_baseline_residuals(events: DataFrame) -> DataFrame:
    """Seasonal-baseline anomaly input: every hourly bucket compared to
    the historical mean of its (event_type, day-of-week, hour-of-day)
    seasonal cell — the floor-integer residual that feeds alerting
    after the seasonal shape is removed.  Baseline mean uses integer
    DIV (exact), residual = cents − baseline.

    Plan shape (scale): hourly rollup (calendar-bounded), ONE
    (type, dow, hod) hash-aggregate over it (≤ types·168 cells), then a
    broadcast join of the tiny cell table back onto the series — the
    hourly series never shuffles twice.
    """
    hour = F.expr("unix_millis(cast(ts as timestamp)) DIV 3600000")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = (
        events.select("event_type", hour.alias("bucket"), cents.alias("c"))
        .groupBy("event_type", "bucket")
        .agg(F.sum("c").alias("cents"))
        .withColumn("dow", F.expr("(bucket DIV 24 + 4) % 7").cast("long"))
        .withColumn("hod", F.expr("bucket % 24").cast("long"))
    )
    cells = (
        hourly.groupBy("event_type", "dow", "hod")
        .agg(
            F.sum("cents").alias("cell_sum"),
            F.count(F.lit(1)).alias("cell_n"),
        )
        .select(
            "event_type",
            "dow",
            "hod",
            F.expr("cell_sum DIV cell_n").cast("long").alias("baseline_cents"),
        )
    )
    return hourly.join(F.broadcast(cells), ["event_type", "dow", "hod"]).select(
        "event_type",
        "bucket",
        "dow",
        "hod",
        "cents",
        "baseline_cents",
        (F.col("cents") - F.col("baseline_cents")).cast("long").alias(
            "residual_cents"
        ),
    )


def walk_forward_split(
    orders: DataFrame,
    embargo_days: int = 30,
    cut_day: int | None = None,
) -> DataFrame:
    """Walk-forward (temporal) train/test split manifest with an
    embargo gap — the leakage-safe counterpart of the hash split for
    time-ordered data: train strictly before (cut − embargo), test at
    or after the cut, and the embargo window between them EXCLUDED so
    label horizons that look ``embargo_days`` into the future cannot
    leak test outcomes into training rows.  The cut is ``cut_day``
    (epoch days) when given — the PINNED mode whose membership is a
    pure function of the row's own date, stable under any backfill —
    else the exact integer midpoint of the observed date span
    (deterministic, no quantile estimation, but re-derived per run: a
    backfill that extends min(d) moves it).

    Plan shape (scale): one min/max aggregate (broadcast 1-row bounds;
    skipped entirely in pinned mode), one stateless classify pass, one
    per-split rollup.
    """
    day = F.expr("unix_millis(cast(o_orderdate as timestamp)) DIV 86400000")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = orders.select(day.alias("d"), cents.alias("c"))
    if cut_day is not None:
        bounds = base.sparkSession.range(1).select(
            F.lit(int(cut_day)).cast("long").alias("cut")
        )
    else:
        bounds = base.agg(F.expr("(min(d) + max(d)) DIV 2").alias("cut"))
    tagged = base.crossJoin(F.broadcast(bounds)).withColumn(
        "split",
        F.when(F.col("d") < F.col("cut") - embargo_days, F.lit("train"))
        .when(F.col("d") >= F.col("cut"), F.lit("test"))
        .otherwise(F.lit("embargo")),
    )
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("c").alias("total_cents"),
        F.min("d").alias("first_day"),
        F.max("d").alias("last_day"),
    )


def feature_drift_tv(
    events: DataFrame, n_bins: int = 20, bin_cents: int = 2500
) -> DataFrame:
    """Distribution drift of the ``value`` feature between two
    alternating calendar-day populations (even vs odd epoch day), per
    event type — the training-vs-serving skew monitor every feature
    pipeline runs before a model ships.  The distance is TOTAL
    VARIATION, not PSI: TV over shared fixed bins is a pure rational
    of the four count columns,

        TV = Σ_bins |n_a·N_b − n_b·N_a| / (2·N_a·N_b),

    published in integer permille via DECIMAL(38,0) cross-products —
    no log, no float ratio, so the DuckDB oracle reproduces it
    bit-for-bit (PSI's ln() would pin the hash to libm ulp behavior).

    Bin edges are FIXED a-priori ($25 strata over [0, $500), top bin
    open) exactly like a production feature monitor — data-dependent
    quantile edges would make the metric circular under drift and cost
    an extra pass.

    Scale shape: one narrow projection → hash aggregate keyed
    (event_type, bin) with map-side combine (≤ |types|·n_bins groups
    survive) → per-type totals via a window over those tiny groups →
    final per-type aggregate.  One real shuffle over the raw rows;
    DECIMAL(38,0) keeps 10^12-row-per-side counts exact (int64 would
    wrap on the cross-product at ~3·10^9)."""
    dec = "decimal(38,0)"
    binned = events.select(
        "event_type",
        (F.expr("unix_millis(ts) DIV 86400000") % 2).alias("side"),
        F.least(
            F.lit(n_bins - 1),
            F.expr(f"CAST(round(value * 100) AS BIGINT) DIV {bin_cents}"),
        ).alias("bin"),
    )
    per_bin = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("nb"),
    )
    w = Window.partitionBy("event_type")
    tot = per_bin.select(
        "event_type",
        F.col("na").cast(dec).alias("na"),
        F.col("nb").cast(dec).alias("nb"),
        F.sum("na").over(w).cast(dec).alias("ta"),
        F.sum("nb").over(w).cast(dec).alias("tb"),
    )
    return (
        tot.groupBy("event_type")
        .agg(
            F.max("ta").alias("ta"),
            F.max("tb").alias("tb"),
            F.sum(
                F.abs(F.col("na") * F.col("tb") - F.col("nb") * F.col("ta"))
            ).alias("sum_cross"),
        )
        .select(
            "event_type",
            F.col("ta").cast("long").alias("n_even_days"),
            F.col("tb").cast("long").alias("n_odd_days"),
            F.when(
                (F.col("ta") > 0) & (F.col("tb") > 0),
                F.expr("CAST(1000 * sum_cross div (2 * ta * tb) AS BIGINT)"),
            )
            .otherwise(F.lit(1000))
            .alias("tv_permille"),
        )
    )


def time_weighted_value(events: DataFrame) -> DataFrame:
    """Time-weighted average value (TWAP) per event type: each
    observation holds until the next one of the SAME type, so its
    weight is the interval length, not 1 — the correct mean for
    irregularly-sampled state series (prices, gauges, queue depths),
    where the row-weighted mean over-counts bursts of updates.

    Exact integer form: Σ cents_i·Δms_i DIV Σ Δms_i in DECIMAL(38,0)
    cross-products (ms spans × cents stay well inside 38 digits at any
    horizon); the last observation of a type carries no interval and is
    reported separately (``last_cents``) rather than silently dropped
    or given a fabricated weight.

    Scale (VERDICT r5 task #4): a per-type lead over raw events is a
    single ~n/5-row sort task at 100× (~5 distinct types).  The lead is
    SEGMENTED instead: value-pure quantile buckets on the order key
    (partitioning.quantile_bucket on ms — rows with equal ms always
    share a bucket, so the within-bucket order is total), ``lead``
    inside per-(type, bucket) windows, and the one row each bucket
    cannot see — its last — takes ``next_ms`` from a boundary exchange:
    the per-(type, bucket) min-ms frame (≤ types × n_buckets rows),
    shifted one bucket with a tiny per-type window and broadcast-joined
    back.  No ordered window over event volume remains (plan-asserted
    in test_plans.py); one hash aggregate finishes.  Contrast
    ``task_latency_stats``: that is row-weighted by design (latencies
    are events); this is state-weighted (values are levels)."""
    from ..partitioning import quantile_bucket

    dec = "decimal(38,0)"
    base = events.select(
        "event_type",
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        F.unix_millis("ts").alias("ms"),
    )
    bexpr = quantile_bucket(base, "ms")
    withb = base.withColumn("_b", bexpr if bexpr is not None else F.lit(0))
    # boundary exchange: each (type, bucket)'s first ms; lead over the
    # bucket-grain frame yields the next NON-EMPTY bucket's first ms
    # (empty buckets simply don't appear), i.e. exactly the ms the
    # bucket-last row's lead would have seen in the unsegmented window
    firsts = withb.groupBy("event_type", "_b").agg(F.min("ms").alias("_fms"))
    bnext = firsts.select(
        F.col("event_type").alias("_bt"),
        F.col("_b").alias("_bb"),
        F.lead("_fms")
        .over(Window.partitionBy("event_type").orderBy("_b"))
        .alias("_bnext"),
    )
    wl = Window.partitionBy("event_type", "_b").orderBy(
        F.col("ms").asc(), F.col("event_id").asc()
    )
    seg = withb.join(
        F.broadcast(bnext),
        F.col("event_type").eqNullSafe(F.col("_bt"))
        & (F.col("_b") == F.col("_bb")),
        "left",
    ).select(
        "event_type",
        "event_id",
        "cents",
        "ms",
        F.coalesce(F.lead("ms").over(wl), F.col("_bnext")).alias("next_ms"),
    )
    return (
        seg.groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.col("next_ms").isNotNull(),
                    F.col("cents").cast(dec)
                    * (F.col("next_ms") - F.col("ms")).cast(dec),
                )
            ).alias("wsum"),
            F.sum(
                F.when(
                    F.col("next_ms").isNotNull(),
                    (F.col("next_ms") - F.col("ms")).cast(dec),
                )
            ).alias("span"),
            F.max_by(
                F.col("cents"), F.struct(F.col("ms"), F.col("event_id"))
            ).alias("last_cents"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .select(
            "event_type",
            # span can be 0 (>=2 observations sharing one timestamp) or
            # NULL (a single observation): TWAP is undefined in both —
            # emit NULL, matching the oracle's // semantics, instead of
            # tripping ANSI DIVIDE_BY_ZERO
            F.when(
                F.col("span") > 0,
                F.expr("CAST(wsum div span AS BIGINT)"),
            ).alias("twap_cents"),
            F.col("span").cast("long").alias("span_ms"),
            "last_cents",
            "n_obs",
        )
    )


def funnel_conversion_window(
    events: DataFrame, window_ms: int = 600_000
) -> DataFrame:
    """Attribution-window funnel: a view converts only if a click by
    the SAME user follows within ``window_ms`` — the bounded form every
    ads/product funnel actually uses (the unbounded funnel credits a
    click a month later).  Per user the NEXT click after each view
    comes from one conditional running-min window (min of click
    timestamps over the rows AFTER the current one, ordered by event
    time) — no self-join, no range join, one shuffle on user_id.

    Output: one row — users with a view, users converted within the
    window, the conversion rate in permille (integer DIV), and the
    minimum observed view→click latency among conversions (exact ms).
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    vc = events.where(F.col("event_type").isin("view", "click")).select(
        "user_id",
        "event_type",
        "event_id",
        "ts",
        F.unix_millis("ts").alias("ms"),
    )
    next_click = F.min(
        F.when(F.col("event_type") == "click", F.col("ms"))
    ).over(w)
    views = vc.withColumn("next_click_ms", next_click).where(
        F.col("event_type") == "view"
    )
    per_user = views.groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("next_click_ms") - F.col("ms") <= window_ms,
                F.col("next_click_ms") - F.col("ms"),
            )
        ).alias("best_latency_ms")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_view_users"),
        F.count("best_latency_ms").alias("n_converted"),
        # an empty events table leaves zero view-users: the rate is
        # undefined, not a DIVIDE_BY_ZERO (round-12 empty-input sweep
        # finding) — emit NULL, the same contract as twap's zero-span
        F.expr(
            "CAST(CASE WHEN count(*) = 0 THEN NULL "
            "ELSE count(best_latency_ms) * 1000 DIV count(*) END AS BIGINT)"
        ).alias("conversion_permille"),
        F.min("best_latency_ms").alias("min_latency_ms"),
    )


def bootstrap_metric_replicates(
    events: DataFrame, n_replicates: int = 20
) -> DataFrame:
    """Poisson-bootstrap confidence machinery for a pipeline metric
    (total purchase cents): ``n_replicates`` resampled totals, each
    row weighted by a deterministic hash-derived Poisson(1) draw —
    the standard streaming bootstrap (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams", public) where true
    row-resampling is impossible but independent per-(row, replicate)
    weights are one hash away.  The inverse-CDF table quantizes
    Poisson(1) at permille resolution (P≤0:368, ≤1:736, ≤2:920,
    ≤3:981, ≤4:996, else 5), driven by the repo's engine-portable
    md5-prefix hash of (event_id, replicate) — bit-identical in the
    DuckDB oracle, no RNG state anywhere.

    Spark-first shape: all replicate weights are computed INLINE in
    one projection and reduced by ONE map-side-combining hash
    aggregate into a single row of 2·R sums — no R× explode, no extra
    shuffle; the per-replicate rows come from an O(R) ``stack`` unpivot
    of that one row.  At 100 TB this is a single scan regardless of R.
    """
    cents = F.round(F.col("value") * 100).cast("long")
    base = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id"), cents.alias("c")
    )

    def weight(rep: int):
        h = (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(
                        ":", F.col("event_id").cast("string"), F.lit(str(rep))
                    )),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long")
            % 1000
        )
        return (
            F.when(h < 368, 0)
            .when(h < 736, 1)
            .when(h < 920, 2)
            .when(h < 981, 3)
            .when(h < 996, 4)
            .otherwise(5)
        )

    aggs = []
    for r in range(1, n_replicates + 1):
        w = weight(r)
        aggs.append(F.sum(w).alias(f"n_{r}"))
        aggs.append(F.sum(w * F.col("c")).alias(f"m_{r}"))
    one = base.agg(*aggs)
    stack_args = ", ".join(
        f"{r}, n_{r}, m_{r}" for r in range(1, n_replicates + 1)
    )
    return one.selectExpr(
        f"stack({n_replicates}, {stack_args}) AS "
        "(replicate, n_effective, metric_cents)"
    ).select(
        F.col("replicate").cast("long").alias("replicate"),
        F.col("n_effective").cast("long").alias("n_effective"),
        F.col("metric_cents").cast("long").alias("metric_cents"),
    )


def _hourly_dollars(events: DataFrame) -> DataFrame:
    """Hourly value series per event type at DOLLAR grain (cents div
    100): the pre-scaling keeps every downstream cross-product —
    autocorrelation numerators are squared — inside DECIMAL(38,0) /
    HUGEINT headroom at any horizon (cents-grain squares would clear
    1e38 near ~1e18-cent buckets).  The divisor is the one knob to
    widen at extreme per-bucket volumes; both engines truncate
    identically (Spark ``div`` ≡ DuckDB ``//`` toward zero)."""
    hour = F.expr("unix_millis(cast(ts as timestamp)) DIV 3600000")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.select("event_type", hour.alias("bucket"), cents.alias("c"))
        .groupBy("event_type", "bucket")
        .agg(F.expr("sum(c) div 100").alias("v"))
    )


def hourly_autocorrelation(
    events: DataFrame, lags: tuple[int, ...] = (1, 2, 3, 6, 12, 24)
) -> DataFrame:
    """Autocorrelation function of the hourly value series per event
    type at the given hour lags — the periodicity probe (is there a
    daily cycle? how fast does the series decorrelate?) that sits
    upstream of every seasonal model choice (seasonal_baseline_
    residuals picks its season length from exactly this evidence).

    Gaps are handled by ALIGNMENT, not imputation: the pair set at lag
    L is the equi-join of the series with itself on ``bucket = bucket
    + L``, so missing hours simply contribute no pair (the estimator
    over irregular series), never a fabricated zero.

    Exactness: Pearson r needs a square root, which no integer plan
    can express — so the emitted statistic is the SIGNED SQUARE in
    permille, ``sign(num) * (1000*num^2 div (dx*dy))`` over the
    textbook moment sums (num = n*Sxy − Sx*Sy, dx = n*Sxx − Sx²,
    dy = n*Syy − Sy²), all in DECIMAL(38,0) over the dollar-grain
    series (_hourly_dollars headroom note).  Monotone in |r|, exact
    cross-engine, NULL where a side is constant (dx*dy = 0).

    Plan shape (scale): one hash aggregate to hourly grain over the
    scan, then a self-equi-join on (event_type, bucket) whose BOTH
    sides are calendar-bounded (|types| × hours rows, independent of
    event volume), fanned out over the tiny lag list before the join.
    One final |types × lags|-group aggregate.  No ordered windows, no
    event-volume joins."""
    hourly = _hourly_dollars(events)
    spark = events.sparkSession
    lag_df = spark.createDataFrame(
        [(int(l),) for l in lags], "lag_hours long"
    )
    a = hourly.crossJoin(F.broadcast(lag_df)).select(
        "event_type",
        "lag_hours",
        F.col("bucket").alias("b_cur"),
        F.col("v").alias("x"),
    )
    b = hourly.select(
        F.col("event_type").alias("_et"),
        F.col("bucket").alias("b_lag"),
        F.col("v").alias("y"),
    )
    dec = "decimal(38,0)"
    pairs = a.join(
        b,
        (F.col("event_type") == F.col("_et"))
        & (F.col("b_cur") - F.col("lag_hours") == F.col("b_lag")),
    )
    # sx/sy cast to decimal BEFORE the sum (like sxy/sxx/syy) so an
    # extreme-volume series overflows into decimal headroom instead of
    # silently wrapping int64 (ADVICE r6; the oracle sums HUGEINT).
    m = pairs.groupBy("event_type", "lag_hours").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y").cast(dec)).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).alias("syy"),
    )
    # truncating `div` (≡ DuckDB //) — decimal `/` + cast would ROUND
    return m.select(
        "event_type",
        "lag_hours",
        F.col("n").cast("long").alias("n_pairs"),
        F.expr(
            "CAST(CASE WHEN (n*sxx - sx*sx) * (n*syy - sy*sy) > 0 THEN "
            "(CASE WHEN n*sxy - sx*sy < 0 THEN -1 ELSE 1 END) * "
            "((1000 * (n*sxy - sx*sy) * (n*sxy - sx*sy)) div "
            " ((n*sxx - sx*sx) * (n*syy - sy*sy))) "
            "END AS BIGINT)"
        ).alias("acf_sq_signed_permille"),
    )


def forecast_backtest_accuracy(events: DataFrame) -> DataFrame:
    """Backtest of the two standard naive forecasters over the hourly
    value series per event type — ``naive_1h`` (persistence: next hour
    = this hour) and ``seasonal_24h`` (same hour yesterday).  Their
    error is the floor every real model must beat, and the 1h-vs-24h
    comparison is itself the seasonality decision: if seasonal-naive
    wins, the series has a daily cycle worth modelling
    (hourly_autocorrelation gives the same answer spectrally).

    Scored pairs come from the same gap-respecting self-alignment as
    the ACF (a bucket is scored only when bucket − L exists; gaps are
    never imputed).  Metrics per (event_type, model), all exact
    integers: n_scored, MAE in cents (Σ|e| div n), WAPE in permille
    (1000·Σ|e| div Σ|actual| — the volume-weighted percentage error,
    division-safe because it divides once by the aggregate), and the
    signed bias Σ(actual − predicted) in cents (undivided, so it stays
    exact).

    Plan shape (scale): identical to hourly_autocorrelation — hourly
    hash aggregate, calendar-bounded self-equi-join fanned over the
    2-row model list, |types × 2|-group finish."""
    hour = F.expr("unix_millis(cast(ts as timestamp)) DIV 3600000")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = (
        events.select("event_type", hour.alias("bucket"), cents.alias("c"))
        .groupBy("event_type", "bucket")
        .agg(F.sum("c").alias("v"))
    )
    spark = events.sparkSession
    models = spark.createDataFrame(
        [("naive_1h", 1), ("seasonal_24h", 24)], "model string, lag long"
    )
    a = hourly.crossJoin(F.broadcast(models)).select(
        "event_type", "model", "lag",
        F.col("bucket").alias("b_cur"), F.col("v").alias("actual"),
    )
    b = hourly.select(
        F.col("event_type").alias("_et"),
        F.col("bucket").alias("b_lag"),
        F.col("v").alias("pred"),
    )
    pairs = a.join(
        b,
        (F.col("event_type") == F.col("_et"))
        & (F.col("b_cur") - F.col("lag") == F.col("b_lag")),
    )
    err = F.col("actual") - F.col("pred")
    return (
        pairs.groupBy("event_type", "model")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum(F.abs(err)).alias("sae"),
            F.sum(F.abs(F.col("actual"))).alias("sa"),
            F.sum(err).alias("bias_cents"),
        )
        .select(
            "event_type",
            "model",
            F.col("n_scored").cast("long").alias("n_scored"),
            F.expr("sae div n_scored").cast("long").alias("mae_cents"),
            F.when(
                F.col("sa") > 0, F.expr("(1000 * sae) div sa")
            ).cast("long").alias("wape_permille"),
            F.col("bias_cents").cast("long").alias("bias_cents"),
        )
    )


def k_anonymity_audit(
    customer: DataFrame, nation: DataFrame, k: int = 5
) -> DataFrame:
    """k-anonymity audit over the customer quasi-identifier ladder —
    the privacy gate a training-data pipeline runs BEFORE publishing
    any per-customer extract (pii_redaction handles direct
    identifiers; this measures re-identification risk from the
    indirect ones).  Three generalization levels, coarsest last:

      L0 nation_segment_balance — (nationkey, mktsegment, account
         balance in $1000 bins); L1 region_segment — nation
         generalized to region; L2 segment — segment alone.

    Per level: equivalence-class count, the dataset's actual k (the
    smallest class), rows in classes below the target k, and the
    suppression cost in permille — the fraction of rows that would
    have to be withheld to publish at that k.  The publishable level
    is the first whose rows_below_k is 0.

    Balance bins: TPC-H acctbal spans [-999.99, 9999.99]; the bin is
    ``(bal_cents + 100000) div 100000`` so the dividend stays
    positive (truncating division would otherwise fold the two bins
    adjacent to zero together — the +offset form is uniform).

    Plan shape (scale): per level one hash aggregate to classes (map-
    side partials) and one |classes|-sized roll-up; nation→region is a
    25-row broadcast.  No windows, no sorts; the union is 3 rows."""
    bal_bucket = F.expr(
        "(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 100000"
    )
    n_region = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("c_nationkey"),
            F.col("n_regionkey").alias("_rk"),
        )
    )
    levels = [
        (
            "L0_nation_segment_balance",
            customer.select(
                F.col("c_nationkey").cast("string").alias("q1"),
                F.col("c_mktsegment").alias("q2"),
                bal_bucket.cast("string").alias("q3"),
            ),
        ),
        (
            "L1_region_segment",
            customer.join(n_region, "c_nationkey").select(
                F.col("_rk").cast("string").alias("q1"),
                F.col("c_mktsegment").alias("q2"),
                F.lit("*").alias("q3"),
            ),
        ),
        (
            "L2_segment",
            customer.select(
                F.lit("*").alias("q1"),
                F.col("c_mktsegment").alias("q2"),
                F.lit("*").alias("q3"),
            ),
        ),
    ]
    outs = []
    for name, qi in levels:
        classes = qi.groupBy("q1", "q2", "q3").agg(
            F.count(F.lit(1)).alias("sz")
        )
        outs.append(
            classes.agg(
                F.lit(name).alias("level"),
                F.count(F.lit(1)).cast("long").alias("n_classes"),
                F.min("sz").cast("long").alias("min_class_size"),
                F.sum(F.when(F.col("sz") < k, F.col("sz")).otherwise(0))
                .cast("long")
                .alias("rows_below_k"),
                F.expr(
                    f"(1000 * sum(CASE WHEN sz < {k} THEN sz ELSE 0 END))"
                    " div sum(sz)"
                )
                .cast("long")
                .alias("suppressed_permille"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
