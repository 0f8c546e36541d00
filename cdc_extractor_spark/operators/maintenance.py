"""Table-maintenance & runtime-pruning operators.

Reference analog: none of these exist in the reference — its sink is
best-effort text appends (``WorkerRunnable.java:75-77``) whose file
layout is whatever thread timing produced, and its only "optimization"
is hand-written SQL shipped to Postgres (SURVEY.md §4.1).  A 100 TB
CDC extract, though, lives or dies on storage layout and runtime
pruning, so the engine ships them as first-class verbs:

- **runtime bloom-filter join pruning** — the distributed descendant of
  the reference's dedup-before-lookup trick (``WorkerRunnable.java:120,
  130-133``: collect distinct xids first, then probe): build a compact
  membership summary of the small/selective join side and push it into
  the big side's scan, so non-matching rows die at the source instead
  of crossing the shuffle.
- **incremental rollup maintenance** — merge mergeable aggregate state
  (count/sum/min/max partials) from a new offset batch into a
  previously-materialized rollup without touching already-aggregated
  history; the continuous-aggregate pattern every CDC consumer needs.
- **small-file compaction** — a streaming extract produces one file per
  epoch per partition (the analog of the reference's per-task appends);
  compaction rewrites them to size-targeted files so downstream scan
  task counts stay proportional to bytes, not to epoch count.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Runtime bloom-filter join pruning
# ---------------------------------------------------------------------------

_BLOOM_CONFS = {
    # On a real cluster the scan-size threshold (default 10 GB) gates
    # injection to genuinely large application sides; the fixtures are
    # MBs, so lower it to demonstrate/assert the plan shape locally.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    # Broadcast joins don't take bloom filters (the build side already
    # reaches every task); force the shuffle-join shape the rule targets
    # — at 100 TB fact⋈fact this is the real plan anyway.
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def bloom_pruned_join(
    spark: SparkSession, lineitem: DataFrame, orders: DataFrame,
    priority: str = "1-URGENT",
) -> DataFrame:
    """Fact⋈fact join where Catalyst injects a runtime bloom filter:
    the selective ``orders`` side builds a bloom of its join keys and
    the ``lineitem`` scan is filtered by ``might_contain`` before the
    shuffle (asserted in tests/test_plans.py).

    Scale: with a 1-in-5 selective dim predicate, ~80 % of the 100 TB
    fact side is dropped at the scan instead of being shuffled — the
    same rows-never-travel win as the reference's distinct-before-
    lookup, applied engine-side.  The plan is frozen eagerly under the
    injection confs, then session confs are restored so surrounding
    queries keep their own shapes.
    """
    old = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        dim = orders.where(F.col("o_orderpriority") == priority)
        out = (
            lineitem.join(dim, lineitem["l_orderkey"] == dim["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                .alias("rev_cents"),
            )
        )
        # Force optimization + physical planning now, while the
        # injection confs are live; QueryExecution caches the result,
        # so later actions reuse this plan.
        out._jdf.queryExecution().executedPlan()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


# ---------------------------------------------------------------------------
# Incremental rollup maintenance (mergeable aggregate state)
# ---------------------------------------------------------------------------

def rollup_partials(events: DataFrame) -> DataFrame:
    """Mergeable per-(event_type, day) aggregate state: count / sum /
    min / max partials plus the batch high-water mark.  Every column is
    re-aggregable, so partials from disjoint offset ranges merge by
    plain aggregation — no access to history rows required."""
    cents = F.round(F.col("value") * 100).cast("long")
    return events.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents).alias("sum_cents"),
        F.min(cents).alias("min_cents"),
        F.max(cents).alias("max_cents"),
        F.max("event_id").alias("hwm"),
    )


def merge_rollup(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two partial rollups (count→sum, sum→sum, min→min, max→max,
    hwm→max).  This is the continuous-aggregate maintenance step: per
    epoch, only the delta batch is aggregated (O(batch)), then merged
    into the materialized state (O(groups)) — history is never re-read.

    Scale: at 100 TB the full recompute is a full scan per refresh;
    the merge touches bytes proportional to the new offset range
    (SURVEY.md A3 semantics) plus the rollup itself."""
    return base.unionByName(delta).groupBy("event_type", "day").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("sum_cents").alias("sum_cents"),
        F.min("min_cents").alias("min_cents"),
        F.max("max_cents").alias("max_cents"),
        F.max("hwm").alias("hwm"),
    )


def incremental_rollup(events: DataFrame, split_offset: int) -> DataFrame:
    """Materialize the rollup up to ``split_offset``, then merge the
    partials of the later batch — equivalent, by construction, to one
    rollup over everything (the oracle recomputes directly)."""
    base = rollup_partials(events.where(F.col("event_id") <= split_offset))
    delta = rollup_partials(events.where(F.col("event_id") > split_offset))
    return merge_rollup(base, delta)


# ---------------------------------------------------------------------------
# Small-file compaction
# ---------------------------------------------------------------------------

def list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path, bytes) for every data file under ``path``, via the Hadoop
    FileSystem API — works on any supported filesystem (local, HDFS,
    object stores), not just local paths."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(hpath, True)
    out: list[tuple[str, int]] = []
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if not name.startswith(("_", ".")):
            out.append((st.getPath().toString(), st.getLen()))
    return out


def compact_parquet(
    spark: SparkSession, src: str, dst: str, target_bytes: int = 128 << 20,
    cluster_key: str | None = None,
) -> tuple[int, int]:
    """Rewrite a many-small-files parquet dataset into
    ``ceil(total_bytes / target_bytes)`` size-targeted files.

    Returns (files_before, files_after_target).  A streaming extract
    accretes one file per epoch per partition; at 100 TB that is
    millions of KB-sized files whose per-file open/footer cost dominates
    scans.  Compaction is a single shuffle-less-read → repartition →
    write pass, run out-of-band (the streaming writer keeps appending to
    a fresh directory); the swap is atomic at the directory level, same
    as streaming/upsert.py's snapshot swap.
    """
    files = list_data_files(spark, src)
    total = sum(sz for _, sz in files)
    n_out = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(src)
    if cluster_key is not None:
        # compaction is the natural moment to (re)establish clustering:
        # a range shuffle costs the same as the hash shuffle but leaves
        # every output file a narrow key slice (footer min/max pruning,
        # sinks.py:write_range_clustered) instead of a random mix.
        df = df.repartitionByRange(n_out, F.col(cluster_key)).sortWithinPartitions(
            cluster_key
        )
    else:
        df = df.repartition(n_out)
    df.write.mode("overwrite").parquet(dst)
    return len(files), n_out


# ---------------------------------------------------------------------------
# Bucketed (co-located) storage layout — shuffle-free fact⋈fact joins
# ---------------------------------------------------------------------------

def ensure_bucketed_tables(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> tuple[str, str]:
    """Materialize ``orders`` and ``lineitem`` as bucketed tables
    (CLUSTERED BY order key INTO ``n_buckets`` BUCKETS, sorted within
    buckets) in a cache.cached_dir directory, registering each in the
    session catalog under the directory's name.  Idempotent two ways:
    the files are written once per (fixture identity, ``n_buckets``),
    and a fresh session that finds the files already on disk only
    (re)issues the external-table DDL.

    This is THE layout move for repeated 100 TB fact⋈fact joins: both
    sides hash-partitioned AND sorted by the join key at WRITE time,
    so every subsequent join/aggregation on that key is exchange-free —
    the sort-merge join reads co-located buckets directly (asserted in
    tests/test_plans.py: zero shuffle exchanges in the join subtree).
    The one-off write cost is amortized across every downstream read —
    the same trade the reference's per-run re-extract never makes
    (WorkerRunnable.java:93-94 rescans the audit table each task).
    """
    import os

    from .. import cache
    from ..io import load_table

    names = {}
    for tbl, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):

        def build(staging: str) -> None:
            # bucketBy needs a catalog table: write one over the staging
            # dir under a throwaway name, then drop it (external, so the
            # files stay) and re-point the final name below
            tmp = os.path.basename(staging).replace(".", "_")
            (
                load_table(spark, sf_dir, tbl).write.format("parquet")
                .bucketBy(n_buckets, key)
                .sortBy(key)
                .option("path", staging)
                .mode("overwrite")
                .saveAsTable(tmp)
            )
            spark.sql(f"DROP TABLE IF EXISTS {tmp}")

        d = cache.cached_dir(
            f"cdcx_bkt_{tbl}", sf_dir, (tbl,), f"{key}|b{n_buckets}", build
        )
        name = names[tbl] = os.path.basename(d)
        if spark.catalog.tableExists(name):
            continue
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in load_table(spark, sf_dir, tbl).schema.fields
        )
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING PARQUET "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {n_buckets} BUCKETS LOCATION '{d}'"
        )
    return names["orders"], names["lineitem"]


def bucketed_join_revenue(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> DataFrame:
    """Revenue by order priority over the bucketed copies: the
    fact⋈fact join runs on co-located, pre-sorted buckets — no
    exchange on either side (the aggregation after it reshuffles only
    the handful of priority groups).  Result is byte-identical to the
    same query over the raw fixtures (oracle-checked)."""
    to, tl = ensure_bucketed_tables(spark, sf_dir, n_buckets)
    o = spark.table(to)
    l = spark.table(tl)
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        l.select("l_orderkey", cents.alias("cents"))
        .join(o.select("o_orderkey", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum("cents").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Cost-based optimization — catalog statistics + join reordering
# ---------------------------------------------------------------------------

def ensure_stats_tables(
    spark: SparkSession, sf_dir: str,
    tables: tuple[str, ...] = ("nation", "customer", "orders"),
) -> dict[str, str]:
    """Zero-copy EXTERNAL catalog tables over the fixture parquet, with
    ANALYZE'd table + column statistics — the catalog surface Spark's
    cost-based optimizer needs (row counts, NDVs, min/max per column).
    The files are never copied: CREATE TABLE ... LOCATION points at the
    fixture, so the only cost is one stats scan per fixture identity.

    At 100 TB this is routine warehouse hygiene: ANALYZE after load,
    and every multi-join query gets stats-driven join ordering instead
    of written-order left-deep plans."""
    import os

    from .. import cache

    names = {}
    for t in tables:
        name = f"cdcx_stats_{cache.fixture_key(sf_dir, (t,))}_{t}"
        names[t] = name
        if spark.catalog.tableExists(name):
            continue
        df = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING PARQUET "
            f"LOCATION '{os.path.join(sf_dir, t + '.parquet')}'"
        )
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR ALL COLUMNS")
    return names


def cbo_reordered_order_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Orders per nation, written in the WORST join order
    (orders ⋈ customer first — the large intermediate) and left to the
    cost-based optimizer to fix: with catalog statistics and
    ``spark.sql.cbo.joinReorder.enabled``, Catalyst rewrites the join
    tree to (customer ⋈ nation) ⋈ orders — dimension-first, the small
    intermediate (plan contrast pinned in tests/test_plans.py: CBO off
    preserves the written order, CBO on reorders).  The result is
    order-independent; only the cost moves.

    The CBO confs are scoped: ``localCheckpoint`` forces planning and
    execution inside the scope (logical optimization happens lazily,
    so a conf restored before the action would silently un-CBO the
    plan), then session state is restored."""
    names = ensure_stats_tables(spark, sf_dir)
    confs = {
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = spark.sql(
            f"""SELECT n.n_name, count(*) AS n_orders
            FROM {names['orders']} o
            JOIN {names['customer']} c ON o.o_custkey = c.c_custkey
            JOIN {names['nation']} n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name"""
        ).localCheckpoint()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    return df


# ---------------------------------------------------------------------------
# Dynamic partition pruning — runtime subquery-driven scan pruning
# ---------------------------------------------------------------------------

EVENT_CATEGORIES = (
    ("click", "engagement"), ("view", "engagement"),
    ("purchase", "commerce"), ("signup", "account"), ("error", "ops"),
)


def ensure_partitioned_events(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """Fixture-keyed, write-once layout for the DPP demo: the events
    feed partitioned by event_type (hive-style directories) plus a tiny
    category dimension as parquet, built by cache.cached_dir like the
    other derived-fixture caches."""
    from .. import cache
    from ..io import load_table

    def build(staging: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
        ev.write.partitionBy("event_type").parquet(staging + "/fact")
        spark.createDataFrame(
            list(EVENT_CATEGORIES), "event_type string, category string"
        ).coalesce(1).write.parquet(staging + "/dim")

    d = cache.cached_dir("cdcx_dpp", sf_dir, ("events",), "", build)
    return d + "/fact", d + "/dim"


def dpp_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue over ONE category of a type-partitioned fact, where the
    filter lives on the dimension side only: Catalyst's dynamic
    partition pruning turns the broadcast dim into a runtime subquery
    on the fact's partition column, so the scan opens only the
    partition directories whose types survive the dim filter —
    the other categories' files are never read (PartitionFilters:
    dynamicpruningexpression(...), pinned in tests/test_plans.py).

    At 100 TB this is THE mechanism that makes star-schema queries over
    date/tenant-partitioned facts cheap: selective dim predicates prune
    fact partitions at runtime without the query author naming them."""
    fact_dir, dim_dir = ensure_partitioned_events(spark, sf_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).where(F.col("category") == "engagement")
    return (
        fact.join(dim, "event_type")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("value_cents").alias("value_cents"),
            F.countDistinct("event_type").alias("n_types"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental JOIN-view maintenance (delta joins)
# ---------------------------------------------------------------------------

def _rev_partials(o: DataFrame, l: DataFrame) -> DataFrame:
    """Mergeable revenue partials of one (orders-slice ⋈ lineitem-slice)
    term: per-priority row count + revenue cents."""
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        l.select("l_orderkey", cents.alias("cents"))
        .join(o.select("o_orderkey", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


def incremental_join_view(
    orders: DataFrame, lineitem: DataFrame,
    order_split: int, line_split: int = 3,
) -> DataFrame:
    """Incremental maintenance of a JOIN view — the two-sided
    generalization of ``incremental_rollup`` (aggregates) to
    ``V = A ⋈ B``: when deltas arrive on BOTH sides,

        ΔV = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB

    and the refreshed view is the base partials merged with the three
    delta terms' partials — history rows are never re-joined.  Here
    A_old/ΔA split ``orders`` at ``o_orderkey <= order_split`` (the
    reference's offset-range semantics, Task.java:3-8: a delta IS a
    ``(lo, hi]`` slice of the change log) and B_old/ΔB split
    ``lineitem`` at ``l_linenumber <= line_split``.

    Scale: each delta term joins a delta slice against one side only —
    cost O(|Δ| · join fan-out), not O(|V|); the delta predicates reach
    the scans (offset/partition pruning on a real changelog).  The
    merge itself is O(groups).  Equality with the full recompute is the
    oracle (plain orders ⋈ lineitem aggregate).
    """
    o_old = orders.filter(F.col("o_orderkey") <= order_split)
    o_new = orders.filter(F.col("o_orderkey") > order_split)
    l_old = lineitem.filter(F.col("l_linenumber") <= line_split)
    l_new = lineitem.filter(F.col("l_linenumber") > line_split)
    base = _rev_partials(o_old, l_old)
    deltas = (
        _rev_partials(o_new, l_old)
        .unionByName(_rev_partials(o_old, l_new))
        .unionByName(_rev_partials(o_new, l_new))
    )
    return (
        base.unionByName(deltas)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_items").alias("n_items"),
            F.sum("revenue_cents").alias("revenue_cents"),
        )
    )
