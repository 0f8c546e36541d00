"""Order-aligned bucketing for distributed prefix-sum / global-rank
operators.

The shared two-pass pattern (orderby_commit_ts, the staleness running
mean, token-shard packing) needs a bucket id that is (a) a pure
function of the ORDER KEY's value — never ``spark_partition_id()`` or a
range partitioner, whose sampled boundaries can differ between the
count job and the re-executed final plan — and (b) monotone in the key,
so ``global rank = prefix offset(bucket) + local rank`` holds for ANY
boundary set.

Correctness is boundary-independent; only LOAD BALANCE depends on the
boundaries.  Equal-width value spans (``(v - lo) * n / span``) put
nearly every row into one bucket when the key domain is heavy-tailed —
e.g. commit timestamps with a burst, or doc ids with a sparse high
range — and that one bucket becomes a single hot sort task at 100×.
This module derives the boundaries from one ``approxQuantile`` pass
instead (the same skew fix as the Z-order sink's quantile normalizer,
sinks.py:_quantile_bits): equal-POPULATION buckets by construction, so
the largest bucket's share is bounded near 1/n_buckets regardless of
the value distribution.
"""

from __future__ import annotations

import math
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def data_proportional_partitions(
    n_rows: int,
    bytes_per_row: int = 48,
    target_bytes: int = 100 << 20,
    min_rows_per_task: int = 65536,
    parallelism: int = 1,
) -> int:
    """Shuffle-partition count sized to the DATA, not to the session
    default — ``max(size term, work term)`` over two measured regimes:

    - size term ``ceil(rows·bytes_per_row / target_bytes)``: partitions
      of O(100 MB) so no partition outgrows executor memory — the term
      that dominates at 100 TB (far MORE partitions than any static
      default).
    - work term ``min(parallelism, ceil(rows / min_rows_per_task))``:
      use up to every core, but never split the relation into chunks
      too small to be worth a task.  This is the term that SHRINKS the
      count for small loop state: the round-8 strong-scaling probe
      (SCALE.md) measured er_entity_groups 40% faster on 8 cores than
      32 because 10 CC rounds × 32 mostly-empty tasks were pure
      scheduling tax, and the round-9 controlled A/B measured the CC
      loop itself 2.2× faster at 1 partition than 32 on a 512-edge
      graph.  The work term is equally load-bearing in the other
      direction: the same r9 probe showed the 2.39M-edge PageRank
      loop 2× SLOWER at the bytes-only count (2 partitions serialized
      a CPU-bound integer join that 32 cores absorb — the strong-
      scaling table's S=2.3 said so in advance), which is why a
      bytes-only formula (first draft) was rejected.

    There is deliberately NO floor at ``parallelism``: flooring at
    total cores is exactly the empty-task regime the measurements
    exposed.  A loop whose state fits one partition SHOULD serialize —
    its per-round cost is milliseconds, and the surrounding data-sized
    stages still use the full cluster.
    """
    size_term = math.ceil(max(n_rows, 1) * bytes_per_row / target_bytes)
    work_term = min(parallelism, math.ceil(max(n_rows, 1) / min_rows_per_task))
    return max(1, size_term, work_term)


# CONCURRENCY CAVEAT for scoped_shuffle_partitions (ADVICE r9): the
# conf is SESSION-global, so any query planned concurrently on the same
# SparkSession during the scope silently inherits ``n``.  Every caller
# in this repo submits its loop jobs single-threaded from the scope's
# own thread (the harness runs one query at a time), so this is safe
# today; a caller that plans jobs from other threads must instead clone
# the session (``spark.newSession()``) and set the conf on the clone,
# or embed ``repartition(n, key)`` in the plan as pagerank_integer
# does.
@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int) -> Iterator[None]:
    """Set ``spark.sql.shuffle.partitions`` for jobs submitted inside
    the block, restoring the caller's effective value on exit (normal
    or exceptional).  Only meaningful for operators that EXECUTE their
    jobs inside the scope (eager loops with localCheckpoint/count);
    a lazily-returned DataFrame executes under the caller's conf —
    those plans embed ``repartition(n, key)`` instead (see
    graph.pagerank_integer).  Restoring the previously-EFFECTIVE value
    (rather than unsetting) is deliberate: it is semantically identical
    for this conf and avoids guessing whether the caller had set it."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, before)


def quantile_bucket(
    df: DataFrame, key: str, n_buckets: int = 32, rel_err: float = 0.01
) -> Column | None:
    """Bucket-id Column over ``df[key]`` with approximate-quantile
    boundaries: one ``approxQuantile`` action yields driver-literal
    split points; ``bucket = #splits <= value`` (monotone, value-pure).

    Returns None when ``df`` is empty (callers keep their empty path).
    Ties/duplicates in the sampled quantiles are deduped to strictly
    increasing splits, so low-cardinality keys simply produce fewer,
    bigger buckets — still correct, and never MORE skewed than the
    data itself.
    """
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = df.approxQuantile(key, probs, rel_err)
    if not bounds:
        # approxQuantile ignores NULLs, so [] means EITHER an empty
        # frame OR a non-empty frame whose key is entirely NULL — they
        # need different answers (silently treating all-NULL as empty
        # would null every rank for real rows).  One limit-1 probe
        # disambiguates; it only runs on this rare path.
        if df.isEmpty():
            return None
        return F.lit(-1).cast("int")  # all rows in the NULL bucket
    return _bucket_expr(key, _dedupe_splits(bounds))


def _dedupe_splits(bounds: list[float]) -> list[float]:
    """Strictly increasing split points from raw quantile samples —
    ties/duplicates collapse, so low-cardinality keys simply produce
    fewer, bigger buckets (still correct, never MORE skewed than the
    data itself)."""
    splits: list[float] = []
    for b in bounds:
        if not splits or b > splits[-1]:
            splits.append(float(b))
    return splits


def _bucket_expr(key: str, splits: list[float]) -> Column:
    """``bucket = #splits <= value`` evaluated as a BINARY-SEARCH tree
    of nested WHENs: ⌈log2(n)⌉ comparisons per row along one branch.
    The two rejected forms both cost 4-6× on the global-sequence query
    at sf0.1: size(filter(array, λ)) interprets the lambda per element
    outside whole-stage codegen, and a flat sum of n comparisons
    evaluates every predicate for every row.  The lazy branch
    evaluation here is what CASE WHEN compiles to in codegen, and it
    scales to 1024 buckets at 10 comparisons/row.

    NULL keys land in bucket −1 (before every value bucket), which
    makes downstream prefix-offset ranks reproduce the NULLS FIRST
    ordering of ``row_number() OVER (ORDER BY key ASC)`` — Spark's
    default — instead of dropping NULL rows."""
    v = F.col(key).cast("double")

    def tree(lo: int, hi: int) -> Column:
        # bucket index within [lo, hi]; compare against splits[mid]:
        # v >= splits[mid] ⇒ at least mid+1 splits are <= v
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(v >= F.lit(splits[mid]), tree(mid + 1, hi)).otherwise(
            tree(lo, mid)
        )

    return (
        F.when(F.col(key).isNull(), F.lit(-1))
        .otherwise(tree(0, len(splits)))
        .cast("int")
    )


def bucketed_global_rank(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list[str],
    out: str = "_rank",
    n_buckets: int = 32,
    partition_cols: list[str] | None = None,
    totals_out: dict | None = None,
) -> DataFrame:
    """Exact ``row_number() OVER (PARTITION BY *partition_cols ORDER
    BY value_col, *tiebreak_cols)`` as a new column — WITHOUT a
    global (or per-partition single-task) sort.

    The two-pass form shared with orderby_commit_ts / staleness_lag /
    pack_token_shards, packaged for reuse: quantile-bucket on the value
    (bucket id is a pure, monotone function of the VALUE, so rows with
    equal values always share a bucket and the total order never
    straddles a boundary; NULL values take bucket −1 ≙ NULLS FIRST),
    count per (partition, bucket) (one bounded collect), then ``rank =
    prefix offset + local row_number`` inside a (partition, bucket)-
    partitioned window.  No Exchange SinglePartition appears in the
    plan (asserted in test_plans.py); the largest sort task holds
    ~1/n_buckets of its partition's rows at any scale.

    With no ``partition_cols`` this is the plain global rank.  With
    them, ONE boundary pass and ONE count pass serve every partition
    (the boundaries only balance load, so sharing them across
    partitions is harmless) — the form segment_migration uses for its
    two calendar halves.  ``totals_out``, when given, is filled with
    {partition value tuple: row count} (key ``()`` for the global
    case) from the already-collected counts, so callers needing N for
    tile arithmetic skip their own count() job.

    Correctness is boundary-independent — approxQuantile only balances
    load — so the result is bit-identical to the window form and any
    exact-rank oracle.  Callers ranking the same frame several times
    should persist it first at real scale; each call runs one boundary
    pass and one count pass.
    """
    parts = list(partition_cols or [])
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = df.approxQuantile(value_col, probs, 0.01)
    if not bounds and df.isEmpty():  # truly empty: no rows to rank
        return df.withColumn(out, F.lit(None).cast("long"))
    # bounds == [] with rows present means an all-NULL value column:
    # _bucket_expr routes those to bucket -1 (NULLS FIRST) and the
    # empty split list makes every non-null row bucket 0.
    withb = df.select(
        "*", _bucket_expr(value_col, _dedupe_splits(bounds)).alias("_b")
    )
    counts: dict[tuple, int] = {
        tuple(r[c] for c in parts) + (r["_b"],): r["n"]
        for r in withb.groupBy(*parts, "_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    from pyspark.sql import types as T

    part_fields = (
        [df.schema[c] for c in parts] if parts else []
    )
    off_schema = T.StructType(
        [T.StructField(f.name, f.dataType) for f in part_fields]
        + [
            T.StructField("_b", T.IntegerType()),
            T.StructField("_off", T.LongType()),
        ]
    )
    offsets = []
    # repr-keyed sort: partition values may be NULL (None) or mixed
    # types, which Python's default ordering refuses to compare; only
    # DETERMINISM of this driver-side iteration matters, not the order
    # itself (offsets are keyed, not positional).
    for pkey in sorted({k[:-1] for k in counts}, key=repr):
        acc = 0
        # bucket order (k[-1], an int) is LOAD-BEARING: offsets are the
        # running prefix over ascending buckets
        for key in sorted(
            (k for k in counts if k[:-1] == pkey), key=lambda k: k[-1]
        ):
            offsets.append(tuple(key) + (acc,))
            acc += counts[key]
        if totals_out is not None:
            totals_out[pkey] = acc
    off = F.broadcast(
        df.sparkSession.createDataFrame(offsets, off_schema)
    )
    from pyspark.sql import Window

    wl = Window.partitionBy(*parts, "_b").orderBy(value_col, *tiebreak_cols)
    # null-safe equi-join: a NULL partition value is a legitimate group
    # (the window treats it as one) — a plain join key would silently
    # DROP those rows, not just mis-rank them
    offr = off
    cond = F.lit(True)
    for c in parts:
        offr = offr.withColumnRenamed(c, f"_po_{c}")
        cond = cond & F.col(c).eqNullSafe(F.col(f"_po_{c}"))
    cond = cond & (F.col("_b") == F.col("_pb"))
    offr = offr.withColumnRenamed("_b", "_pb")
    return (
        withb.join(offr, cond)
        .withColumn(out, (F.col("_off") + F.row_number().over(wl)).cast("long"))
        .drop("_b", "_pb", "_off", *[f"_po_{c}" for c in parts])
    )


def ntile_from_rank(rk: str, n_tiles: int, total: int) -> Column:
    """ntile(n) over N total rows as pure arithmetic on an exact
    global rank column ``rk`` (bucketed_global_rank's output) — with
    q = N div n, r = N mod n, ntile gives tiles 1..r exactly q+1 rows
    and the rest q (NOT an even spread of the remainder: at N=13, n=5
    the sizes are 3,3,3,2,2), so ranks ≤ r·(q+1) tile as
    ``(rank−1) DIV (q+1) + 1`` and the rest as
    ``r + (rank−1−r·(q+1)) DIV q + 1``.  Bit-identical to
    ``ntile(n) OVER (ORDER BY ...)`` for the same total order, with no
    window at all."""
    q, r = divmod(max(total, 1), n_tiles)
    if q == 0:  # fewer rows than tiles: ntile assigns tile = rank
        return F.col(rk).cast("long")
    cutoff = r * (q + 1)
    return (
        F.when(
            F.col(rk) <= cutoff,
            F.expr(f"({rk} - 1) DIV {q + 1} + 1"),
        )
        .otherwise(F.expr(f"({rk} - 1 - {cutoff}) DIV {q} + {r} + 1"))
        .cast("long")
    )


def ntile_from_rank_cols(rk: str, n_col: str, n_tiles: int) -> Column:
    """Columnar form of :func:`ntile_from_rank` for PARTITIONED tiles:
    the group total ``n_col`` is a per-row COLUMN (each window
    partition has its own N — e.g. per-event_type deciles), so q/r/
    cutoff become column arithmetic instead of driver literals.  With
    q = N div n, r = N mod n, ntile gives tiles 1..r exactly q+1 rows
    and the rest q, so ranks ≤ r·(q+1) tile as ``(rank−1) DIV (q+1)+1``
    and the rest as ``r + (rank−1−r·(q+1)) DIV q + 1`` — bit-identical
    to ``ntile(n) OVER (PARTITION BY g ORDER BY ...)`` for the same
    per-group total order.  The q = 0 branch (fewer rows than tiles ⇒
    tile = rank) is selected by a lazy CASE WHEN, so the ``DIV q``
    arm never evaluates a zero divisor."""
    q = F.expr(f"{n_col} DIV {n_tiles}")
    r = F.expr(f"{n_col} % {n_tiles}")
    cutoff = r * (q + 1)
    return (
        F.when(q == 0, F.col(rk))
        .when(
            F.col(rk) <= cutoff,
            F.expr(f"({rk} - 1) DIV ({n_col} DIV {n_tiles} + 1) + 1"),
        )
        .otherwise(
            F.expr(
                f"{n_col} % {n_tiles} + "
                f"({rk} - 1 - {n_col} % {n_tiles} * ({n_col} DIV {n_tiles} + 1))"
                f" DIV ({n_col} DIV {n_tiles}) + 1"
            )
        )
        .cast("long")
    )


def bucketed_global_ranks(
    df: DataFrame,
    value_cols: list[str],
    tiebreak_cols: list[str],
    n_buckets: int = 32,
    out_prefix: str = "_rk_",
    totals_out: dict | None = None,
) -> DataFrame:
    """Exact global row_number for SEVERAL metrics over the same frame
    in a FIXED number of jobs — the multi-metric form of
    bucketed_global_rank (chaining that helper re-executes every prior
    rank's plan per boundary/count action, which dominated RFM's
    wall-clock at small SF):

    1. ONE multi-column approxQuantile action (all boundary sets);
    2. ONE GROUPING-SETS aggregate (per-bucket counts for every metric
       in a single Expand pass; collects ≤ len(value_cols)·n_buckets
       rows);
    3. one final plan with a bucket-partitioned window per metric.

    Each output column ``out_prefix + col`` equals ``row_number() OVER
    (ORDER BY col, *tiebreak_cols)`` exactly — same
    boundary-independence argument as bucketed_global_rank.  Callers
    should hand in a materialized (localCheckpointed/persisted) frame
    at real scale so steps 1-2 don't recompute upstream work.  When
    ``totals_out`` is given it is filled with {col: total row count}
    from the already-collected bucket counts — callers needing N for
    tile arithmetic skip their own count() job.
    """
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = df.approxQuantile(list(value_cols), probs, 0.01)
    # approxQuantile ignores NULLs: an empty boundary list for a
    # column means EITHER an empty frame or an all-NULL column.  Only
    # the truly-empty frame short-circuits; an all-NULL column simply
    # gets an empty split list (every row → the NULL bucket -1, which
    # is NULLS FIRST — matching the window form this replaces).
    if any(not b for b in bounds) and df.isEmpty():
        out = df
        for c in value_cols:
            out = out.withColumn(out_prefix + c, F.lit(None).cast("long"))
        return out
    bcols = {c: f"_b_{c}" for c in value_cols}
    withb = df.select(
        "*",
        *[
            _bucket_expr(c, _dedupe_splits(bs)).alias(bcols[c])
            for c, bs in zip(value_cols, bounds)
        ],
    )
    counts = (
        withb.groupingSets(
            [[bcols[c]] for c in value_cols], *[bcols[c] for c in value_cols]
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    # a grouping-sets row belongs to the metric whose bucket column is
    # non-null (bucket ids themselves are never null)
    per_metric: dict[str, dict[int, int]] = {c: {} for c in value_cols}
    for r in counts:
        nn = [c for c in value_cols if r[bcols[c]] is not None]
        if len(nn) == 1:
            per_metric[nn[0]][r[bcols[nn[0]]]] = r["n"]
    from pyspark.sql import Window

    out = withb
    drop = list(bcols.values())
    for c in value_cols:
        offsets, acc = [], 0
        for b in sorted(per_metric[c]):
            offsets.append((b, acc))
            acc += per_metric[c][b]
        if totals_out is not None:
            totals_out[c] = acc
        off = F.broadcast(
            df.sparkSession.createDataFrame(
                offsets, f"{bcols[c]} int, _off_{c} long"
            )
        )
        wl = Window.partitionBy(bcols[c]).orderBy(c, *tiebreak_cols)
        out = out.join(off, bcols[c]).withColumn(
            out_prefix + c,
            (F.col(f"_off_{c}") + F.row_number().over(wl)).cast("long"),
        )
        drop.append(f"_off_{c}")
    return out.drop(*drop)
