"""A10 — delimited-text extract sink.

Reference analog: each worker appends pipe-joined stringified rows to a
local ``chunk<threadID>`` file (``WorkerRunnable.java:75-77`` opens the
file, ``:202-216`` formats the row).  The Spark-first equivalent is a
partitioned CSV write with ``sep='|'`` — one output file per partition
is exactly one chunk file per worker, except the layout is driven by the
data's partitioning rather than by thread identity, and the write is
atomic/exactly-once via the file-commit protocol instead of best-effort
appends.

Scale: the sink is a narrow map (stringify) + write; no shuffle is
introduced unless the caller asks for ``partition_by`` (demux by table,
B1), which reuses the hash partitioning of the upstream plan when
possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PIPE = "|"


def stringify_all(df: DataFrame) -> DataFrame:
    """A5 boundary cast: every column to string (``rs.getString(i)``
    loop, WorkerRunnable.java:206-207).  Map/array payloads are JSON-
    rendered first — the hstore-analog columns (SURVEY.md §1.2 cols
    15-16) stay structured until this sink boundary."""
    cols = []
    for name, dtype in df.dtypes:
        c = F.col(name)
        if dtype.startswith(("map", "array", "struct")):
            c = F.to_json(c)
        cols.append(c.cast("string").alias(name))
    return df.select(*cols)


def write_pipe_text(
    df: DataFrame, path: str, partition_by: str | None = None
) -> None:
    """Write the pipe-delimited extract (``chunk*`` files), replacing
    anything at ``path``.

    The ``run`` epoch body writes each epoch to its own staging dir and
    publishes the files under an epoch-keyed name
    (``streaming/pipeline.py``) — the analog of the reference's
    per-task appends, but idempotent under replay.
    """
    writer = stringify_all(df).write.mode("overwrite").option(
        "sep", PIPE
    ).option("header", "true")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.csv(path)


def write_range_clustered(
    df: DataFrame, path: str, key: str, n_partitions: int = 8
) -> None:
    """Range-clustered parquet layout: range-repartition on ``key`` and
    sort within partitions before writing, so each output file covers a
    narrow, (near-)disjoint slice of the key space.

    Scale: this is the data-layout half of pruning.  ``partitionBy``
    (write_partitioned_parquet) prunes on low-cardinality discrete
    columns via directories; range clustering is the continuous-key
    counterpart — parquet footers carry per-file/row-group min-max for
    the sort key, so a range filter skips whole files without any
    directory scheme.  At 100 TB this turns a time-slice query over an
    event log into I/O proportional to the slice, and it is exactly the
    layout an ingest pipeline should apply to commit-timestamp ordered
    CDC extracts (SURVEY.md B4) before handing them to analysts.
    ``repartitionByRange`` samples the key distribution, so skew in the
    key does not skew file sizes the way hash-modulo bucketing can.
    """
    (
        df.repartitionByRange(n_partitions, F.col(key))
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(path)
    )


def _normalize_to_bits(name: str, lo: int, hi: int, bits: int):
    """Map integer column ``name`` with known [lo, hi] domain onto
    [0, 2^bits): integer arithmetic only (``DIV``, not ``/`` — float
    scaling drifts once (hi-lo)·2^bits passes 2^53).  Equal-width
    scaling; heavily skewed domains would want quantile bins instead
    (same interleave, different normalizer)."""
    span = max(1, int(hi) - int(lo))
    top = (1 << bits) - 1
    return F.expr(
        f"CAST(((CAST(`{name}` AS BIGINT) - {int(lo)}L) * {top}L) "
        f"DIV {span}L AS BIGINT)"
    )


def zorder_key(a, b, bits: int = 16):
    """Z-value (Morton code) of two columns already normalized to
    [0, 2^bits): bit ``i`` of ``a`` lands at position ``2i``, of ``b``
    at ``2i+1``.  Pure JVM bit arithmetic (shift/and/sum) — whole-stage
    codegen'd, no UDF.  ``bits=16`` interleaves into a 32-bit long.

    Both dimensions MUST be normalized to the same bit width first —
    interleaving raw values lets the wider domain's high bits dominate
    the key and the narrow column gets no locality at all (observed:
    a 4-bit user_id vs a 10-bit event_id degenerates to a plain
    event_id sort)."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftrightunsigned(a, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftrightunsigned(b, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return z


def _quantile_bits(
    df: DataFrame, name: str, bits: int, rel_err: float = 0.001
):
    """Skew-resistant normalizer: bucket by 2^bits approximate
    quantiles (driver-literal boundaries from one approxQuantile pass),
    so a heavy-tailed domain still splits into equal-POPULATION cells —
    equal-width min/max scaling would put most rows in a few cells and
    z-locality collapses.  Monotone by construction, so the interleave
    stays order-aligned per dimension."""
    from .partitioning import _bucket_expr, _dedupe_splits

    n_bins = 1 << bits
    probs = [i / n_bins for i in range(1, n_bins)]
    splits = _dedupe_splits(df.approxQuantile(name, probs, rel_err))
    # bucket = count of boundaries <= value (0 .. len(splits)) via the
    # shared binary-search WHEN tree (partitioning._bucket_expr) — the
    # size(filter(array, λ)) form this replaced interprets the lambda
    # per element outside codegen, measured 4-6× slower on the same
    # shape.  NULLs clamp to cell 0 (the λ form's behavior); then the
    # bucket is rescaled onto the FULL [0, 2^bits) range —
    # low-cardinality domains dedupe to few boundaries, and unscaled
    # ids would occupy only the low bits of the interleave (the same
    # dominance trap as raw-value interleaving, zorder_key docstring).
    bucket = F.greatest(
        F.lit(0), _bucket_expr(name, splits).cast("long")
    )
    top = (1 << bits) - 1
    return (bucket * F.lit(top) / F.lit(max(1, len(splits)))).cast("long")


def write_zorder_clustered(
    df: DataFrame, path: str, col_a: str, col_b: str, n_partitions: int = 8,
    bits: int = 16, normalizer: str = "minmax",
) -> None:
    """Z-order-clustered parquet layout: range-repartition + sort on the
    interleaved z-key of TWO columns, so each file covers a small
    rectangle of the 2-D key space and parquet footer min/max on BOTH
    columns stay tight per file.

    write_range_clustered solves 1-D pruning; a sort on (a, b) gives b
    no locality once a has any spread.  Z-ordering is the standard
    multi-dimensional fix (Delta/Iceberg expose the same verb): a query
    filtering either column — or both — skips most files.  The z-key is
    computed, used for layout, and never written.

    Each dimension is min/max-normalized to ``bits`` wide before
    interleaving (one O(1)-result aggregate over the input; the scalars
    become plan literals).  Scale: the stats pass is a map-side
    partial-max — bytes shuffled ≈ one long per task — and the layout
    write is the same single range-shuffle as 1-D clustering."""
    if normalizer == "quantile":
        # equal-population cells for skewed domains; 8 bits/dim keeps
        # the boundary literals small (255 per dim) and the per-row
        # bucket scan cheap — plenty: 2^16 cells over n_partitions files
        qbits = min(bits, 8)
        z = zorder_key(
            _quantile_bits(df, col_a, qbits),
            _quantile_bits(df, col_b, qbits),
            qbits,
        )
    else:
        # an empty input collects NULL bounds — clamp to 0 so the
        # layout write still produces a (zero-row) extract instead of
        # raising int(None) (round-12 empty-input sweep finding)
        lo_a, hi_a, lo_b, hi_b = (
            0 if v is None else v
            for v in df.agg(
                F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
            ).first()
        )
        z = zorder_key(
            _normalize_to_bits(col_a, lo_a, hi_a, bits),
            _normalize_to_bits(col_b, lo_b, hi_b, bits),
            bits,
        )
    (
        df.repartitionByRange(n_partitions, z)
        .sortWithinPartitions(z)
        .write.mode("overwrite")
        .parquet(path)
    )


def read_pipe_text(spark: SparkSession, path: str) -> DataFrame:
    """Re-read an extract for verification (all columns string — the
    extract is a text artifact by contract, like the reference's chunk
    files consumed by downstream tooling)."""
    return spark.read.option("sep", PIPE).option("header", "true").csv(path)

def write_partitioned_parquet(
    df: DataFrame, path: str, partition_col: str
) -> None:
    """B1 physical demux: hash-route rows into one directory per
    partition value (``partitionBy``) — the production form of the
    reference's per-table chunk files, except the layout key is a data
    column, not a thread id.

    Scale: this is THE layout that makes downstream partition pruning
    work — a reader filtering on the partition column opens only the
    matching directories (zero I/O for the rest), which at 100 TB is
    the difference between scanning one table's feed and all nine."""
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
