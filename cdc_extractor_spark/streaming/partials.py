"""Incremental EXACT distinct-count maintenance over a change stream —
bitmap partials merged per epoch on ``run_epochs``' driver-planned
epochs.

The batch twin (functions/sketches.py: bitmap_distinct_rollup) shows the
layout; this module shows the reason the layout exists: per epoch, the
stored (group, bucket) bitmaps are OR-merged with the epoch's partials —
a fixed-size-blob merge, never a rescan of history — and any report
level (per-group distinct, unions across groups) reads off the partials
alone.  This is what the reference could not do: its distinct-xid
HashSet (WorkerRunnable.java:87,130) is per-batch exact but per-RUN
unmergeable, so a restart forgets every prior batch; the bitmap table
restores exactly-once distinct counting across restarts because the OR
is idempotent (a replayed epoch merges to the same bitmaps).

Scale: epoch cost is O(batch + |groups|·|buckets| blobs); state lives in
a table, not on the driver; a 100 TB backfill merges day-partial bitmaps
the same way this merges epoch partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .upsert import maintain_table

PARTIAL_COLS = ("action", "bucket", "bm")
_PARTIAL_SCHEMA = "action string, bucket long, bm binary"


def epoch_partials(batch: DataFrame) -> DataFrame:
    """One epoch's (action, bucket) bitmap partials over the change
    keys — the shared build (functions/sketches.py: bitmap_partials),
    so the streaming tier can never diverge from the batch rollup."""
    from ..functions.sketches import bitmap_partials

    return bitmap_partials(batch, "action", "key")


def merge_partials(stored: DataFrame | None, epoch: DataFrame) -> DataFrame:
    """OR-merge an epoch's partials into the stored table.  Idempotent:
    re-merging a replayed epoch yields identical bitmaps."""
    if stored is None:
        return epoch
    return (
        stored.unionByName(epoch)
        .groupBy("action", "bucket")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
    )


def run_incremental_bitmap_distinct(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
) -> DataFrame:
    """Maintain the bitmap-partial table across every available epoch;
    returns the final per-action exact distinct-key counts."""
    return (
        maintain_table(
            spark, feed_dir, out_dir, "partials", _PARTIAL_SCHEMA,
            lambda stored, batch: merge_partials(
                stored, epoch_partials(batch)
            ).select(*PARTIAL_COLS),
        )
        .groupBy("action")
        .agg(F.sum(F.bitmap_count("bm")).alias("n_distinct_keys"))
    )
