"""Incremental CDC snapshot maintenance — MERGE-style per-epoch upsert
on ``run_epochs``' driver-planned epochs (SURVEY.md §2 B2/B3,
incremental form).

The reference stops at emitting raw change files; the capability those
files exist to serve is a continuously-maintained current-state table.
Per epoch:

1. reduce the epoch's changes to one winner per (table, key) —
   ``latest_per_key`` (max_by, single shuffle over the *batch*, which
   is small by construction);
2. merge winners into the snapshot: keep every snapshot row whose key
   is untouched this epoch (left-anti), union the epoch winners, drop
   keys whose latest action is D;
3. atomically swap the snapshot directory (write new → rename).

Scale notes:
- per-epoch cost is O(batch + snapshot-partitions-touched); with the
  snapshot bucketed by key the anti-join is co-partitioned and does
  not reshuffle the snapshot.  On plain parquet (this environment) the
  swap rewrites the snapshot; a table format with row-level MERGE
  (Delta/Iceberg — public Spark ecosystem) makes step 3 a metadata
  operation.  The operator body is identical either way; only
  ``_commit`` changes.
- state never lives on the driver; the "snapshot" is a table, not a
  variable (contrast the reference's in-memory commit-ts map,
  WorkerRunnable.java:37, which grows for the whole run — §2 bug 5).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..operators.cdc import latest_per_key
from .pipeline import CHANGES_SCHEMA, run_epochs

SNAPSHOT_COLS = (
    "table_name", "key", "last_event_id", "last_action",
    "last_val_cents", "last_commit_ts_ms",
)
_SNAPSHOT_SCHEMA = (
    "table_name string, key long, last_event_id long, last_action string, "
    "last_val_cents long, last_commit_ts_ms long"
)


def merge_epoch(snapshot: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Pure merge step: apply one epoch's changes to the snapshot.

    ORDERED merge, not replace: per key the stored row and the epoch's
    winner compete on (commit_ts_ms, event_id) — the same guard the
    stateful twin applies (snapshot_state._merge_batch) — so an
    out-of-order or redelivered epoch carrying only OLDER versions of a
    key cannot regress the snapshot (the naive anti-join+union form
    installed whatever the epoch brought).  This also makes the merge
    commutative across epochs, not merely associative.

    Known limit (shared with every tombstone-dropping MERGE): a deleted
    key's tombstone leaves the snapshot immediately, so a stale
    pre-delete version redelivered in a LATER epoch would reinstate the
    key.  Exactly-once epoch delivery (``run_epochs``' planned and
    committed epochs) rules that out here; pipelines that must survive
    cross-epoch redelivery retain tombstones for a retention window —
    that policy is implemented in cdc_log_compaction.
    """
    winners = latest_per_key(batch)
    if snapshot is not None:
        merged = (
            snapshot.unionByName(winners)
            .groupBy("table_name", "key")
            .agg(
                F.max_by(
                    F.struct(*[
                        c for c in SNAPSHOT_COLS
                        if c not in ("table_name", "key")
                    ]),
                    F.struct("last_commit_ts_ms", "last_event_id"),
                ).alias("last"),
            )
            .select(
                "table_name",
                "key",
                *[
                    F.col(f"last.{c}").alias(c)
                    for c in SNAPSHOT_COLS
                    if c not in ("table_name", "key")
                ],
            )
        )
    else:
        merged = winners
    return merged.filter(F.col("last_action") != "D")


def maintain_table(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
    name: str,
    schema: str,
    merge: Callable[[DataFrame | None, DataFrame], DataFrame],
) -> DataFrame:
    """Maintain the table ``out_dir/name`` across every feed epoch and
    return it.  Per epoch, ``merge(stored, batch_df)`` (``stored`` is
    None before the first epoch) is written as version
    ``name.v{epoch_id}`` and published by a crash-safe pointer swap
    (cache.publish_snapshot): the table is never absent mid-publish, so
    a replayed epoch merges into the previous state instead of
    rebuilding from one epoch.  Reads take ``schema``, so none infers
    it with a Spark job.
    """
    table_dir = os.path.join(out_dir, name)
    read = spark.read.schema(schema)

    def epoch_body(batch_df: DataFrame, epoch_id: int) -> None:
        stored = read.parquet(table_dir) if os.path.exists(table_dir) else None
        version = f"{table_dir}.v{epoch_id}"
        merge(stored, batch_df).write.mode("overwrite").parquet(version)
        cache.publish_snapshot(version, table_dir)

    run_epochs(
        spark, feed_dir, os.path.join(out_dir, "epochs"), CHANGES_SCHEMA, epoch_body
    )
    return read.parquet(table_dir)


def run_incremental_snapshot(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
) -> DataFrame:
    """Maintain the snapshot across every available epoch; returns the
    final snapshot DataFrame."""
    return maintain_table(
        spark, feed_dir, out_dir, "snapshot", _SNAPSHOT_SCHEMA,
        lambda stored, batch: merge_epoch(stored, batch).select(*SNAPSHOT_COLS),
    )
