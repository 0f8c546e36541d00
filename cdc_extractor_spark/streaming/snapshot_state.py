"""Streaming latest-per-key snapshot as a custom stateful operator.

Reference analog: the extractor's entire output exists so a consumer
can maintain current table state from the change stream (SURVEY.md §2
group B).  The batch form is ``operators/cdc.py:latest_per_key`` (one
``max_by`` aggregate); this module is its *incremental* twin — per
(table, key) the engine keeps the running latest version in
checkpointed per-group state and emits an updated snapshot row every
time a micro-batch touches the key.  Contrast with streaming/upsert.py,
which maintains the same snapshot with a per-epoch MERGE *outside*
engine state: here the snapshot IS the operator state —
crash-safe, per-key partitioned, no read-modify-write of an external
table per epoch.

Implementation: ``applyInPandasWithState`` (GroupState).

Scale: state is one fixed-width row per live key, hash-partitioned by
(table_name, key) across executors — the 100 TB sizing question is
state-store capacity (RocksDB at ~100 B/key), not shuffle volume; each
micro-batch shuffles only its own rows.  Late rows are resolved by
(commit_ts_ms, event_id) ordering against the stored version, so an
out-of-order delivery can never regress the snapshot (the reference
would silently mis-order it — SURVEY.md §2 checklist "late data").
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .pipeline import read_change_stream, run_available_now

STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_event_id", T.LongType()),
        T.StructField("last_action", T.StringType()),
        T.StructField("last_val_cents", T.LongType()),
        T.StructField("last_commit_ts_ms", T.LongType()),
        T.StructField("n_changes", T.LongType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("key", T.LongType()),
        T.StructField("last_event_id", T.LongType()),
        T.StructField("last_action", T.StringType()),
        T.StructField("last_val_cents", T.LongType()),
        T.StructField("last_commit_ts_ms", T.LongType()),
        T.StructField("n_changes", T.LongType()),
    ]
)


def _merge_batch(
    state_row: tuple, pdfs: Iterator[pd.DataFrame]
) -> tuple:
    """Fold a micro-batch into (ev, action, val, ts, n): batch-local
    argmax by (commit_ts_ms, event_id) — vectorized — then one ordered
    comparison against the stored version."""
    ev, action, val, ts, n = state_row
    for pdf in pdfs:
        if not len(pdf):
            continue
        n += len(pdf)
        idx = (
            pdf[["commit_ts_ms", "event_id"]]
            .apply(tuple, axis=1)
            .idxmax()
        )
        top = pdf.loc[idx]
        cand = (
            int(top["event_id"]), str(top["action"]),
            int(top["val_cents"]), int(top["commit_ts_ms"]),
        )
        if (cand[3], cand[0]) > (ts, ev):
            ev, action, val, ts = cand
    return ev, action, val, ts, n


def _advance_snapshot(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    prev = state.get if state.exists else (-1, "", 0, -1, 0)
    ev, action, val, ts, n = _merge_batch(prev, pdfs)
    state.update((ev, action, val, ts, n))
    yield pd.DataFrame(
        {
            "table_name": [key[0]],
            "key": [int(key[1])],
            "last_event_id": [ev],
            "last_action": [action],
            "last_val_cents": [val],
            "last_commit_ts_ms": [ts],
            "n_changes": [n],
        }
    )


def run_stateful_snapshot(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
) -> DataFrame:
    """Consume every available feed batch through the stateful snapshot
    operator and return the final state: exactly one row per (table,
    key) — the last update emitted for that key across all epochs.

    One bounded pass drains the backlog in offset-bounded micro-batches
    (the coordinator's Task semantics) and stops; a restart on the same
    checkpoint resumes the state store where it left off.
    """
    result_dir = os.path.join(out_dir, "snap_out")
    checkpoint_dir = os.path.join(out_dir, "snap_checkpoint")

    updates = read_change_stream(spark, feed_dir).groupBy(
        "table_name", "key"
    ).applyInPandasWithState(
        _advance_snapshot,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def epoch_body(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.withColumn(
            "epoch_id", F.lit(epoch_id).cast("long")
        ).write.mode("append").parquet(result_dir)

    run_available_now(
        updates.writeStream.foreachBatch(epoch_body).outputMode("update"),
        checkpoint_dir,
    )

    all_updates = spark.read.parquet(result_dir)
    latest = F.max_by(
        F.struct(
            "last_event_id", "last_action", "last_val_cents",
            "last_commit_ts_ms", "n_changes",
        ),
        F.struct("epoch_id", "n_changes"),
    )
    return (
        all_updates.groupBy("table_name", "key")
        .agg(latest.alias("s"))
        .select("table_name", "key", "s.last_event_id", "s.last_action",
                "s.last_val_cents", "s.last_commit_ts_ms", "s.n_changes")
    )
