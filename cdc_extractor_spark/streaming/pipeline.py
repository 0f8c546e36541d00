"""CDC ingestion — the reference's coordinator / worker /
staleness-monitor topology re-expressed as driver-planned epochs
(``run_cdc_pipeline``) plus the Structured Streaming passes that need a
state store (SURVEY.md §3.2-3.4).

Mapping (SURVEY.md §3):
- coordinator poll loop (``CoordinatorRunnable.java:67-110``: sleep →
  ``max(event_id)`` → emit ``(lo, hi]`` task)  ≙  a driver listing of
  the feed files no epoch has planned yet; ``sleepDuration`` is the
  caller's cadence of ``run`` calls.  The reference emits one ``Task``
  per poll; here each arrived file is one epoch, so a call over a
  backlog of k files runs k epochs;
- worker epoch body (``WorkerRunnable.java:85-200``: range scan →
  stringify → append chunk file → distinct xids → commit-ts lookup →
  advance ``uptodate``)  ≙  ``run_cdc_pipeline``'s epoch body, a batch
  read of the epoch's planned files.  The reference collects each
  row's xid in the same loop that appends the row; here the epoch's
  metrics (offset range, rows, distinct txns, ``uptodate``) are an
  ``Observation`` on the extract write itself, so a data epoch is one
  Spark job, with no second scan of the batch;
- staleness monitor (``QueryRequestRunnable.java:30-54``)  ≙  the
  extraction's own per-epoch metrics rows: each epoch's
  ``uptodate_ms`` reaches the driver as the epoch commits, and the
  caller reads ``now − uptodate`` off the rows of the epochs it just
  extracted — no shared mutable ``uptodate`` static, no broken lock
  (§2 bug list).

Exactly-once comes from the two parts the *Structured Streaming* paper
names: a replayable source (``run_epochs``' plan and commit records
under ``epochs/``) and sinks keyed by epoch id.  The epoch's extract
files are staged and renamed into ``extract/`` under an
``epoch_NNNNN-`` prefix, replacing any files of an earlier attempt, and
its metrics row is one file named by the epoch.

The bounded task queue / backpressure (``Client.java:17``,
``ArrayBlockingQueue(10000)``) has no code here at all: each arrived
file is one epoch, and a call drains the backlog epoch by epoch.  One
epoch per poll is not attempted here: ``streaming_microbatch_epochs``'s
oracle pins one epoch per file, and a poller that keeps up (the live
case) never has a backlog above one file.

Passes that keep no engine state run on ``run_epochs``.  Passes whose
state the engine keeps (dedup, joins, windows, sessions,
``snapshot_state``) or that read a streaming source (``sources/pyds.py``)
run as one bounded pass through ``run_available_now``; a stopped pass's
uncommitted epoch is replayed by the next pass on the same checkpoint.

Scale: each epoch is a distributed job over the files' row groups; the
plans and per-epoch metrics are one driver-side file each per epoch
(O(epochs), not O(rows)) on a driver-local path.  The observed
distinct-txn set holds one epoch's transaction ids, the set the
reference's worker looks up.  At 100 TB the identical pipeline runs
with the feed dir on object storage (listed through ``pyarrow.fs``),
polled on the caller's cadence.  Only ``out_dir`` must be a filesystem
the driver mounts: the plans, the metrics files and the extract publish
are driver-side renames (on object storage the publish becomes a
Hadoop ``FileSystem`` rename).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from ..sinks import write_pipe_text

# How long one pass may run before run_available_now stops it, and
# run_cdc_pipeline's default bound (the run CLI's --run-duration-min
# sets its own).
PASS_TIMEOUT_SEC = 180

# Fixed mtime base for feed files (any value works — only the ORDER
# matters to the feed listing; a constant keeps reruns identical).
_FEED_MTIME_BASE = 1_700_000_000

# The derived change-feed record (sources/changes.py, FIXTURES.md §2).
CHANGES_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("transaction_id", T.LongType()),
        T.StructField("commit_ts_ms", T.LongType()),
        T.StructField("action", T.StringType()),
        T.StructField("key", T.LongType()),
        T.StructField("val_cents", T.LongType()),
    ]
)

# One epoch's summary row — the analog of the reference's run-log /
# task-processing-time lines (CoordinatorRunnable.java:53-61, 123-130).
EPOCH_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("epoch_id", T.LongType()),
        T.StructField("min_event_id", T.LongType()),
        T.StructField("max_event_id", T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_txns", T.LongType()),
        T.StructField("uptodate_ms", T.LongType()),
    ]
)


def _stamp_batch_mtime(batch_dir: str, i: int) -> None:
    """Stamp every file of batch ``i`` at ``_FEED_MTIME_BASE + i``
    seconds.  Feeds are read in (modification time, path) order and
    sub-second writes tie, so strictly increasing stamps pin the
    file→epoch order: epoch 0 always scans batch_00000, and the
    per-epoch metrics become oracle-stable."""
    t = _FEED_MTIME_BASE + i
    for root, _, files in os.walk(batch_dir):
        for fn in files:
            os.utime(os.path.join(root, fn), (t, t))


def write_feed_batches(changes: DataFrame, feed_dir: str, n_batches: int) -> list[tuple[int, int]]:
    """Materialize the change stream as ``n_batches`` arrival files in
    ``event_id`` order — the test-time stand-in for the audit table
    growing between coordinator polls.

    Returns the list of ``(lo, hi]`` ranges written (driver-side bounds
    only — the split is ntile-over-event_id SEMANTICS computed as the
    bucketed two-pass exact rank (partitioning.bucketed_global_rank)
    plus ntile's closed form on the rank, so no global single-task
    sort appears even when the feed is event-volume-sized (VERDICT r4
    #5); the batch boundaries are bit-identical to the former
    ``ntile(n) OVER (ORDER BY event_id)``, keeping every derived
    per-epoch oracle and cached feed valid.  Only bucket-count
    metadata and the n_batches (lo, hi) bounds rows ever reach the
    driver.
    """
    from ..partitioning import bucketed_global_rank, ntile_from_rank

    os.makedirs(feed_dir, exist_ok=True)
    # Pin the change stream once: the boundary pass, the bucket-count
    # pass, and every per-batch filter+write below re-read it.  N for
    # the ntile arithmetic falls out of the rank pass's counts.
    changes = changes.localCheckpoint()
    totals: dict[tuple, int] = {}
    bucketed = bucketed_global_rank(
        changes, "event_id", [], out="_rk", totals_out=totals
    ).withColumn(
        "_bucket", ntile_from_rank("_rk", n_batches, totals.get((), 0))
    )
    bounds = (
        bucketed.groupBy("_bucket")
        .agg(F.min("event_id").alias("lo"), F.max("event_id").alias("hi"))
        .orderBy("_bucket")
        .collect()
    )
    # empty stream: a filtered-to-nothing feed is a valid (if dull)
    # input — return zero ranges instead of IndexError on bounds[0]
    # (the reference crashes on exactly this: Collections.max of an
    # empty map, WorkerRunnable.java:145)
    if not bounds:
        return []
    # contiguous (lo, hi] ranges: each task's hi is the next task's lo,
    # exactly the coordinator's maxSeqID handoff (CoordinatorRunnable.java:87-92)
    ranges: list[tuple[int, int]] = []
    prev = bounds[0]["lo"] - 1
    for i, row in enumerate(bounds):
        lo, hi = prev, row["hi"]
        batch = changes.filter(
            (F.col("event_id") > lo) & (F.col("event_id") <= hi)
        )
        bdir = os.path.join(feed_dir, f"batch_{i:05d}")
        batch.coalesce(1).write.mode("overwrite").parquet(bdir)
        _stamp_batch_mtime(bdir, i)
        ranges.append((lo, hi))
        prev = hi
    return ranges


def read_change_stream(spark: SparkSession, feed_dir: str) -> DataFrame:
    """The streaming scan of the change feed.  ``maxFilesPerTrigger=1``
    makes each arrived file one epoch (the coordinator's one Task per
    poll, CoordinatorRunnable.java:88, when the poller keeps up)."""
    return (
        spark.readStream.schema(CHANGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(feed_dir)
    )


def run_available_now(
    writer: DataStreamWriter,
    checkpoint_dir: str,
    timeout_sec: float = PASS_TIMEOUT_SEC,
) -> None:
    """Run ``writer`` as one bounded pass on ``checkpoint_dir``: start
    it with ``trigger(availableNow=True)``, wait up to ``timeout_sec``
    for it to drain every file that arrived since the checkpoint's last
    committed epoch, and stop it if it is still running.  A stopped
    pass leaves its uncommitted epoch to the next pass on the same
    checkpoint, which replays it.

    No query outlives the call.  A pass that finishes on its own is not
    touched again, so the runner adds no Spark job.
    """
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_sec)
    finally:
        if q.isActive:
            q.stop()


def _append_parquet(df: DataFrame, result_dir: str, checkpoint_dir: str) -> None:
    """One bounded pass of ``df`` into an append-mode parquet sink at
    ``result_dir``."""
    run_available_now(
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", result_dir),
        checkpoint_dir,
    )


def _epoch_metrics_arrow_schema():
    import pyarrow as pa

    return pa.schema([(f.name, pa.int64()) for f in EPOCH_METRICS_SCHEMA])


def _publish_epoch_metrics(metrics_dir: str, row: dict) -> None:
    """Write one epoch's metrics row as ``epoch_{id}.parquet``: a temp
    file renamed into place, so a replayed epoch replaces its own row
    instead of appending a duplicate, and no reader sees a torn file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    name = f"epoch_{row['epoch_id']:05d}.parquet"
    tmp = os.path.join(metrics_dir, f".{name}.tmp")
    pq.write_table(
        pa.Table.from_pylist([row], schema=_epoch_metrics_arrow_schema()), tmp
    )
    os.replace(tmp, os.path.join(metrics_dir, name))


def read_epoch_metrics(metrics_dir: str) -> list[dict]:
    """Every epoch's metrics row under ``metrics_dir``, in epoch order,
    read on the driver — O(epochs) small files, no Spark job."""
    import pyarrow.parquet as pq

    table = pq.read_table(metrics_dir, schema=_epoch_metrics_arrow_schema())
    return table.sort_by("epoch_id").to_pylist()


def _publish_epoch_extract(staging: str, extract_dir: str, epoch_id: int) -> None:
    """Move one epoch's staged extract files into ``extract_dir`` as
    ``table_name=X/epoch_{id}-<part>.csv``, first removing any files an
    earlier attempt of the same epoch published, so a replayed epoch
    replaces its rows instead of appending them a second time."""
    prefix = f"epoch_{epoch_id:05d}-"
    for old in glob.glob(os.path.join(extract_dir, "table_name=*", prefix + "*")):
        os.remove(old)
    for part_dir in glob.glob(os.path.join(staging, "table_name=*")):
        dest = os.path.join(extract_dir, os.path.basename(part_dir))
        os.makedirs(dest, exist_ok=True)
        for fn in os.listdir(part_dir):
            if fn.startswith("part-") and fn.endswith(".csv"):
                os.replace(os.path.join(part_dir, fn), os.path.join(dest, prefix + fn))
    shutil.rmtree(staging)


def _list_feed(feed_dir: str) -> tuple[str, list[str]]:
    """List the feed on the driver: its base path and its visible files,
    relative to it, in arrival order.

    The file source's rules: a path with a component under the feed
    root that starts with ``_`` or ``.`` is hidden (``_SUCCESS``,
    ``.crc`` checksums, a writer's ``_temporary/``), and files arrive
    in ``(modification time, path)`` order.  ``feed_dir`` is a local
    path or a URI (``FileSystem.from_uri``); no Spark job, no JVM call.
    """
    from pyarrow import fs as pafs

    if ":" not in feed_dir.split("/", 1)[0]:
        feed_dir = os.path.abspath(feed_dir)
    filesystem, root = pafs.FileSystem.from_uri(feed_dir)
    infos = filesystem.get_file_info(
        pafs.FileSelector(root, allow_not_found=True, recursive=True)
    )
    files = []
    for info in infos:
        rel = info.path[len(root.rstrip("/")) + 1 :]
        if info.type == pafs.FileType.File and not any(
            c.startswith(("_", ".")) for c in rel.split("/")
        ):
            files.append((info.mtime_ns, rel))
    return feed_dir.rstrip("/"), [rel for _, rel in sorted(files)]


def _read_plans(epochs_dir: str) -> dict[int, list[str]]:
    """Every planned epoch's feed files, keyed by epoch id."""
    plans = {}
    for name in os.listdir(epochs_dir):
        if name.startswith("epoch_") and name.endswith(".json"):
            with open(os.path.join(epochs_dir, name)) as f:
                plan = json.load(f)
            plans[plan["epoch_id"]] = plan["files"]
    return plans


def _write_plan(epochs_dir: str, epoch_id: int, files: list[str]) -> None:
    """Record epoch ``epoch_id``'s input before it runs: a temp file
    renamed into place, so a plan is either whole or absent."""
    name = f"epoch_{epoch_id:05d}.json"
    tmp = os.path.join(epochs_dir, f".{name}.tmp")
    with open(tmp, "w") as f:
        json.dump({"epoch_id": epoch_id, "files": files}, f)
    os.replace(tmp, os.path.join(epochs_dir, name))


def run_epochs(
    spark: SparkSession,
    feed_dir: str,
    epochs_dir: str,
    schema: T.StructType,
    body: Callable[[DataFrame, int], None],
    timeout_sec: float = PASS_TIMEOUT_SEC,
) -> None:
    """Call ``body(batch_df, epoch_id)`` once per feed file, in arrival
    order, exactly once across calls on the same ``epochs_dir``.

    Before epoch E runs, its file list is written to
    ``epochs_dir/epoch_E.json`` (a file named in any plan has been seen);
    after ``body`` returns, an empty ``epoch_E.done`` commits it.  On
    entry every planned epoch without a commit is replayed on its
    recorded files, then each unseen file becomes one new epoch.  A
    call that finds nothing new starts no Spark job.  ``batch_df`` is a
    batch read of the epoch's files; ``body`` writes only outputs keyed
    by ``epoch_id``, so a replay replaces them.  No epoch starts after
    ``timeout_sec``; the next call picks up the rest.
    """
    deadline = time.monotonic() + timeout_sec
    os.makedirs(epochs_dir, exist_ok=True)
    plans = _read_plans(epochs_dir)
    committed = set(os.listdir(epochs_dir))
    epochs = [(e, plans[e]) for e in sorted(plans) if f"epoch_{e:05d}.done" not in committed]
    seen = {f for files in plans.values() for f in files}
    base, arrived = _list_feed(feed_dir)
    first_new = max(plans, default=-1) + 1
    epochs += enumerate(([f] for f in arrived if f not in seen), first_new)
    for epoch_id, files in epochs:
        if time.monotonic() >= deadline:
            break
        if epoch_id >= first_new:
            _write_plan(epochs_dir, epoch_id, files)
        batch_df = (
            spark.read.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(*[f"{base}/{f}" for f in files])
        )
        body(batch_df, epoch_id)
        open(os.path.join(epochs_dir, f"epoch_{epoch_id:05d}.done"), "w").close()


def run_cdc_pipeline(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
    timeout_sec: float = PASS_TIMEOUT_SEC,
    tables: tuple[str, ...] | None = None,
    on_epoch: Callable[[dict], None] | None = None,
) -> list[dict]:
    """Run the full §3.3 epoch body over every feed file not yet
    extracted and return the per-epoch metrics rows, read on the driver
    (every epoch so far, not just this call's), in epoch order.

    The epochs are ``run_epochs``' on ``out_dir/epochs``: one per feed
    file, and none, with no Spark job, when nothing new has arrived.

    Per epoch, one Spark job over a batch read of its files:
    1. A10: write the stringified extract, demuxed by table (B1), to
       ``out_dir/staging/epoch_{id}``, then publish its files into
       ``out_dir/extract`` — the ``chunk*`` files;
    2. A6/A9: the offset range, row count, distinct txns and max commit
       ts are observed on that same write, collected to the driver and
       published as the epoch's own file under ``out_dir/metrics`` —
       the watermark advance.

    A replayed epoch replaces its extract files and its metrics row, so
    both stay exactly-once.

    ``on_epoch``, if given, receives each metrics row this call
    extracted, as a dict, in epoch order — the freshness of exactly
    this pass, with no second read.

    ``tables`` is the monitored-group restriction (-Dtables,
    ``Config.java:8-27``) applied as an ``In`` filter on the read —
    pushed to the scan, never interpolated into SQL text.

    ``timeout_sec`` bounds the call (the run CLI's
    ``--run-duration-min``), as in ``run_epochs``.
    """
    extract_dir = os.path.join(out_dir, "extract")
    staging_dir = os.path.join(out_dir, "staging")
    metrics_dir = os.path.join(out_dir, "metrics")
    os.makedirs(metrics_dir, exist_ok=True)

    def epoch_body(batch_df: DataFrame, epoch_id: int) -> None:
        if tables:
            batch_df = batch_df.filter(F.col("table_name").isin(*tables))
        # one Observation per epoch: an Observation reports only its
        # first action.  observe() rejects DISTINCT, hence the set size.
        obs = Observation()
        observed = batch_df.observe(
            obs,
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
            F.count(F.lit(1)).alias("n_rows"),
            F.size(F.collect_set("transaction_id")).cast("long").alias("n_txns"),
            F.max("commit_ts_ms").alias("uptodate_ms"),
        )
        staging = os.path.join(staging_dir, f"epoch_{epoch_id:05d}")
        write_pipe_text(observed, staging, partition_by="table_name")
        _publish_epoch_extract(staging, extract_dir, epoch_id)
        row = {"epoch_id": epoch_id, **obs.get}
        _publish_epoch_metrics(metrics_dir, row)
        if on_epoch is not None:
            on_epoch(row)

    run_epochs(
        spark, feed_dir, os.path.join(out_dir, "epochs"), CHANGES_SCHEMA,
        epoch_body, timeout_sec,
    )
    return read_epoch_metrics(metrics_dir)


def run_observed_staleness(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
    now_ms: int,
) -> list[dict]:
    """A12 standalone form — the staleness monitor
    (``QueryRequestRunnable.java:30-54``: sample ``now − uptodate`` every
    10 ms off a shared static) becomes an ``Observation`` on each
    epoch's read of the feed, collected to the driver as the epoch's
    action finishes — no shared mutable state, no unsynchronized
    cross-thread read (§2 bug 4).

    Returns one dict per epoch this call ran that had rows: observed
    row count, max commit ts, and the staleness lag against the fixed
    ``now_ms`` (determinism rule: never wall clock).  Driver-side cost
    is O(epochs).  The epochs come from ``run_epochs`` on
    ``out_dir/obs_epochs``.  The ``run`` CLI does not call this, and
    reads staleness off ``run_cdc_pipeline``'s own epoch rows instead.
    """
    progress: list[dict] = []

    def epoch_body(batch_df: DataFrame, epoch_id: int) -> None:
        obs = Observation()
        batch_df.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.max("commit_ts_ms").alias("uptodate_ms"),
        ).write.format("noop").mode("overwrite").save()
        row = obs.get
        if row["n_rows"]:
            lag = now_ms - row["uptodate_ms"]
            progress.append({"batch_id": epoch_id, **row, "staleness_ms": lag})

    run_epochs(
        spark, feed_dir, os.path.join(out_dir, "obs_epochs"), CHANGES_SCHEMA,
        epoch_body,
    )
    return progress


def windowed_counts_stream(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
    watermark_delay: str = "90 seconds",
) -> DataFrame:
    """B5 streaming form: per-table per-minute change counts with an
    event-time watermark.

    Deliberate policy difference from the reference (SURVEY.md §2
    checklist): the reference silently skips any row whose ``event_id``
    lands below an already-polled high-water mark
    (CoordinatorRunnable.java:87).  Here late rows are accepted up to
    ``watermark_delay`` of event time and dropped only past it —
    bounded, documented, and engine-enforced.

    Watermark granularity note: Spark advances the watermark between
    micro-batches, and a window's final emission happens on the batch
    after the advance — so within one pass a straggler can still land
    in not-yet-finalized state.  Across runs (restart on
    the same checkpoint) the recovered watermark is enforced
    immediately; tests/test_streaming.py pins both behaviors.
    """
    checkpoint_dir = os.path.join(out_dir, "wm_checkpoint")
    result_dir = os.path.join(out_dir, "wm_counts")
    stream = read_change_stream(spark, feed_dir).withColumn(
        "commit_ts", F.timestamp_millis(F.col("commit_ts_ms"))
    )
    agg = (
        stream.withWatermark("commit_ts", watermark_delay)
        .groupBy("table_name", F.window("commit_ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_changes"))
        .select(
            "table_name",
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "n_changes",
        )
    )
    _append_parquet(agg, result_dir, checkpoint_dir)
    return spark.read.parquet(result_dir)


def run_streaming_dedup(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Exactly-once delivery on an at-least-once feed: drop re-delivered
    change records by ``event_id`` with watermark-bounded state.

    A pull-based extractor that crashes between the range scan and the
    offset commit re-delivers the whole range on restart (the reference
    has no offset persistence at all — a restart re-reads from the
    fresh ``max(event_id)`` and silently *loses* the gap instead;
    §2 bug list).  ``dropDuplicatesWithinWatermark`` keeps one state
    entry per key only until the event-time watermark passes it —
    bounded state, unlike a global distinct.

    Scale: state is hash-partitioned on ``event_id`` across executors;
    per-epoch cost is one shuffle of the (small) epoch batch against
    the state store, never a rescan of history.
    """
    checkpoint_dir = os.path.join(out_dir, "dedup_checkpoint")
    result_dir = os.path.join(out_dir, "dedup_out")
    stream = read_change_stream(spark, feed_dir).withColumn(
        "commit_ts", F.timestamp_millis(F.col("commit_ts_ms"))
    )
    deduped = stream.withWatermark(
        "commit_ts", watermark_delay
    ).dropDuplicatesWithinWatermark(["event_id"])
    _append_parquet(deduped.drop("commit_ts"), result_dir, checkpoint_dir)
    return spark.read.schema(CHANGES_SCHEMA).parquet(result_dir)


def run_stream_static_enrichment(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
    dim,
):
    """Stream-static enrichment join: every change event joined to a
    static dimension table as it arrives — the streaming form of the
    reference's commit-ts scalar lookup (`WorkerRunnable.java:133-136`,
    a per-row JDBC round-trip there; a per-micro-batch broadcast hash
    join here).

    This is the one Structured Streaming join type the other streaming
    demos don't exercise: stateless (no watermark, no join state — the
    static side is re-resolved per epoch, so a dim refresh between
    epochs is picked up automatically), append-mode, with the dim
    broadcast by Catalyst exactly as in the batch plan.

    Scale: the stream side shuffles nothing; each epoch's task joins
    against the broadcast dim locally.  A dimension too large to
    broadcast would flip to a shuffled join per epoch — at that point
    pre-bucketing the dim on the join key is the standing fix
    (SCALE.md).
    """
    checkpoint_dir = os.path.join(out_dir, "sse_checkpoint")
    result_dir = os.path.join(out_dir, "sse_out")
    stream = read_change_stream(spark, feed_dir)
    joined = stream.join(
        F.broadcast(dim), stream["key"] == dim["c_custkey"], "inner"
    ).select(
        "event_id",
        "action",
        "key",
        "val_cents",
        F.col("c_nationkey").alias("nationkey"),
    )
    _append_parquet(joined, result_dir, checkpoint_dir)
    return spark.read.parquet(result_dir)


def _insert_delete_join(spark: SparkSession, feed_dir: str, how: str) -> DataFrame:
    """The change feed's insert records joined to their delete records
    on (table, key) within one hour of event time, with both sides
    watermarked at one hour so the join state can be evicted; ``how``
    is the join type.  One row per pair: the two event ids and the
    key's lifetime."""
    base = read_change_stream(spark, feed_dir).withColumn(
        "commit_ts", F.timestamp_millis(F.col("commit_ts_ms"))
    )
    inserts = (
        base.filter(F.col("action") == "I")
        .select(
            "table_name",
            "key",
            F.col("event_id").alias("insert_event_id"),
            F.col("commit_ts").alias("insert_ts"),
        )
        .withWatermark("insert_ts", "1 hour")
    )
    deletes = (
        base.filter(F.col("action") == "D")
        .select(
            F.col("table_name").alias("d_table"),
            F.col("key").alias("d_key"),
            F.col("event_id").alias("delete_event_id"),
            F.col("commit_ts").alias("delete_ts"),
        )
        .withWatermark("delete_ts", "1 hour")
    )
    return inserts.join(
        deletes,
        (F.col("table_name") == F.col("d_table"))
        & (F.col("key") == F.col("d_key"))
        & (F.col("delete_ts") >= F.col("insert_ts"))
        & (F.col("delete_ts") <= F.col("insert_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    ).select(
        "table_name",
        "key",
        "insert_event_id",
        "delete_event_id",
        (
            F.unix_millis(F.col("delete_ts")) - F.unix_millis(F.col("insert_ts"))
        ).alias("lifetime_ms"),
    )


def run_stream_stream_join(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
) -> DataFrame:
    """Stream-stream interval join: each key's insert record joined to
    its delete record arriving within one hour of event time — the
    key-lifetime query (how long did a row live?), unanswerable with
    stream-static joins because BOTH sides keep arriving.

    Watermarks on both inputs bound the join state: an insert older
    than (watermark − 1 h) can never match a future delete, so the
    engine evicts it.  That is the reference's commit-ts machinery
    (WorkerRunnable.java:133-150) upgraded to two-sided state with a
    provable eviction rule instead of an unbounded in-memory map
    (§2 bug 5).

    Scale: state is hash-partitioned on the join key; per epoch each
    side shuffles only its new rows.  The time-range condition is what
    makes eviction possible — an unbounded stream-stream join would
    hold every row forever.
    """
    result_dir = os.path.join(out_dir, "ssj_out")
    _append_parquet(
        _insert_delete_join(spark, feed_dir, "inner"),
        result_dir,
        os.path.join(out_dir, "ssj_checkpoint"),
    )
    return spark.read.parquet(result_dir)


def session_windows_stream(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
    gap: str = "5 minutes",
    watermark_delay: str = "90 seconds",
) -> DataFrame:
    """Streaming sessionization: dynamic-gap ``session_window`` per
    table over the change feed — the streaming twin of the batch
    ``session_window_events`` query (burst detection on a CDC feed:
    one row per activity burst per table, not per fixed bucket).

    Session state merges windows as rows arrive (two bursts bridge
    into one session if a row lands in the gap), so unlike tumbling
    windows the state is per *open session*, closed and emitted in
    append mode only once the watermark passes ``end + delay``.
    Scale: state size is O(open sessions) = O(tables) here, bounded by
    the watermark — the same O(groups)-not-O(rows) posture as the
    windowed counts."""
    checkpoint_dir = os.path.join(out_dir, "sess_checkpoint")
    result_dir = os.path.join(out_dir, "sess_out")
    stream = read_change_stream(spark, feed_dir).withColumn(
        "commit_ts", F.timestamp_millis(F.col("commit_ts_ms"))
    )
    agg = (
        stream.withWatermark("commit_ts", watermark_delay)
        .groupBy("table_name", F.session_window("commit_ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_changes"))
        .select(
            "table_name",
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            F.unix_millis(F.col("w.end")).alias("session_end_ms"),
            "n_changes",
        )
    )
    _append_parquet(agg, result_dir, checkpoint_dir)
    return spark.read.parquet(result_dir)


def run_stream_stream_left_outer_join(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
) -> DataFrame:
    """LEFT-OUTER stream-stream join: every insert, paired with its
    in-range delete when one arrives, or emitted with NULL delete
    columns once the watermark PROVES none can — the "which rows are
    still live?" query that the inner interval join
    (run_stream_stream_join) cannot answer, because unmatched inserts
    simply never appear there.

    Outer-null emission is watermark-driven state machinery, not a
    per-batch join: an insert row is held in state until the two-sided
    watermark passes its join window's upper bound (insert_ts + 1 h +
    the 1 h tolerance), and only then emitted unmatched.  Because the
    file source's final batch never advances the watermark PAST its own
    rows, a bounded replay would silently swallow the trailing
    unmatched inserts; the caller's feed therefore ends with a far-
    future SENTINEL batch (one I + one D on the reserved key −1) whose
    only job is to push both watermarks beyond every real event.  A
    second pass on the same checkpoint then applies the recovered
    watermark and flushes the remaining state (the
    restart-enforces-watermark behavior pinned in test_streaming.py) —
    after which the result is exactly the batch left join the oracle
    computes.

    Scale: identical state bound to the inner form — hash-partitioned
    on key, evicted at watermark; the outer variant adds no state,
    only the null-emission rule.
    """
    checkpoint_dir = os.path.join(out_dir, "ssloj_checkpoint")
    result_dir = os.path.join(out_dir, "ssloj_out")
    joined = _insert_delete_join(spark, feed_dir, "leftOuter")
    _append_parquet(joined, result_dir, checkpoint_dir)
    # restart on the same checkpoint: the recovered watermark (advanced
    # past the sentinel by pass 1) applies immediately, flushing every
    # remaining unmatched insert as an outer-null row
    _append_parquet(joined, result_dir, checkpoint_dir)
    return spark.read.parquet(result_dir).filter(F.col("key") >= 0)


# Embedding-batch feed record (round 9: streaming index maintenance).
EMBEDDING_FEED_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("label", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)

# Running IVF index state: per-(cell, dim) partials — the persisted
# index relation (cells × dim rows, never data-sized).
_IVF_STATE_SCHEMA = T.StructType(
    [
        T.StructField("label", T.LongType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("sum_micros", T.LongType()),
        T.StructField("n_vecs", T.LongType()),
    ]
)

IVF_EPOCH_SCHEMA = T.StructType(
    [
        T.StructField("epoch_id", T.LongType()),
        T.StructField("label", T.LongType()),
        T.StructField("n_total", T.LongType()),
        T.StructField("centroid_fp", T.LongType()),
    ]
)


def write_embedding_batches(
    embeddings: DataFrame, feed_dir: str, n_batches: int
) -> None:
    """Materialize the embeddings corpus as ``n_batches`` arrival files
    in contiguous vec_id ranges — new vectors arrive with increasing
    ids, the ingestion shape ivf_index_merge's ``vec_id >= split``
    contract models.  Batch membership is pure arithmetic
    (``least(vec_id·n div n_vecs, n−1)`` over dense ids), so a DuckDB
    oracle recomputes every epoch's cumulative state exactly.  Mtimes
    are stamped strictly increasing from the constant base, pinning the
    file→epoch order (same discipline as write_feed_batches)."""
    os.makedirs(feed_dir, exist_ok=True)
    embeddings = embeddings.localCheckpoint()
    n_vecs = embeddings.count()
    if n_vecs == 0:
        # `vec_id * n div 0` would be NULL for every row → zero feed
        # files → run_ivf_maintenance has no snapshots to read.  Fail
        # loudly at the source instead (ADVICE r9).
        raise ValueError("write_embedding_batches: embeddings table is empty")
    batched = embeddings.withColumn(
        "_b",
        F.least(
            F.expr(f"vec_id * {n_batches} div {n_vecs}"),
            F.lit(n_batches - 1),
        ),
    )
    for i in range(n_batches):
        bdir = os.path.join(feed_dir, f"batch_{i:05d}")
        (
            batched.filter(F.col("_b") == i)
            .select(
                F.col("vec_id").cast("long"),
                F.col("label").cast("long"),
                "embedding",
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(bdir)
        )
        _stamp_batch_mtime(bdir, i)


def run_ivf_maintenance(
    spark: SparkSession, feed_dir: str, out_dir: str
) -> DataFrame:
    """Streaming incremental IVF index maintenance (round 9): each
    epoch of newly arrived vectors folds into the persisted
    per-(cell, dim) partials — merge(index, batch partials), NEVER a
    rebuild from the raw corpus — and every epoch emits the serving
    snapshot (per cell: member count + integer centroid fingerprint).
    This is ivf_index_merge's contract run as a live epoch loop
    (``run_epochs``): the oracle recomputes each epoch's snapshot from
    scratch, so the value-hash match proves merge ≡ rebuild at every
    epoch, not just the final one.

    Arithmetic matches functions/similarity.ivf_index_merge exactly:
    components fixed-pointed to non-negative micros
    (floor((v+1)·1e6)), so partial sums are associative and the
    fingerprint's integer division agrees across engines.

    Scale shape: the per-epoch work is one map-side-combined aggregate
    over the BATCH (epoch-sized), one (cells × dim)-row merge with the
    persisted state, and a |cells|-row snapshot append.  The raw
    corpus is never re-read; state is re-written per epoch as
    cells × dim rows (KBs at any corpus size).  Epoch state dirs are
    versioned (state_{epoch}) — the previous epoch's files are still
    being read while the new one writes, the same
    write-new-then-publish discipline as every cache in the repo."""
    snap_dir = os.path.join(out_dir, "snapshots")
    state_dir = os.path.join(out_dir, "state")
    os.makedirs(state_dir, exist_ok=True)
    # Layout guard (ADVICE r10): the final read sweeps snap_dir
    # recursively, so parquet files from the pre-r10 FLAT-append
    # layout sitting directly under snap_dir would be silently mixed
    # in as duplicate epoch rows.  An out_dir is either fresh or
    # already versioned (epoch_* subdirs only) — anything else is a
    # reused legacy directory and must fail loudly, not corrupt.
    if os.path.isdir(snap_dir):
        # every entry must be a versioned epoch_* dir or a marker
        # (_SUCCESS, .crc) — FILES from the flat layout and FOREIGN
        # SUBDIRS alike would be swept by the recursive final read
        legacy = [
            fn
            for fn in os.listdir(snap_dir)
            if not (
                fn.startswith((".", "_"))
                or (
                    fn.startswith("epoch_")
                    and os.path.isdir(os.path.join(snap_dir, fn))
                )
            )
        ]
        if legacy:
            raise ValueError(
                f"run_ivf_maintenance: {snap_dir} holds non-versioned "
                f"entries from a pre-versioned-layout run ({legacy[:3]}); "
                f"use a fresh out_dir"
            )

    def _partials(batch: DataFrame) -> DataFrame:
        comp = batch.select(
            F.col("label").cast("long").alias("label"),
            F.posexplode("embedding").alias("pos", "_v"),
        ).select(
            "label",
            "pos",
            F.floor(
                (F.col("_v").cast("double") + F.lit(1.0)) * 1_000_000
            ).cast("long").alias("micros"),
        )
        return comp.groupBy("label", "pos").agg(
            F.sum("micros").alias("sum_micros"),
            F.count(F.lit(1)).alias("n_vecs"),
        )

    def epoch_body(batch_df: DataFrame, epoch_id: int) -> None:
        prev = os.path.join(state_dir, f"state_{epoch_id - 1:05d}")
        cur = os.path.join(state_dir, f"state_{epoch_id:05d}")
        new = _partials(batch_df)
        if os.path.isdir(prev):
            old = spark.read.schema(_IVF_STATE_SCHEMA).parquet(prev)
            merged = (
                old.unionByName(new)
                .groupBy("label", "pos")
                .agg(
                    F.sum("sum_micros").alias("sum_micros"),
                    F.sum("n_vecs").alias("n_vecs"),
                )
            )
        else:
            merged = new
        merged.write.mode("overwrite").parquet(cur)
        (
            spark.read.schema(_IVF_STATE_SCHEMA)
            .parquet(cur)
            .groupBy("label")
            .agg(
                F.lit(epoch_id).cast("long").alias("epoch_id"),
                F.max("n_vecs").alias("n_total"),
                F.sum(F.expr("sum_micros div n_vecs")).alias("centroid_fp"),
            )
            .select("epoch_id", "label", "n_total", "centroid_fp")
            # Versioned per-epoch dir with overwrite, NOT a flat
            # append (ADVICE r9): an epoch runs at least once, so a
            # replayed epoch must replace its snapshot rows, never
            # duplicate them — same state_{epoch} discipline as the
            # index partials above.
            .write.mode("overwrite")
            .parquet(os.path.join(snap_dir, f"epoch_{epoch_id:05d}"))
        )

    run_epochs(
        spark, feed_dir, os.path.join(out_dir, "epochs"), EMBEDDING_FEED_SCHEMA,
        epoch_body,
    )
    if not os.path.isdir(snap_dir):
        # Empty feed (zero batches ever arrived): return an empty frame
        # of the contract schema instead of failing the final read.
        return spark.createDataFrame([], IVF_EPOCH_SCHEMA)
    return (
        spark.read.schema(IVF_EPOCH_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(snap_dir)
    )
