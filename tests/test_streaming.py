"""Streaming behavior tests (SURVEY.md §5.2 item 4): epochs cover exact
(lo, hi] offset ranges, the watermark equals max commit ts, the pipe
extract round-trips, and every streaming pass matches its batch ground
truth."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_extractor_spark.sinks import read_pipe_text, write_pipe_text
from cdc_extractor_spark.sources.changes import changes_df, changes_with_row_data
from cdc_extractor_spark.streaming.pipeline import (
    run_cdc_pipeline,
    run_observed_staleness,
    windowed_counts_stream,
    write_feed_batches,
)
from cdc_extractor_spark.streaming.upsert import run_incremental_snapshot

N_BATCHES = 4


@pytest.fixture(scope="module")
def feed(spark, sf_dir, tmp_path_factory):
    feed_dir = str(tmp_path_factory.mktemp("feed"))
    changes = changes_df(spark, sf_dir)
    ranges = write_feed_batches(changes, feed_dir, N_BATCHES)
    return feed_dir, ranges, changes


def test_feed_ranges_partition_the_stream(spark, feed):
    _, ranges, changes = feed
    assert len(ranges) == N_BATCHES
    # contiguous half-open ranges covering every event exactly once
    for (_, hi_prev), (lo, _) in zip(ranges, ranges[1:]):
        assert lo == hi_prev
    total = changes.count()
    covered = sum(hi - lo for lo, hi in ranges)
    # ntile splits rows, not ids; ranges cover distinct ids ≥ rows
    assert covered >= total > 0


def test_epochs_cover_exact_offset_ranges(spark, feed, tmp_path):
    feed_dir, ranges, changes = feed
    metrics = run_cdc_pipeline(spark, feed_dir, str(tmp_path / "out"))
    rows = sorted(metrics, key=lambda r: r["min_event_id"])
    assert len(rows) == N_BATCHES  # one epoch per feed file
    # each epoch processed exactly its file's (lo, hi] range
    for row, (lo, hi) in zip(rows, ranges):
        assert lo < row["min_event_id"] <= row["max_event_id"] <= hi
        assert row["max_event_id"] == hi  # hi is an observed max by construction
    assert sum(r["n_rows"] for r in rows) == changes.count()
    # watermark: running max of epoch uptodate == global max commit ts
    global_max = changes.agg(F.max("commit_ts_ms")).first()[0]
    assert max(r["uptodate_ms"] for r in rows) == global_max


def test_pipe_extract_roundtrip(spark, feed, tmp_path):
    feed_dir, _, changes = feed
    out = str(tmp_path / "out")
    run_cdc_pipeline(spark, feed_dir, out)
    extract = read_pipe_text(spark, out + "/extract")
    assert extract.count() == changes.count()
    # demux by table (B1): partition dirs carry the table name
    tables = {r["table_name"] for r in extract.select("table_name").distinct().collect()}
    assert tables == {"customer", "orders"}
    # spot-check content parity on one key
    probe = extract.filter(
        (F.col("table_name") == "customer") & (F.col("action") == "I")
    ).count()
    truth = changes.filter(
        (F.col("table_name") == "customer") & (F.col("action") == "I")
    ).count()
    assert probe == truth


def test_pipe_sink_renders_maps_as_json(spark, sf_dir, tmp_path):
    df = changes_with_row_data(spark, sf_dir).limit(20)
    path = str(tmp_path / "pipe")
    write_pipe_text(df, path)
    back = read_pipe_text(spark, path)
    assert back.count() == 20
    sample = back.filter(F.col("row_data").isNotNull()).first()
    assert sample["row_data"].startswith("{")  # JSON-rendered map


def test_windowed_counts_match_batch(spark, feed, tmp_path):
    feed_dir, _, changes = feed
    got = windowed_counts_stream(spark, feed_dir, str(tmp_path / "out"))
    truth = (
        changes.groupBy(
            "table_name",
            (F.col("commit_ts_ms") - F.col("commit_ts_ms") % 60000).alias(
                "window_start_ms"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_changes"))
    )
    # availableNow + watermark: append mode emits only windows fully
    # below the final watermark (global max event time − delay); windows
    # at/after it stay open and unemitted — that's the documented policy.
    g = {(r["table_name"], r["window_start_ms"]): r["n_changes"] for r in got.collect()}
    t = {(r["table_name"], r["window_start_ms"]): r["n_changes"] for r in truth.collect()}
    assert g, "no windows emitted"
    assert all(g[k] == t[k] for k in g), "emitted window counts must be exact"
    global_max = changes.agg(F.max("commit_ts_ms")).first()[0]
    wm_floor = (global_max - 90_000) // 60_000 * 60_000  # delay=90s, 1-min windows
    missing = {k: v for k, v in t.items() if k not in g}
    assert all(ws + 60_000 > wm_floor for (_, ws) in missing), (
        "only windows not yet closed by the watermark may be missing"
    )


def test_incremental_snapshot_equals_batch_apply(spark, feed, tmp_path):
    from cdc_extractor_spark.operators.cdc import apply_deletes

    feed_dir, _, changes = feed
    got = run_incremental_snapshot(spark, feed_dir, str(tmp_path / "out"))
    truth = apply_deletes(changes)
    g = {(r["table_name"], r["key"]): tuple(r) for r in got.collect()}
    t = {
        (r["table_name"], r["key"]): tuple(
            r[c] for c in got.columns  # align column order with snapshot
        )
        for r in truth.select(*got.columns).collect()
    }
    assert g == t


def test_observed_staleness_per_epoch(spark, feed, tmp_path):
    feed_dir, _, changes = feed
    global_max = changes.agg(F.max("commit_ts_ms")).first()[0]
    now_ms = global_max + 60_000  # fixed "now", 1 min past the feed tip
    prog = run_observed_staleness(spark, feed_dir, str(tmp_path / "out"), now_ms)
    assert len(prog) == N_BATCHES
    assert sum(p["n_rows"] for p in prog) == changes.count()
    # the final epoch's watermark reaches the feed tip; staleness is the
    # exact lag against the fixed now
    tip = max(prog, key=lambda p: p["uptodate_ms"])
    assert tip["uptodate_ms"] == global_max
    assert tip["staleness_ms"] == 60_000
    assert all(p["staleness_ms"] >= 60_000 for p in prog)


def test_late_rows_beyond_watermark_are_dropped(spark, tmp_path):
    """SURVEY.md §5.2(4c): rows later than the watermark delay are
    dropped BY POLICY — the engine-enforced, bounded replacement for the
    reference's silent skip of out-of-order commits."""
    minute = 60_000
    base = 1_704_067_200_000

    def mk(rows, name, order):
        df = spark.createDataFrame(
            [
                (i, "customer", i // 3, base + m * minute, "I", i, 100)
                for i, m in rows
            ],
            "event_id long, table_name string, transaction_id long, "
            "commit_ts_ms long, action string, key long, val_cents long",
        )
        d = tmp_path / "feed" / name
        df.coalesce(1).write.mode("overwrite").parquet(str(d))
        # the file source orders by modification time: make arrival
        # order explicit (sub-second writes would otherwise tie)
        import os
        import time

        t = time.time() + order * 10
        for p in d.rglob("*"):
            os.utime(p, (t, t))

    # run 1: minutes 0/1, then the tip at minute 100 — on completion the
    # checkpointed watermark is minute 100 − 90 s
    mk([(1, 0), (2, 0), (3, 1)], "batch_00000", 0)
    mk([(10, 100), (11, 100)], "batch_00001", 1)
    out = str(tmp_path / "out")
    got1 = windowed_counts_stream(spark, str(tmp_path / "feed"), out)
    counts1 = {r["window_start_ms"]: r["n_changes"] for r in got1.collect()}
    assert counts1[base] == 2
    assert counts1[base + minute] == 1

    # run 2 (same checkpoint — restart semantics): a straggler back at
    # minute 0, far below the recovered watermark → dropped by policy;
    # the already-emitted minute-0 window must not change or re-emit
    mk([(20, 0)], "batch_00002", 2)
    got2 = windowed_counts_stream(spark, str(tmp_path / "feed"), out)
    counts2: dict = {}
    for r in got2.collect():
        counts2[r["window_start_ms"]] = (
            counts2.get(r["window_start_ms"], 0) + r["n_changes"]
        )
    assert counts2[base] == 2  # straggler (event 20) not counted
    assert counts2[base + minute] == 1


def test_pipeline_restart_processes_only_new_files(spark, feed, tmp_path):
    """Resumption: a second run on the same out dir must process only
    files that arrived since — the exactly-once offset tracking the
    reference approximated with its in-memory maxSeqID (lost on crash;
    ours is the durable plan record)."""
    import shutil

    feed_dir, _, changes = feed
    # copy the feed so we can extend it without touching other tests
    feed2 = str(tmp_path / "feed2")
    shutil.copytree(feed_dir, feed2)
    out = str(tmp_path / "out")
    m1 = run_cdc_pipeline(spark, feed2, out)
    n1 = len(m1)
    assert n1 == N_BATCHES
    # one new file arrives; run again on the same out dir
    extra = changes.limit(0).unionByName(
        changes.orderBy(F.desc("event_id")).limit(10)
        .withColumn("event_id", F.col("event_id") + 1_000_000_000)
    )
    extra.coalesce(1).write.mode("overwrite").parquet(feed2 + "/batch_99999")
    m2 = run_cdc_pipeline(spark, feed2, out)
    new_rows = [r for r in m2 if r["min_event_id"] > 1_000_000_000]
    assert len(m2) == n1 + 1  # exactly one new epoch, no reprocessing
    assert len(new_rows) == 1 and new_rows[0]["n_rows"] == 10


def test_streaming_dedup_drops_redelivered_batch(spark, feed, tmp_path):
    """Re-deliver one batch (at-least-once feed); the watermarked
    dedup must emit every event_id exactly once and the raw stream
    must show the duplicates (proving the feed really re-delivered)."""
    import shutil

    feed_dir, ranges, changes = feed
    dup_feed = str(tmp_path / "dup_feed")
    shutil.copytree(feed_dir, dup_feed)
    shutil.copytree(
        f"{feed_dir}/batch_00001", f"{dup_feed}/redelivery_00001"
    )
    from cdc_extractor_spark.streaming.pipeline import run_streaming_dedup

    out = run_streaming_dedup(spark, dup_feed, str(tmp_path / "out"))
    n_unique = changes.count()
    lo, hi = ranges[1]
    n_redelivered = changes.filter(
        (F.col("event_id") > lo) & (F.col("event_id") <= hi)
    ).count()
    assert n_redelivered > 0
    assert out.count() == n_unique
    assert out.select("event_id").distinct().count() == n_unique
    # the raw (non-deduped) read sees the duplicates
    raw = spark.read.parquet(dup_feed + "/*")
    assert raw.count() == n_unique + n_redelivered


def test_enriched_stream_matches_batch_join(spark, sf_dir, feed, tmp_path):
    """Stream-static enrichment over all epochs lands the same rows as
    the one-shot batch broadcast inner join."""
    from cdc_extractor_spark.io import load_table
    from cdc_extractor_spark.streaming.pipeline import (
        run_stream_static_enrichment,
    )

    feed_dir, _, changes = feed
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    got = run_stream_static_enrichment(spark, feed_dir, str(tmp_path / "out"), dim)
    want = changes.join(
        F.broadcast(dim), changes["key"] == dim["c_custkey"], "inner"
    ).select(
        "event_id", "action", "key", "val_cents",
        F.col("c_nationkey").alias("nationkey"),
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_stream_stream_join_matches_batch_interval_join(
    spark, sf_dir, feed, tmp_path
):
    """The streaming insert⋈delete lifetime join over all epochs must
    equal the batch interval join on the same feed; every deleted key
    pairs its insert with its delete exactly once."""
    from cdc_extractor_spark.streaming.pipeline import run_stream_stream_join

    feed_dir, _, changes = feed
    got = run_stream_stream_join(spark, feed_dir, str(tmp_path / "out"))
    ins = changes.filter(F.col("action") == "I").select(
        "table_name", "key",
        F.col("event_id").alias("insert_event_id"),
        F.col("commit_ts_ms").alias("i_ms"),
    )
    dels = changes.filter(F.col("action") == "D").select(
        F.col("table_name").alias("dt"), F.col("key").alias("dk"),
        F.col("event_id").alias("delete_event_id"),
        F.col("commit_ts_ms").alias("d_ms"),
    )
    want = ins.join(
        dels,
        (F.col("table_name") == F.col("dt"))
        & (F.col("key") == F.col("dk"))
        & (F.col("d_ms") >= F.col("i_ms"))
        & (F.col("d_ms") <= F.col("i_ms") + 3_600_000),
        "inner",
    ).select(
        "table_name", "key", "insert_event_id", "delete_event_id",
        (F.col("d_ms") - F.col("i_ms")).alias("lifetime_ms"),
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # one pair per deleted key, lifetimes non-negative
    assert got.groupBy("table_name", "key").count().filter(
        F.col("count") > 1
    ).count() == 0
    assert got.filter(F.col("lifetime_ms") < 0).count() == 0


def test_stateful_snapshot_matches_batch_latest_per_key(spark, feed, tmp_path):
    """Stateful snapshot (applyInPandasWithState, the certified primary
    path) == batch max_by latest-per-key (plus exact per-key change
    counts) after draining every epoch."""
    from cdc_extractor_spark.operators import cdc
    from cdc_extractor_spark.streaming.snapshot_state import run_stateful_snapshot

    feed_dir, _, changes = feed
    streamed = run_stateful_snapshot(spark, feed_dir, str(tmp_path / "snap"))

    batch = cdc.latest_per_key(changes).join(
        changes.groupBy("table_name", "key").agg(
            F.count(F.lit(1)).alias("n_changes")),
        ["table_name", "key"],
    ).select(
        "table_name", "key", "last_event_id", "last_action",
        F.col("last_val_cents"), "last_commit_ts_ms", "n_changes",
    )
    s_rows = {tuple(r) for r in streamed.collect()}
    b_rows = {tuple(r) for r in batch.collect()}
    assert s_rows == b_rows


def test_stateful_snapshot_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    """Restart semantics: drain half the feed, then deliver the rest
    and rerun on the SAME checkpoint — per-key state must resume (not
    recount), landing on the batch ground truth for the full stream."""
    from cdc_extractor_spark.operators import cdc
    from cdc_extractor_spark.sources.changes import changes_df
    from cdc_extractor_spark.streaming.snapshot_state import run_stateful_snapshot

    changes = changes_df(spark, sf_dir)
    mid = changes.approxQuantile("event_id", [0.5], 0.0)[0]
    feed_dir = str(tmp_path / "feed")
    out_dir = str(tmp_path / "out")

    write_feed_batches(
        changes.filter(F.col("event_id") <= mid), feed_dir + "/early", 2)
    run_stateful_snapshot(spark, feed_dir, out_dir)

    write_feed_batches(
        changes.filter(F.col("event_id") > mid), feed_dir + "/late", 2)
    streamed = run_stateful_snapshot(spark, feed_dir, out_dir)

    batch = cdc.latest_per_key(changes).join(
        changes.groupBy("table_name", "key").agg(
            F.count(F.lit(1)).alias("n_changes")),
        ["table_name", "key"],
    ).select(
        "table_name", "key", "last_event_id", "last_action",
        "last_val_cents", "last_commit_ts_ms", "n_changes",
    )
    assert {tuple(r) for r in streamed.collect()} == {
        tuple(r) for r in batch.collect()}


def test_streaming_session_windows_match_batch(spark, feed, tmp_path):
    """Every emitted session must be bit-equal to the batch
    session_window aggregation over the same feed; sessions may only be
    missing if still open relative to the final watermark."""
    from cdc_extractor_spark.streaming.pipeline import session_windows_stream

    feed_dir, _, changes = feed
    got = session_windows_stream(spark, feed_dir, str(tmp_path / "sess"))
    batch = (
        changes.withColumn("commit_ts", F.timestamp_millis("commit_ts_ms"))
        .groupBy("table_name", F.session_window("commit_ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_changes"))
        .select(
            "table_name",
            F.unix_millis("w.start").alias("session_start_ms"),
            F.unix_millis("w.end").alias("session_end_ms"),
            "n_changes",
        )
    )
    g = {
        (r.table_name, r.session_start_ms): (r.session_end_ms, r.n_changes)
        for r in got.collect()
    }
    t = {
        (r.table_name, r.session_start_ms): (r.session_end_ms, r.n_changes)
        for r in batch.collect()
    }
    assert g, "no sessions emitted"
    assert all(g[k] == t[k] for k in g), "emitted sessions must equal batch"
    # anything missing must not yet be closed by the final watermark
    max_ms = changes.agg(F.max("commit_ts_ms")).first()[0]
    wm = max_ms - 90_000
    for k, (end_ms, _) in t.items():
        if k not in g:
            assert end_ms + 90_000 > wm or end_ms > wm


def test_rocksdb_state_store_matches_default(spark, feed, tmp_path):
    """The windowed aggregation must produce identical results on the
    RocksDB state store provider — the 100 TB state posture (state
    off-heap/on-disk, not JVM-heap-bound) is a config swap, not a code
    change."""
    feed_dir, _, _ = feed
    key = "spark.sql.streaming.stateStore.providerClass"
    default = spark.conf.get(key)
    baseline = windowed_counts_stream(
        spark, feed_dir, str(tmp_path / "heap")
    )
    base = {
        (r["table_name"], r["window_start_ms"]): r["n_changes"]
        for r in baseline.collect()
    }
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        rocks = windowed_counts_stream(
            spark, feed_dir, str(tmp_path / "rocks")
        )
        got = {
            (r["table_name"], r["window_start_ms"]): r["n_changes"]
            for r in rocks.collect()
        }
    finally:
        spark.conf.set(key, default)
    assert got == base and got


def test_incremental_bitmap_distinct_equals_batch(spark, feed, tmp_path):
    from pyspark.sql import functions as F

    from cdc_extractor_spark.streaming.partials import (
        run_incremental_bitmap_distinct,
    )

    feed_dir, _, changes = feed
    got = {
        r["action"]: r["n_distinct_keys"]
        for r in run_incremental_bitmap_distinct(
            spark, feed_dir, str(tmp_path / "out")
        ).collect()
    }
    want = {
        r["action"]: r["n"]
        for r in changes.groupBy("action")
        .agg(F.countDistinct("key").alias("n"))
        .collect()
    }
    assert got == want and set(got) == {"I", "U", "D"}


def test_bitmap_partial_merge_is_idempotent(spark, sf_dir):
    """Replaying an epoch must not change the merged bitmaps — the
    property that makes the partial table exactly-once under
    foreachBatch's at-least-once delivery."""
    from pyspark.sql import functions as F

    from cdc_extractor_spark.sources.changes import changes_df
    from cdc_extractor_spark.streaming.partials import (
        epoch_partials,
        merge_partials,
    )

    batch = changes_df(spark, sf_dir).filter(F.col("key") < 500)
    p = epoch_partials(batch)
    once = merge_partials(None, p)
    twice = merge_partials(once, p)

    def counts(df):
        return {
            (r["action"], r["bucket"]): r["n"]
            for r in df.select(
                "action", "bucket", F.bitmap_count("bm").alias("n")
            ).collect()
        }

    assert counts(once) == counts(twice)


def test_merge_epoch_ignores_stale_redelivery(spark):
    """An out-of-order / redelivered epoch carrying only OLDER versions
    of a key must not regress the maintained snapshot (ordered merge on
    (commit_ts_ms, event_id), same guard as the stateful twin)."""
    from cdc_extractor_spark.streaming.upsert import SNAPSHOT_COLS, merge_epoch

    snap = spark.createDataFrame(
        [("customer", 7, 50, "U", 999, 2000)], ", ".join(
            f"{c} {'string' if c in ('table_name', 'last_action') else 'long'}"
            for c in SNAPSHOT_COLS
        )
    )
    stale = spark.createDataFrame(
        [(10, "customer", 3, 1000, "U", 7, 111)],
        "event_id long, table_name string, transaction_id long, "
        "commit_ts_ms long, action string, key long, val_cents long",
    )
    got = merge_epoch(snap, stale).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["last_event_id"], r["last_commit_ts_ms"], r["last_val_cents"]) \
        == (50, 2000, 999)


def test_incremental_state_survives_restart_with_new_data(spark, sf_dir, tmp_path):
    """The exactly-once story across process restarts: run the
    incremental snapshot and the bitmap partials over half the feed,
    STOP, let more files arrive, run again on the SAME checkpoint and
    state — the end state must equal one batch pass over everything
    (no forgotten epochs, no double-applied ones)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from cdc_extractor_spark.io import load_table
    from cdc_extractor_spark.operators.cdc import apply_deletes
    from cdc_extractor_spark.sources.changes import _stream
    from cdc_extractor_spark.streaming.partials import (
        run_incremental_bitmap_distinct,
    )
    from cdc_extractor_spark.streaming.pipeline import write_feed_batches
    from cdc_extractor_spark.streaming.upsert import run_incremental_snapshot

    changes = _stream(
        load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 800),
        "c_custkey", "c_acctbal", "customer", 4, 0,
    ).localCheckpoint()
    staging = str(tmp_path / "staging")
    write_feed_batches(changes, staging, 4)
    batches = sorted(os.listdir(staging))
    assert len(batches) == 4

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    snap_out = str(tmp_path / "snap")
    bm_out = str(tmp_path / "bm")

    # phase 1: only the first two batch files exist
    for b in batches[:2]:
        shutil.copytree(os.path.join(staging, b), os.path.join(feed, b))
    run_incremental_snapshot(spark, feed, snap_out)
    run_incremental_bitmap_distinct(spark, feed, bm_out)

    # restart: two more files arrive, SAME checkpoints + state dirs
    for b in batches[2:]:
        shutil.copytree(os.path.join(staging, b), os.path.join(feed, b))
    got_snap = run_incremental_snapshot(spark, feed, snap_out)
    got_bm = run_incremental_bitmap_distinct(spark, feed, bm_out)

    want_snap = apply_deletes(changes)
    g = {(r["table_name"], r["key"]): tuple(r) for r in got_snap.collect()}
    t = {
        (r["table_name"], r["key"]): tuple(r[c] for c in got_snap.columns)
        for r in want_snap.select(*got_snap.columns).collect()
    }
    assert g == t

    want_bm = {
        r["action"]: r["n"]
        for r in changes.groupBy("action")
        .agg(F.countDistinct("key").alias("n"))
        .collect()
    }
    assert {
        r["action"]: r["n_distinct_keys"] for r in got_bm.collect()
    } == want_bm

