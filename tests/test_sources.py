"""Unit tests for the JDBC change-log source scaffolding (pure parts:
option construction, coordinator task algebra)."""

from __future__ import annotations

from cdc_extractor_spark.sources.jdbc import (
    JdbcChangeLog,
    poll_tasks,
    read_changes_jdbc,
    reader_options,
)

CFG = JdbcChangeLog(url="jdbc:postgresql://localhost:5432/bench", user="u")


def test_reader_options_bind_range_structurally():
    opts = reader_options(CFG, 100, 500, 8)
    assert "event_id > 100" in opts["dbtable"]
    assert "event_id <= 500" in opts["dbtable"]
    assert opts["lowerBound"] == "101"
    assert opts["upperBound"] == "501"  # exclusive bound covers hi itself
    assert opts["numPartitions"] == "8"
    assert "password" not in opts


def test_reader_builds_without_connecting(spark):
    reader = read_changes_jdbc(spark, CFG, 0, 10, 2)
    # configured but unexecuted: .load() is the first point of contact
    assert hasattr(reader, "load")


def test_poll_tasks_matches_coordinator_semantics():
    # polls: no data, burst to 100, flat, advance to 130
    tasks = list(poll_tasks(iter([0, 100, 100, 130]), start=0))
    assert tasks == [(0, 100), (100, 130)]
    # contiguity + half-open coverage
    for (_, hi_prev), (lo, _) in zip(tasks, tasks[1:]):
        assert lo == hi_prev


def test_poll_tasks_caps_batch_width():
    tasks = list(poll_tasks(iter([250]), start=0, max_batch=100))
    assert tasks == [(0, 100), (100, 200), (200, 250)]


def test_poll_tasks_ignores_regressions():
    # a lagging replica reporting a lower hwm must not re-emit ranges
    tasks = list(poll_tasks(iter([100, 90, 110]), start=0))
    assert tasks == [(0, 100), (100, 110)]


# ---------------------------------------------------------------------------
# Python Data Source (sources/pyds.py): the polling architecture itself
# ---------------------------------------------------------------------------


def _feed(spark, sf_dir, tmp_path, upto=None):
    from pyspark.sql import functions as F

    from cdc_extractor_spark.sources.changes import changes_df

    ch = changes_df(spark, sf_dir)
    if upto is not None:
        ch = ch.where(F.col("event_id") <= upto)
    feed = str(tmp_path / "feed")
    ch.coalesce(1).write.mode("overwrite").parquet(feed)
    return feed, ch


def test_pyds_batch_scan_matches_fixture(spark, sf_dir, tmp_path):
    """Reading through the custom source with range + IN predicates must
    equal the fixture filtered the same way (pushdown can't drop or
    duplicate rows)."""
    from pyspark.sql import functions as F

    from cdc_extractor_spark.sources import pyds
    from cdc_extractor_spark.sources.changes import changes_df

    feed, _ = _feed(spark, sf_dir, tmp_path)
    pyds.register(spark)
    got = (
        spark.read.format("changelog_poll").option("path", feed)
        .option("numPartitions", "4").load()
        .where((F.col("event_id") > 100) & (F.col("event_id") <= 5000)
               & F.col("table_name").isin("customer"))
    )
    want = changes_df(spark, sf_dir).where(
        (F.col("event_id") > 100) & (F.col("event_id") <= 5000)
        & (F.col("table_name") == "customer")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_pyds_pushdown_consumes_supported_filters():
    """pushFilters must consume the offset-range and IN-list predicates
    (A2/A3 — the ones the reference hand-wrote into SQL) and hand any
    other filter back to Spark."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In, LessThanOrEqual

    from cdc_extractor_spark.sources.pyds import ChangelogBatchReader

    r = ChangelogBatchReader({"path": "/nonexistent"})
    unsupported = list(
        r.pushFilters([
            GreaterThan(("event_id",), 100),
            LessThanOrEqual(("event_id",), 5000),
            In(("table_name",), ("customer", "orders")),
            EqualTo(("action",), "I"),
        ])
    )
    assert r.lo == 100 and r.hi == 5000
    assert r.tables == ["customer", "orders"]
    assert len(unsupported) == 1 and isinstance(unsupported[0], EqualTo)


def test_pyds_pushdown_accumulates_redundant_conjuncts():
    """Consuming BOTH of `event_id > 200 AND event_id > 100` means the
    reader must honor the tighter bound (200) — last-wins overwrite
    silently violated the dropped predicate.  Same for two IN-lists:
    intersection, with an EMPTY intersection meaning zero rows rather
    than 'no filter'."""
    from pyspark.sql.datasource import GreaterThan, In, LessThanOrEqual

    from cdc_extractor_spark.sources.pyds import ChangelogBatchReader

    r = ChangelogBatchReader({"path": "/nonexistent"})
    leftover = list(
        r.pushFilters([
            GreaterThan(("event_id",), 200),
            GreaterThan(("event_id",), 100),
            LessThanOrEqual(("event_id",), 5000),
            LessThanOrEqual(("event_id",), 9000),
            In(("table_name",), ("customer", "orders")),
            In(("table_name",), ("orders", "lineitem")),
        ])
    )
    assert leftover == []
    assert r.lo == 200 and r.hi == 5000
    assert r.tables == ["orders"]

    r2 = ChangelogBatchReader({"path": "/nonexistent"})
    list(r2.pushFilters([
        In(("table_name",), ("customer",)),
        In(("table_name",), ("orders",)),
    ]))
    assert r2.tables == []  # disjoint IN-lists → empty match set, not None


def test_pyds_minmax_falls_back_when_stats_missing(spark, sf_dir, tmp_path):
    """Files with rows but no event_id footer statistics must NOT be
    reported as an empty log (silent data loss); the reader falls back
    to a single-column scan."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdc_extractor_spark.sources.pyds import _minmax_event_id

    d = tmp_path / "nostats"
    d.mkdir()
    tbl = pa.table({"event_id": [7, 3, 42], "table_name": ["a", "b", "c"]})
    pq.write_table(tbl, str(d / "part.parquet"), write_statistics=False)
    assert _minmax_event_id(str(d)) == (3, 42)

    empty = tmp_path / "empty"
    empty.mkdir()
    pq.write_table(tbl.slice(0, 0), str(empty / "part.parquet"))
    assert _minmax_event_id(str(empty)) == (0, -1)

    # MIXED directory: one file with stats (1..100), one without
    # (200..500).  Answering from the covered file alone would cap the
    # range at 100 and silently skip 101..500 forever.
    mixed = tmp_path / "mixed"
    mixed.mkdir()
    pq.write_table(
        pa.table({"event_id": [1, 100], "table_name": ["a", "b"]}),
        str(mixed / "with_stats.parquet"),
    )
    pq.write_table(
        pa.table({"event_id": [200, 500], "table_name": ["c", "d"]}),
        str(mixed / "no_stats.parquet"),
        write_statistics=False,
    )
    assert _minmax_event_id(str(mixed)) == (1, 500)


def test_pyds_partitions_split_range_contiguously():
    from cdc_extractor_spark.sources.pyds import _split

    parts = _split(0, 1000, 4)
    assert parts[0].lo == 0 and parts[-1].hi == 1000
    for a, b in zip(parts, parts[1:]):
        assert b.lo == a.hi
    # degenerate empty range still yields one (empty) partition
    empty = _split(5, 5, 4)
    assert len(empty) == 1 and empty[0].lo == empty[0].hi


def test_pyds_streaming_poll_grows_with_the_log(spark, sf_dir, tmp_path):
    """The streaming reader's latestOffset ≙ coordinator poll: rows
    appended to the log after the stream starts arrive in later epochs;
    coverage is exact (no loss, no duplication) across the growth."""
    import time

    from pyspark.sql import functions as F

    from cdc_extractor_spark.sources import pyds
    from cdc_extractor_spark.sources.changes import changes_df

    ch = changes_df(spark, sf_dir)
    mid = 600
    feed, _ = _feed(spark, sf_dir, tmp_path, upto=mid)
    pyds.register(spark)

    seen: list[tuple[int, int]] = []

    def body(bdf, eid):
        r = bdf.agg(F.count(F.lit(1)).alias("n")).first()
        if r["n"]:
            seen.append((eid, r["n"]))

    q = (
        spark.readStream.format("changelog_poll").option("path", feed)
        .option("numPartitions", "2").load()
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        n_first = ch.where(F.col("event_id") <= mid).count()
        total = ch.count()
        deadline = time.time() + 90
        while time.time() < deadline and sum(n for _, n in seen) < n_first:
            time.sleep(0.5)
        ch.where(F.col("event_id") > mid).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        while time.time() < deadline and sum(n for _, n in seen) < total:
            time.sleep(0.5)
    finally:
        q.stop()
    assert sum(n for _, n in seen) == total
    assert len(seen) >= 2  # the growth arrived in a later epoch


def test_pyds_pipe_chunk_sink_exactly_once(spark, sf_dir, tmp_path):
    """Custom source → custom sink end-to-end: every feed row lands in
    exactly one published chunk file, each epoch publishes a manifest,
    and a replayed commit (same batchId) is a no-op."""
    import json
    import os

    from pyspark.sql import functions as F

    from cdc_extractor_spark.sources import pyds
    from cdc_extractor_spark.sources.changes import changes_df

    feed, ch = _feed(spark, sf_dir, tmp_path)
    out = str(tmp_path / "chunks")
    os.makedirs(out, exist_ok=True)
    pyds.register(spark)
    pyds.register_sink(spark)

    q = (
        spark.readStream.format("changelog_poll").option("path", feed)
        .option("numPartitions", "2").load()
        .writeStream.format("pipe_chunks").option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    chunks = [f for f in os.listdir(out) if f.startswith("chunk_")]
    manifests = [f for f in os.listdir(out) if f.startswith("_epoch_")]
    assert chunks and manifests
    n_lines = 0
    ids = []
    for f in chunks:
        with open(os.path.join(out, f)) as fh:
            for line in fh:
                n_lines += 1
                ids.append(int(line.split("|")[0]))
    total = ch.count()
    assert n_lines == total
    assert sorted(ids) == sorted(
        r[0] for r in ch.select("event_id").collect()
    )
    # manifests account for every published chunk
    listed = []
    for m in manifests:
        listed += [c["file"] for c in json.load(
            open(os.path.join(out, m)))["chunks"]]
    assert sorted(os.path.basename(p) for p in listed) == sorted(chunks)
    # replayed commit for an already-manifested epoch is a no-op
    w = pyds.PipeChunkStreamWriter({"path": out})
    epoch0 = json.load(open(os.path.join(out, manifests[0])))["epoch"]
    before = sorted(os.listdir(out))
    w.commit([], epoch0)
    assert sorted(os.listdir(out)) == before
    # staging left empty after clean run
    staging = os.path.join(out, "_staging")
    assert not os.path.exists(staging) or os.listdir(staging) == []


def test_pyds_streaming_restart_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    """The custom source's offset lives in Spark's checkpoint: a second
    run on the same checkpoint must process ONLY rows that arrived
    after the first run — no re-delivery, no gap (the reference kept
    its high-water mark in memory and lost it on every restart)."""
    from pyspark.sql import functions as F

    from cdc_extractor_spark.sources import pyds
    from cdc_extractor_spark.sources.changes import changes_df

    ch = changes_df(spark, sf_dir)
    mid = 600
    feed, _ = _feed(spark, sf_dir, tmp_path, upto=mid)
    pyds.register(spark)
    ckpt = str(tmp_path / "ckpt")

    def run_once(tag):
        seen = []

        def body(bdf, eid):
            r = bdf.agg(F.count(F.lit(1)).alias("n"),
                        F.min("event_id").alias("lo"),
                        F.max("event_id").alias("hi")).first()
            if r["n"]:
                seen.append((r["n"], r["lo"], r["hi"]))
        q = (
            spark.readStream.format("changelog_poll").option("path", feed)
            .option("numPartitions", "2").load()
            .writeStream.foreachBatch(body)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return seen

    first = run_once("first")
    n_first = sum(n for n, _, _ in first)
    assert n_first == ch.where(F.col("event_id") <= mid).count()

    ch.where(F.col("event_id") > mid).coalesce(1).write.mode("append").parquet(feed)
    second = run_once("second")
    n_second = sum(n for n, _, _ in second)
    assert n_second == ch.where(F.col("event_id") > mid).count()
    assert all(lo > mid for _, lo, _ in second)  # strictly new rows only


def test_pyds_batch_writer_publishes_and_overwrites(spark, sf_dir, tmp_path):
    """Batch twin of the chunk sink: df.write.format("pipe_chunks")
    stages invisibly, publishes every row exactly once with one
    manifest, and mode("overwrite") replaces the previous batch
    instead of appending to it."""
    import json
    import os

    from cdc_extractor_spark.io import load_table
    from cdc_extractor_spark.sources import pyds

    pyds.register_sink(spark)
    out = str(tmp_path / "batch_chunks")
    os.makedirs(out, exist_ok=True)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    for _ in range(2):  # second overwrite run must not duplicate
        ev.write.format("pipe_chunks").option("path", out).mode(
            "overwrite"
        ).save()
    chunks = [f for f in os.listdir(out) if f.startswith("chunk_batch_")]
    assert chunks
    n_lines, ids = 0, []
    for f in chunks:
        with open(os.path.join(out, f)) as fh:
            for line in fh:
                n_lines += 1
                ids.append(int(line.split("|")[0]))
    total = ev.count()
    assert n_lines == total
    assert sorted(ids) == sorted(r[0] for r in ev.select("event_id").collect())
    man = json.load(open(os.path.join(out, "_batch.json")))
    assert sum(c["n_rows"] for c in man["chunks"]) == total
    assert {os.path.basename(c["file"]) for c in man["chunks"]} == set(chunks)
    # no staging residue (commit clears the staging dir entirely)
    staging = os.path.join(out, "_staging")
    assert not os.path.isdir(staging) or os.listdir(staging) == []


def test_pyds_batch_writer_abort_leaves_nothing_visible(spark, sf_dir, tmp_path):
    """A failing write job must abort: no chunk files, no manifest, no
    staging residue — the all-or-nothing contract the reference's
    best-effort appends cannot give."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from cdc_extractor_spark.io import load_table
    from cdc_extractor_spark.sources import pyds

    pyds.register_sink(spark)
    out = str(tmp_path / "abort_chunks")
    os.makedirs(out, exist_ok=True)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr(
            "assert_true(event_type <> 'purchase', 'poison') IS NULL"
        ).alias("ok"),
        "event_type",
    )
    with pytest.raises(Exception):
        ev.write.format("pipe_chunks").option("path", out).mode(
            "overwrite"
        ).save()
    visible = [f for f in os.listdir(out) if not f.startswith("_staging")]
    assert visible == []
    # staging MAY hold orphans from straggler tasks that re-staged
    # after the driver's abort cleared the dir (the driver cannot see
    # in-flight task writes) — the contract is that they are invisible
    # and the NEXT write's commit clears them wholesale:
    good = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    good.write.format("pipe_chunks").option("path", out).mode(
        "overwrite"
    ).save()
    staging = os.path.join(out, "_staging")
    assert not os.path.isdir(staging) or os.listdir(staging) == []
    chunks = [f for f in os.listdir(out) if f.startswith("chunk_batch_")]
    n = sum(
        1
        for f in chunks
        for _ in open(os.path.join(out, f))
    )
    assert n == good.count()

