"""CLI entry point (python -m cdc_extractor_spark) — the reference's
process launch (`Client.java:11-49`) re-expressed; see __main__.py."""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import shutil
import time
from collections import Counter
from pathlib import Path

import pytest

from cdc_extractor_spark.__main__ import main


def test_cli_list_marks_oracle_status(spark, capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "scan_changelog\toracle" in out
    # the registry has been fully oracled since round 3 — the PQ
    # flagship included; nothing may list as rows-only anymore
    assert "ann_pq_topk\toracle" in out
    assert "rows-only" not in out


def test_cli_query_runs_and_rejects_unknown(spark, capsys):
    assert main(["query", "pricing_summary", "--limit", "2"]) == 0
    assert "l_returnflag" in capsys.readouterr().out
    assert main(["query", "no_such_query"]) == 2


def test_cli_run_extracts_all_epochs(spark, sf_dir, tmp_path, capsys):
    rc = main(
        [
            "run",
            "--sf-dir", sf_dir,
            "--out", str(tmp_path / "out"),
            "--workers", "4",
            "--batches", "2",
            "--tables", "customer",
            "--run-duration-min", "2",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "epoch=0" in out and "epoch=1" in out
    assert "staleness batch=" in out
    # the table restriction demuxes only the monitored table
    extract = tmp_path / "out" / "extract"
    parts = {p.name for p in extract.iterdir() if p.name.startswith("table_name=")}
    assert parts == {"table_name=customer"}


def test_cli_explain_prints_physical_plan(spark, capsys):
    from cdc_extractor_spark.__main__ import main

    assert main(["explain", "pricing_summary"]) == 0
    out = capsys.readouterr().out
    assert "== Physical Plan ==" in out
    assert "Scan parquet" in out
    assert main(["explain", "no_such_query"]) == 2


_EPOCH = re.compile(r"^epoch=(\d+) .* uptodate_ms=(\S+)$", re.M)
_STALE = re.compile(r"^staleness batch=(\d+) rows=(\d+) lag_ms=(-?\d+)$", re.M)


@pytest.fixture(scope="module")
def staged(spark, sf_dir, tmp_path_factory):
    """Three feed batch dirs, written once; tests publish them into a
    feed dir one by one (copies keep the stamped arrival order)."""
    from cdc_extractor_spark.sources.changes import changes_df
    from cdc_extractor_spark.streaming.pipeline import write_feed_batches

    stage = str(tmp_path_factory.mktemp("stage"))
    write_feed_batches(changes_df(spark, sf_dir), stage, 3)
    return stage


def _publish(stage: str, feed: str, i: int) -> None:
    name = f"batch_{i:05d}"
    shutil.copytree(os.path.join(stage, name), os.path.join(feed, name))


def test_cli_run_is_one_pass_with_driver_side_history(
    spark, staged, tmp_path, capsys, monkeypatch
):
    """Each `run` is one pass with no StreamingQuery; it prints the full
    epoch history, staleness for only the epochs it extracted, a data
    epoch is one Spark job (the metrics ride the extract write), and an
    idle poll schedules no Spark job."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    started = []
    start = DataStreamWriter.start

    def counting_start(self, *args, **kwargs):
        q = start(self, *args, **kwargs)
        started.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", counting_start)
    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    argv = ["run", "--feed", feed, "--out", out, "--workers", "4",
            "--tables", "customer,orders"]
    for i in range(2):
        _publish(staged, feed, i)
    assert main(argv) == 0
    capsys.readouterr()

    _publish(staged, feed, 2)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    assert main(argv) == 0
    out2 = capsys.readouterr().out
    assert len(set(tracker.getJobIdsForGroup(None)) - before) == 1
    epochs = {int(e): v for e, v in _EPOCH.findall(out2)}
    assert sorted(epochs) == [0, 1, 2]
    now_ms = max(int(v) for v in epochs.values() if v != "None")
    stale = _STALE.findall(out2)
    assert [int(b) for b, _, _ in stale] == [2]
    for b, _, lag in stale:
        assert int(lag) == now_ms - int(epochs[int(b)])

    before = set(tracker.getJobIdsForGroup(None))
    assert main(argv) == 0
    out3 = capsys.readouterr().out
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
    assert started == []
    assert sorted(int(e) for e, _ in _EPOCH.findall(out3)) == [0, 1, 2]
    assert not _STALE.findall(out3)


def _extract_rows(out: str) -> dict[str, int]:
    """Data rows per table in ``out``'s extract (each file has a header)."""
    counts: dict[str, int] = {}
    for path in glob.glob(os.path.join(out, "extract", "table_name=*", "*.csv")):
        table = os.path.basename(os.path.dirname(path))
        with open(path) as f:
            counts[table] = counts.get(table, 0) + sum(1 for _ in f) - 1
    return counts


def test_replayed_epoch_keeps_one_metrics_row(spark, staged, tmp_path):
    """An epoch whose commit was lost is replayed on restart, and its
    metrics row and its extract files must be replaced, not appended a
    second time."""
    from cdc_extractor_spark.streaming.pipeline import run_cdc_pipeline

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    for i in range(2):
        _publish(staged, feed, i)
    first = {r["epoch_id"]: r for r in run_cdc_pipeline(spark, feed, out)}
    assert sorted(first) == [0, 1]
    extracted = _extract_rows(out)
    assert sum(extracted.values()) == sum(r["n_rows"] for r in first.values())
    # dropping epoch 1's commit record leaves it planned but
    # uncommitted, as a crash after its extract would
    os.remove(os.path.join(out, "epochs", "epoch_00001.done"))
    replayed: list[dict] = []
    again = run_cdc_pipeline(spark, feed, out, on_epoch=replayed.append)
    assert [r["epoch_id"] for r in replayed] == [1]
    assert sorted(r["epoch_id"] for r in again) == [0, 1]
    assert {r["epoch_id"]: r for r in again} == first
    assert _extract_rows(out) == extracted


def test_filtered_out_epochs_report_empty_rows(spark, staged, tmp_path):
    """An epoch whose batch the table filter empties still commits a
    metrics row: zero rows and txns, and no offsets or uptodate."""
    from cdc_extractor_spark.streaming.pipeline import run_cdc_pipeline

    rows = run_cdc_pipeline(spark, staged, str(tmp_path / "out"), tables=("nope",))
    assert rows == [
        {"epoch_id": e, "min_event_id": None, "max_event_id": None,
         "n_rows": 0, "n_txns": 0, "uptodate_ms": None}
        for e in range(3)
    ]


def _extract_lines(out: str) -> dict[tuple[str, str], Counter]:
    """The lines of ``out``'s extract files, per (table, epoch)."""
    lines: dict[tuple[str, str], Counter] = {}
    for path in glob.glob(os.path.join(out, "extract", "table_name=*", "*.csv")):
        key = (
            os.path.basename(os.path.dirname(path)),
            os.path.basename(path).split("-", 1)[0],
        )
        with open(path) as f:
            lines.setdefault(key, Counter()).update(f)
    return lines


def test_timed_out_pass_is_stopped_and_resumes_exactly_once(
    spark, staged, tmp_path
):
    """A pass that outlives its timeout starts no further epoch and
    leaves nothing running, and the next call on the same out dir
    extracts the rest: its epochs and per-epoch extract files equal a
    fresh run's."""
    from cdc_extractor_spark.streaming.pipeline import run_cdc_pipeline

    feed, out, fresh_out = (str(tmp_path / d) for d in ("feed", "out", "fresh"))
    for i in range(3):
        _publish(staged, feed, i)
    cut = run_cdc_pipeline(
        spark, feed, out, timeout_sec=1, on_epoch=lambda _: time.sleep(2)
    )
    assert len(cut) < 3
    assert spark.streams.active == []

    resumed = run_cdc_pipeline(spark, feed, out)
    fresh = run_cdc_pipeline(spark, feed, fresh_out)
    assert len(fresh) == 3
    assert [(r["epoch_id"], r["n_rows"]) for r in resumed] == [
        (r["epoch_id"], r["n_rows"]) for r in fresh
    ]
    assert _extract_lines(out) == _extract_lines(fresh_out)


def test_sub_second_run_duration_is_a_bound_not_an_error(
    spark, staged, tmp_path, capsys
):
    """``--run-duration-min`` is not rounded to whole seconds: a bound
    of 0.06 s ends the pass early, and the next run extracts every
    epoch."""
    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    for i in range(3):
        _publish(staged, feed, i)
    argv = ["run", "--feed", feed, "--out", out, "--tables", "customer,orders"]
    assert main(argv + ["--run-duration-min", "0.001"]) == 0
    capsys.readouterr()
    assert main(argv) == 0
    out2 = capsys.readouterr().out
    assert sorted(int(e) for e, _ in _EPOCH.findall(out2)) == [0, 1, 2]


def _plans(out: str) -> dict[int, list[str]]:
    plans = {}
    for path in glob.glob(os.path.join(out, "epochs", "epoch_*.json")):
        with open(path) as f:
            plan = json.load(f)
        plans[plan["epoch_id"]] = plan["files"]
    return plans


def test_uncommitted_epoch_replays_its_planned_files_only(spark, staged, tmp_path):
    """The plan record, not the feed, says what an epoch covers: an
    uncommitted epoch 1 replays only its own file although batch 2 has
    arrived since, and batch 2 becomes epoch 2."""
    from cdc_extractor_spark.streaming.pipeline import run_cdc_pipeline

    feed, out, fresh_out = (str(tmp_path / d) for d in ("feed", "out", "fresh"))
    for i in range(2):
        _publish(staged, feed, i)
    first = {r["epoch_id"]: r for r in run_cdc_pipeline(spark, feed, out)}
    planned = _plans(out)
    assert sorted(planned) == [0, 1]
    assert all(len(files) == 1 for files in planned.values())
    os.remove(os.path.join(out, "epochs", "epoch_00001.done"))
    _publish(staged, feed, 2)
    extracted: list[dict] = []
    again = run_cdc_pipeline(spark, feed, out, on_epoch=extracted.append)
    assert [r["epoch_id"] for r in extracted] == [1, 2]
    assert extracted[0] == first[1]
    assert {e: f for e, f in _plans(out).items() if e < 2} == planned
    assert _plans(out)[2][0].startswith("batch_00002/")
    fresh = run_cdc_pipeline(spark, feed, fresh_out)
    assert again == fresh
    assert _extract_lines(out) == _extract_lines(fresh_out)


def test_hidden_feed_files_are_never_planned(spark, staged, tmp_path):
    """The feed listing follows the file source's hidden-path rule: a
    ``_SUCCESS`` marker, a ``.crc`` checksum and a parquet file under a
    writer's ``_temporary/`` dir are never planned or read."""
    from cdc_extractor_spark.streaming.pipeline import run_cdc_pipeline

    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    _publish(staged, feed, 0)
    (part,) = glob.glob(os.path.join(feed, "batch_00000", "*.parquet"))
    tmp_dir = os.path.join(feed, "_temporary", "0")
    os.makedirs(tmp_dir)
    shutil.copy(part, tmp_dir)
    for name in ("_SUCCESS", ".part-00000.parquet.crc"):
        Path(feed, name).write_text("")
    rows = run_cdc_pipeline(spark, feed, out)
    assert [r["n_rows"] for r in rows] == [spark.read.parquet(part).count()]
    assert _plans(out) == {0: [os.path.relpath(part, feed)]}


@pytest.fixture(scope="module")
def staged_embeddings(spark, sf_dir, tmp_path_factory):
    """A three-batch embedding feed, written once."""
    from cdc_extractor_spark.io import load_table
    from cdc_extractor_spark.streaming.pipeline import write_embedding_batches

    feed = str(tmp_path_factory.mktemp("emb_feed"))
    write_embedding_batches(load_table(spark, sf_dir, "embeddings"), feed, 3)
    return feed


def _epoch_pass(name: str):
    """``(run(spark, feed_dir, out_dir), feed kind)`` for each pass that
    keeps no engine state besides ``run_cdc_pipeline``."""
    from cdc_extractor_spark.streaming import partials, pipeline, upsert

    return {
        "incremental_snapshot": (upsert.run_incremental_snapshot, "changes"),
        "incremental_bitmap_distinct": (
            partials.run_incremental_bitmap_distinct, "changes"
        ),
        "ivf_maintenance": (pipeline.run_ivf_maintenance, "embeddings"),
        "observed_staleness": (
            lambda spark, feed, out: pipeline.run_observed_staleness(
                spark, feed, out, now_ms=0
            ),
            "changes",
        ),
    }[name]


@pytest.mark.parametrize(
    "name",
    [
        "incremental_snapshot",
        "incremental_bitmap_distinct",
        "ivf_maintenance",
        "observed_staleness",
    ],
)
def test_epoch_pass_starts_no_query_and_an_idle_call_is_free(
    spark, staged, staged_embeddings, tmp_path, monkeypatch, name
):
    """The passes that keep no engine state run on the driver-planned
    epochs: no call starts a StreamingQuery or writes a checkpoint, and
    a second call with no new feed file schedules no Spark job."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    started = []
    start = DataStreamWriter.start

    def counting_start(self, *args, **kwargs):
        started.append(self)
        return start(self, *args, **kwargs)

    monkeypatch.setattr(DataStreamWriter, "start", counting_start)
    run, kind = _epoch_pass(name)
    feed = staged if kind == "changes" else staged_embeddings
    out = str(tmp_path / "out")
    first = run(spark, feed, out)
    if not isinstance(first, list):
        first = first.collect()
    assert first

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    run(spark, feed, out)
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
    assert started == []
    assert [d for d in os.listdir(out) if d.endswith("checkpoint")] == []


def test_foreach_batch_only_where_the_engine_keeps_state():
    """``foreachBatch`` appears only in ``streaming/snapshot_state.py``,
    whose stateful operator upstream needs a StreamingQuery; every
    other epoch body runs on ``run_epochs``."""
    pkg = Path(__file__).resolve().parent.parent / "cdc_extractor_spark"
    sites = sorted(
        str(path.relative_to(pkg))
        for path in pkg.rglob("*.py")
        if ".foreachBatch(" in path.read_text()
    )
    assert sites == ["streaming/snapshot_state.py"]


def test_every_streaming_pass_goes_through_the_runner():
    """``run_available_now`` is the only place in the package that
    starts a pass and waits on it, so no caller can leave a query
    running past its timeout."""
    pkg = Path(__file__).resolve().parent.parent / "cdc_extractor_spark"
    runner = pkg / "streaming" / "pipeline.py"
    fn = next(
        n
        for n in ast.walk(ast.parse(runner.read_text()))
        if isinstance(n, ast.FunctionDef) and n.name == "run_available_now"
    )
    inside, outside = [], []
    for path in sorted(pkg.rglob("*.py")):
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if "awaitTermination(" in line or "availableNow" in line:
                in_runner = path == runner and fn.lineno <= no <= fn.end_lineno
                (inside if in_runner else outside).append(
                    f"{path.relative_to(pkg)}:{no}"
                )
    assert inside
    assert outside == []
