"""The change-feed workload ``cdc_live``: an open-loop feed polled back
to back by the ``run`` CLI.

It drives the CLI in-process exactly as a user runs it,
``python -m cdc_extractor_spark run --feed F --out O ...``, and check its
outputs against DuckDB over ``CHANGES_CTE`` once, untimed, at the end.
"""

from __future__ import annotations

import contextlib
import io
import itertools
import os
import random
import re
import shutil
import statistics
import threading
import time

import stats

TABLES = ("customer", "orders")
LIVE_BATCHES = 20  # the sf0.1 feed split into batches of about 17k events
MEAN_GAP_S = 2.5  # mean gap between published batches
# the run CLI's default --poll-interval-ms; at that cadence a mean gap
# holds one poll with data and MEAN_GAP_S / POLL_INTERVAL_S - 1 idle ones
POLL_INTERVAL_S = 1.0
GAP_JITTER = 0.2  # each gap is uniform in MEAN_GAP_S * [0.8, 1.2]
WARM_CYCLES = 3  # untimed warm-up cycles, each on a fresh --out
WARM_BATCHES = 2  # batches per warm-up cycle, one poll each, then an idle poll
DRAIN_S = 30.0  # after the last arrival, poll at most this long to cover it

_EPOCH = re.compile(
    r"epoch=(\d+) offsets=\((-?\d+),(-?\d+)\] rows=(\d+) txns=(\d+) "
    r"uptodate_ms=(\S+)"
)


def parse_epochs(text: str) -> list[dict]:
    """The epoch lines ``run`` prints: one per epoch extracted so far."""
    out = []
    for m in _EPOCH.finditer(text):
        out.append(
            {
                "epoch_id": int(m.group(1)),
                "min_event_id": int(m.group(2)),
                "max_event_id": int(m.group(3)),
                "n_rows": int(m.group(4)),
                "n_txns": int(m.group(5)),
                "uptodate_ms": None if m.group(6) == "None" else int(m.group(6)),
            }
        )
    return out


def cli_run(feed: str, out: str, cpus: int) -> list[dict]:
    """One in-process ``run`` call; returns the epochs it reports."""
    from cdc_extractor_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(
            [
                "run",
                "--feed", feed,
                "--out", out,
                "--workers", str(cpus),
                "--tables", ",".join(TABLES),
            ]
        )
    if rc != 0:
        raise RuntimeError(f"run exited {rc}")
    return parse_epochs(buf.getvalue())


def stage_feed(spark, sf_dir: str, dest: str, n_batches: int) -> list[tuple[int, int]]:
    """Derive the change feed and write it as ``n_batches`` batch dirs,
    through the package's own module bindings (which tracing wraps)."""
    from cdc_extractor_spark.sources import changes
    from cdc_extractor_spark.streaming import pipeline

    return pipeline.write_feed_batches(
        changes.changes_df(spark, sf_dir), dest, n_batches
    )


class Oracle:
    """DuckDB over ``CHANGES_CTE``: expected per-batch and per-epoch
    facts, and the check of an extract directory."""

    def __init__(self, sf_dir: str) -> None:
        import duckdb
        from cdc_extractor_spark.sources.changes import CHANGES_CTE

        from registry import DUCKDB_CONFIG

        self.con = duckdb.connect(config=DUCKDB_CONFIG)
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        wanted = ", ".join(f"'{t}'" for t in TABLES)
        self.con.execute(
            f"CREATE TABLE changes AS {CHANGES_CTE} "
            f"SELECT * FROM changes WHERE table_name IN ({wanted})"
        )

    def range_facts(self, lo: int, hi: int) -> tuple:
        """(rows, distinct txns, max commit ts, min event id) in (lo, hi]."""
        return self.con.execute(
            "SELECT count(*), count(DISTINCT transaction_id), "
            "max(commit_ts_ms), min(event_id) FROM changes "
            "WHERE event_id > ? AND event_id <= ?",
            [lo, hi],
        ).fetchone()

    def batch_rows(self, ranges: list[tuple[int, int]]) -> list[int]:
        return [self.range_facts(lo, hi)[0] for lo, hi in ranges]

    def check(
        self,
        ranges: list[tuple[int, int]],
        epochs: list[dict],
        extract_dir: str,
    ) -> tuple[set[int], list[str]]:
        """Check the epochs and the extract against the published
        batches ``ranges``.  Returns the failed batch indexes and a
        message per mismatch."""
        failed: set[int] = set()
        msgs: list[str] = []

        def touching(lo: int, hi: int) -> set[int]:
            return {i for i, (blo, bhi) in enumerate(ranges) if blo < hi and lo < bhi}

        # epochs tile the published ids: each epoch's (prev max, max]
        # holds exactly its reported rows, and nothing follows the last
        prev = None
        for e in sorted(epochs, key=lambda e: e["min_event_id"]):
            lo = ranges[0][0] if prev is None else prev
            want = self.range_facts(lo, e["max_event_id"])
            got = (e["n_rows"], e["n_txns"], e["uptodate_ms"], e["min_event_id"])
            if prev is not None and e["min_event_id"] <= prev:
                msgs.append(f"epoch {e['epoch_id']} overlaps the previous one")
                failed |= touching(e["min_event_id"] - 1, prev)
            elif tuple(want) != got:
                msgs.append(f"epoch {e['epoch_id']}: got {got}, want {tuple(want)}")
                failed |= touching(lo, e["max_event_id"])
            prev = e["max_event_id"] if prev is None else max(prev, e["max_event_id"])
        last_hi = ranges[-1][1]
        if prev is None or prev < last_hi:
            msgs.append(f"epochs end at {prev}, feed ends at {last_hi}")
            failed |= touching(prev if prev is not None else ranges[0][0], last_hi)
        elif prev > last_hi:
            msgs.append(f"epochs run past the feed: {prev} > {last_hi}")

        # the extract holds every published event once, per table
        self.con.execute("CREATE OR REPLACE TEMP TABLE b (i INT, lo BIGINT, hi BIGINT)")
        self.con.executemany(
            "INSERT INTO b VALUES (?, ?, ?)",
            [(i, lo, hi) for i, (lo, hi) in enumerate(ranges)],
        )
        files = os.path.join(extract_dir, "*", "*.csv")
        got = self.con.execute(
            f"""SELECT b.i, x.table_name, count(*), count(DISTINCT x.id)
                FROM (SELECT CAST(event_id AS BIGINT) AS id, table_name
                      FROM read_csv('{files}', delim='|', header=true,
                                    hive_partitioning=true, all_varchar=true)) x
                JOIN b ON x.id > b.lo AND x.id <= b.hi GROUP BY ALL"""
        ).fetchall()
        want = self.con.execute(
            """SELECT b.i, c.table_name, count(*), count(*)
               FROM changes c JOIN b ON c.event_id > b.lo AND c.event_id <= b.hi
               GROUP BY ALL"""
        ).fetchall()
        got_d = {(i, t): (n, d) for i, t, n, d in got}
        want_d = {(i, t): (n, d) for i, t, n, d in want}
        for key in sorted(set(got_d) | set(want_d)):
            if got_d.get(key) != want_d.get(key):
                msgs.append(
                    f"extract batch {key[0]} {key[1]}: got {got_d.get(key)} "
                    f"(rows, distinct), want {want_d.get(key)}"
                )
                failed.add(key[0])
        total = self.con.execute(
            f"SELECT count(*) FROM read_csv('{files}', delim='|', header=true, "
            "hive_partitioning=true, all_varchar=true)"
        ).fetchone()[0]
        if total != sum(n for n, _ in want_d.values()):
            msgs.append(f"extract holds {total} rows outside the published batches")
        return failed, msgs

    def close(self) -> None:
        self.con.close()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def cdc_live(ctx) -> None:
    """Open loop: a generator thread publishes pre-staged batches on a
    seeded schedule while one poller calls ``run`` back to back on the
    same ``--out``.  Each batch's lag runs from its *scheduled*
    publish time to the return of the first poll that covers it."""
    work, cpus = ctx.work, ctx.cpus
    stage, feed, out = (os.path.join(work, d) for d in ("stage", "feed", "out"))
    with ctx.setup():
        ranges = stage_feed(ctx.spark, ctx.sf_dir, stage, LIVE_BATCHES)
    # each warm-up cycle runs the poll path on a fresh side copy: one
    # poll per batch, then an idle poll
    for c in range(WARM_CYCLES):
        warm_feed, warm_out = (os.path.join(work, f"warm{c}", d) for d in ("feed", "out"))
        with ctx.cycle():
            for name in [f"batch_{i:05d}" for i in range(WARM_BATCHES)] + [None]:
                if name:
                    shutil.copytree(
                        os.path.join(stage, name), os.path.join(warm_feed, name)
                    )
                cli_run(warm_feed, warm_out, cpus)
    oracle = Oracle(ctx.sf_dir)
    rows = oracle.batch_rows(ranges)
    ctx.layers.update({"feed.batches": len(ranges), "feed.events": sum(rows)})

    schedule = stats.paced_schedule(
        random.Random(ctx.seed), MEAN_GAP_S, GAP_JITTER, ctx.seconds, LIVE_BATCHES
    )
    n = len(schedule)
    his = [hi for _, hi in ranges[:n]]
    cum = list(itertools.accumulate(rows[:n]))
    os.makedirs(feed)
    published = [None] * n
    late_ms: list[float] = []
    lock = threading.Lock()

    def publish(i: int) -> None:
        name = f"batch_{i:05d}"
        os.rename(os.path.join(stage, name), os.path.join(feed, name))
        with lock:
            published[i] = time.perf_counter() - t0
        late_ms.append((published[i] - schedule[i]) * 1000.0)

    def generator() -> None:
        for i in range(1, n):
            delay = t0 + schedule[i] - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            publish(i)

    ctx.start_measure()
    # the first batch is due at 0: an empty feed dir would make `run`
    # derive a feed of its own instead of watching this one
    t0 = time.perf_counter()
    publish(0)
    gen = threading.Thread(target=generator, name="feed-generator", daemon=True)
    gen.start()

    covered_at: list[float | None] = [None] * n
    poll_s, empty_s, history = [], [], 0
    data_cpu, empty_cpu = [], []  # CPU seconds of each poll with data, idle poll
    backlog_max, epochs = 0, []
    failed_polls: set[int] = set()
    try:
        while True:
            with lock:
                n_pub = sum(p is not None for p in published)
            done = n_pub == n and all(c is not None for c in covered_at)
            now = time.perf_counter() - t0
            if done or now > schedule[-1] + DRAIN_S:
                break
            start = time.perf_counter() - t0
            cpu = ctx.cpu_s()
            try:
                with ctx.op("poll"):
                    epochs = cli_run(feed, out, cpus)
            except Exception as exc:  # a raising poll fails its batches
                ctx.log(f"poll raised: {exc!r}")
                failed_polls |= {
                    i for i in range(n_pub) if covered_at[i] is None
                }
                continue
            ret = time.perf_counter() - t0
            cpu = ctx.cpu_s() - cpu
            history += len(epochs)
            newly = [
                i for i, ok in enumerate(stats.covered(epochs, his, cum))
                if ok and covered_at[i] is None
            ]
            for i in newly:
                covered_at[i] = ret
            if newly:
                poll_s.append(ret - start)
                data_cpu.append(cpu)
            else:
                empty_s.append(ret - start)
                empty_cpu.append(cpu)
            with lock:
                n_pub = sum(p is not None for p in published)
            backlog_max = max(
                backlog_max, sum(1 for i in range(n_pub) if covered_at[i] is None)
            )
    finally:
        gen.join()
    ctx.end_measure()
    ctx.cpu_ms_per_op = 1000.0 * stats.batch_and_idle_cpu(
        data_cpu,
        sum(c is not None for c in covered_at),
        empty_cpu,
        MEAN_GAP_S / POLL_INTERVAL_S - 1.0,
    )

    lags = stats.open_loop_lags(schedule, covered_at)
    failed, msgs = oracle.check(ranges[:n], epochs, os.path.join(out, "extract"))
    oracle.close()
    for m in msgs:
        ctx.log(m)
    ctx.mismatches += len(msgs)
    ctx.outcome.attempt(n)
    for i in set(failed) | failed_polls | {i for i, g in enumerate(lags) if g is None}:
        ctx.outcome.fail(i)
    ctx.samples_ms = [g for g in lags if g is not None]
    ctx.log(f"lags_ms {[round(g) for g in ctx.samples_ms]}")
    ctx.log(f"polls_s {[round(x, 2) for x in poll_s]} empty polls {len(empty_s)}, "
            f"p50 {statistics.median(empty_s) if empty_s else 0:.3f} s")
    ctx.layers.update(
        {
            "cli.polls": len(poll_s) + len(empty_s),
            "cli.empty_polls": len(empty_s),
            "cli.poll_p50_s": statistics.median(poll_s) if poll_s else 0.0,
            "cli.poll_max_s": max(poll_s, default=0.0),
            "cli.empty_poll_s": statistics.median(empty_s) if empty_s else 0.0,
            "cli.empty_poll_cpu_ms": statistics.median(empty_cpu) * 1000.0 if empty_cpu else 0.0,
            "cli.history_epochs_read": history,
            "pipeline.epochs": len(epochs),
            "sinks.extract_bytes": dir_bytes(os.path.join(out, "extract")),
            "gen.batches": n,
            "gen.late_p50_ms": statistics.median(late_ms),
            "gen.late_max_ms": max(late_ms),
            "gen.backlog_max": backlog_max,
        }
    )
