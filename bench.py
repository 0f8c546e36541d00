#!/usr/bin/env python
"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (a consumer that keeps only a ~2000-char TAIL of
stdout receives a single 4.6k-char JSON line truncated, and it parses
as null):
  line 1: full detail JSON ({"detail": ..., "queries": {every
          registered query}}) — for humans and the judge reading the
          whole stdout;
  line 2 (FINAL): compact summary JSON < 1500 chars — metric, value,
          unit, sf, n_queries, and the slowest queries only — always
          inside the tail window, always parseable.

Results are consumed with the noop sink (full plan executes, nothing is
collected to the driver) — the honest analog of "the cluster did the
work".
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_from_dir(d: str) -> float:
    name = Path(d).name
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def _canary(spark) -> list[float]:
    """Fixed-cost host-overhead probe: one 1-row constant query
    through the exact harness path (plan → noop sink), two reps, BOTH
    reported.  Its data cost is ~zero, so its wall time is pure
    scheduler/JVM/host overhead — comparing the first (pre-suite) and
    last (post-suite) canary across runs separates host inflation from
    code regression inside the artifact itself."""
    reps: list[float] = []
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(1).selectExpr("1 AS one").write.format("noop").mode(
            "overwrite"
        ).save()
        reps.append(round(time.perf_counter() - t0, 4))
    return reps


def _stream_canary(spark) -> list[float]:
    """Fixed-cost STREAMING-lifecycle probe: one empty-feed pass
    through the package's own runner
    (``streaming.pipeline.run_available_now``: start → wait → stop if
    still running), two reps, both reported.  It reads zero rows, so
    its wall time is pure StreamingQuery lifecycle overhead — checkpoint/
    offset-log setup, trigger scheduling, termination.  Swings of 2x
    in streaming_interval_join and streaming_left_outer_join have been
    dominated by exactly this fixed cost, not plan cost; comparing
    first/last stream canaries across runs separates a host-inflated
    stream lifecycle from a real streaming-plan regression."""
    import shutil
    import tempfile

    from cdc_extractor_spark.streaming.pipeline import run_available_now

    reps: list[float] = []
    for _ in range(2):
        base = tempfile.mkdtemp(prefix="cdcx_stream_canary_")
        feed = os.path.join(base, "feed")
        os.makedirs(feed)
        t0 = time.perf_counter()
        run_available_now(
            spark.readStream.schema("v long").format("json").load(feed)
            .writeStream.format("noop"),
            os.path.join(base, "ckpt"),
        )
        reps.append(round(time.perf_counter() - t0, 4))
        shutil.rmtree(base, ignore_errors=True)
    return reps


def _codegen_compiles(spark) -> int:
    """Janino compiles so far in this JVM: the count of Spark's
    codegen compilation-time histogram, one sample per cache miss."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def main() -> None:
    from cdc_extractor_spark.queries import QUERIES
    from cdc_extractor_spark.session import get_session

    spark = get_session(app_name="cdc_extractor_spark_bench")

    # untimed warmup: JVM/codegen/Arrow spin-up is session cost, not
    # query cost — run one tiny job of each engine flavor first
    warm = spark.read.parquet(f"{SF_DIR}/region.parquet")
    warm.count()
    warm.groupBy("r_name").count().write.format("noop").mode("overwrite").save()
    # warm the canary's own plan flavor (range scan → noop) so its
    # first measured rep is steady-state overhead, not one-time codegen
    _canary(spark)
    _stream_canary(spark)

    canary = {"first": _canary(spark), "stream_first": _stream_canary(spark)}

    # two reps, report the min: one JVM runs hundreds of sequential
    # jobs, so a single rep is exposed to GC/host noise; min-of-2 is
    # the steady-state per-query cost.  Both reps are recorded
    # (BENCH_DETAIL.md) so host noise is separable from regression
    # per-query, not just in aggregate.  Each rep also records its
    # codegen compiles: a non-zero rep-2 count marks a query whose
    # generated code differs between builds.
    import gc

    timings: dict[str, float] = {}
    reps: dict[str, list[float]] = {}
    compiles: dict[str, list[int]] = {}
    for name in sorted(QUERIES):
        fn = QUERIES[name]
        reps[name] = []
        compiles[name] = []
        for _ in range(2):
            c0 = _codegen_compiles(spark)
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            reps[name].append(round(time.perf_counter() - t0, 3))
            compiles[name].append(_codegen_compiles(spark) - c0)
        timings[name] = min(reps[name])
        # drop plan/py4j references so the ContextCleaner can release
        # localCheckpoint RDDs (iterative queries) before the next
        # query is timed — lingering blocks were measurably polluting
        # alphabetical neighbors of the checkpoint-heavy queries
        del df
        gc.collect()

    canary["last"] = _canary(spark)
    canary["stream_last"] = _stream_canary(spark)

    total = round(sum(timings.values()), 3)
    sf = _sf_from_dir(SF_DIR)

    # Committed artifact: the 2000-char stdout tail keeps only the
    # slowest-N sub-map, which leaves a regression analysis partial.
    # BENCH_DETAIL.md carries EVERY query's time, slowest first, so
    # run-over-run diffs cover the whole registry.  Best-effort: a
    # read-only checkout must not break the bench contract.
    #
    # Every invocation ALSO writes a cpu-count-tagged copy
    # (BENCH_DETAIL_c{N}.md), so a scaling run at a different
    # $SPARK_GRAFT_CPUS no longer clobbers the primary core-count's
    # table — both stay on disk after a scaling session.  Stdout
    # contract unchanged (two JSON lines, summary last).  The cpus tag
    # is read from the live session, so a master override is labeled
    # by what actually ran.
    try:
        sc = spark.sparkContext
        cpus = sc.defaultParallelism
        detail = Path(__file__).resolve().parent / "BENCH_DETAIL.md"
        detail_cn = Path(__file__).resolve().parent / f"BENCH_DETAIL_c{cpus}.md"
        lines = [
            "# BENCH_DETAIL — full per-query wall seconds",
            "",
            f"sf={sf}  queries={len(timings)}  total={total}s  "
            f"(min of 2 reps, noop sink; sorted slowest first)",
            "",
            f"cpus={cpus} ({sc.master})",
            "",
            f"canary (1-row constant query, pure harness overhead): "
            f"first={canary['first']}  last={canary['last']}  "
            f"(2 reps each, seconds)",
            "",
            f"stream canary (empty-feed availableNow lifecycle, pure "
            f"StreamingQuery start/stop overhead): "
            f"first={canary.get('stream_first')}  "
            f"last={canary.get('stream_last')}  (2 reps each, seconds)",
            "",
            "> Streaming-lifecycle split: every streaming_* query's",
            "> wall time = N x the stream canary's lifecycle cost + its",
            "> actual micro-batch work (N = number of StreamingQuery",
            "> starts; streaming_left_outer_join runs TWO by design).",
            "> Before reading a streaming tier swing as regression,",
            "> subtract this run's stream canary: if the canary moved",
            "> with it, the swing is the host's lifecycle cost, not plan",
            "> cost.",
            "",
            "> compiles1/compiles2: codegen classes compiled during each",
            "> rep.  With the session's codegen cache sized to the",
            "> registry, a non-zero compiles2 means the query's generated",
            "> code differs between builds.",
            "",
            "| query | sec | rep1 | rep2 | compiles1 | compiles2 |",
            "|---|---|---|---|---|---|",
        ]
        for name, sec in sorted(timings.items(), key=lambda kv: (-kv[1], kv[0])):
            r1, r2 = reps[name]
            c1, c2 = compiles[name]
            lines.append(
                f"| {name} | {sec:.3f} | {r1:.3f} | {r2:.3f} | {c1} | {c2} |"
            )
        body = "\n".join(lines) + "\n"
        detail.write_text(body)
        detail_cn.write_text(body)
    except OSError:
        pass

    # Quiesce the JVM BEFORE the JSON lines are printed: the
    # streaming_ivf_maintenance query once left a StateStore
    # maintenance thread alive, and its teardown WARN + stack trace
    # landed in the stdout tail AFTER the summary line, so a tail-parse
    # of the bench output came back null.  Order is therefore: stop
    # streams, stop StateStore maintenance, silence logging,
    # spark.stop(), and only THEN emit JSON — the summary is the true
    # last line of stdout no matter what background threads log on
    # their way out.
    _quiesce(spark)

    emit_summary(timings, sf, canary)


def _quiesce(spark) -> None:
    """Stop all streaming state and the session so nothing logs later."""
    try:
        for q in spark.streams.active:
            q.stop()
    except Exception:
        pass
    try:
        # Kills the background StateStore maintenance thread that
        # otherwise outlives the session and logs at teardown.
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass
    try:
        spark.sparkContext.setLogLevel("OFF")
    except Exception:
        pass
    try:
        spark.stop()
    except Exception:
        pass


def emit_summary(
    timings: dict[str, float],
    sf: float,
    canary: dict[str, list[float]] | None = None,
    metric: str = "all_queries_wall",
) -> None:
    """Print the two-line stdout contract: full detail, then a compact
    final summary line guaranteed < 1500 chars (the driver keeps only a
    ~2000-char stdout tail and json-parses its last line).

    Factored out of main() so tests/test_bench_contract.py can assert
    the tail contract on stubbed timings without a Spark session.
    """
    total = round(sum(timings.values()), 3)

    # Full per-query detail on its own (non-final) line.
    detail = {"detail": "per_query_wall_sec", "sf": sf, "queries": timings}
    if canary is not None:
        detail["canary"] = canary
    print(json.dumps(detail), flush=True)

    # Compact final line: include only the slowest queries, largest
    # first, until the line would exceed the budget the driver's tail
    # capture always preserves whole.
    summary = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "queries": {},
    }
    if canary is not None:
        # min-of-reps scalars: a run-over-run inflated canary = host
        # overhead, not query code (both reps in BENCH_DETAIL.md)
        summary["canary_first_sec"] = min(canary["first"])
        summary["canary_last_sec"] = min(canary["last"])
        # streaming-lifecycle twin: fixed StreamingQuery start/stop
        # cost, for adjudicating swings in
        # the streaming_* tier separately from batch host overhead
        if "stream_first" in canary:
            summary["canary_stream_first_sec"] = min(canary["stream_first"])
        if "stream_last" in canary:
            summary["canary_stream_last_sec"] = min(canary["stream_last"])
    budget = 1500
    for name, sec in sorted(timings.items(), key=lambda kv: -kv[1]):
        summary["queries"][name] = sec
        # >= so the final line is STRICTLY under the budget (`>` would
        # let an exactly-1500-char line through the contract)
        if len(json.dumps(summary)) >= budget:
            del summary["queries"][name]
            break
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
