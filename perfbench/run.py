"""Layered benchmark of cdc_extractor_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_live --seed 1 --seconds 16 --trace 0

One process, one local Spark session on every core of the host.  The
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  Progress and the host shape
go to stderr.  Workloads, metrics and their meaning: ``NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager, nullcontext

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("cdc_live", "registry_floor")
END_TO_END = {"setup_s": "s", "cpu_ms_per_op": "ms"}
CLK_TCK = os.sysconf("SC_CLK_TCK")


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """``(comm, fields after comm)`` of a /proc stat file, or None if
    the process or thread has exited."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.find("(") + 1:raw.rfind(")")], raw[raw.rfind(")") + 2:].split()


def tree_cpu_s(jit_too: bool = False) -> tuple[float, float]:
    """CPU seconds (user + system, with reaped children) of this process
    and every descendant, the driver JVM and its Python workers; and,
    when ``jit_too``, the part of it spent in the JVM's JIT compiler
    threads (else 0)."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        st = _stat(f"/proc/{name}/stat") if name.isdigit() else None
        if st:
            parent[int(name)] = int(st[1][1])
            ticks[int(name)] = sum(int(x) for x in st[1][11:15])
    root, total, jit = os.getpid(), 0, 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p != root:
            continue
        total += t
        if not jit_too:
            continue
        for tid in os.listdir(f"/proc/{pid}/task") if os.path.isdir(f"/proc/{pid}/task") else ():
            st = _stat(f"/proc/{pid}/task/{tid}/stat")
            if st and st[0].startswith(JIT_THREADS):
                jit += sum(int(x) for x in st[1][11:13])
    return total / CLK_TCK, jit / CLK_TCK


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8])) if len(d) > 7 else 0.0


def host_env(root: str, work: str, cpus: int) -> None:
    """Pin the host shape before pyspark starts: one core per task slot,
    local dirs and temp files inside the checkout, driver heap below RAM."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_DRIVER_MEM=f"{max(1024, min(4096, phys_mb // 4))}m",
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
    )
    tempfile.tempdir = tmp
    sys.path.insert(0, root)


class Context:
    """What a workload gets: the session, its directories and clock, and
    the places it reports set-up time, samples, outcomes and layer counts."""

    def __init__(self, args, work: str, sf_dir: str) -> None:
        self.workload, self.seed = args.workload, args.seed
        self.seconds, self.cpus = args.seconds, len(os.sched_getaffinity(0))
        self.work, self.sf_dir = work, sf_dir
        self.tracer = None
        self.spark = None
        self.once_s = 0.0  # set-up done once: start, staging, checks
        self.cycle_s: list[float] = []  # each repeated warm-up cycle
        self.samples_ms: list[float] = []  # wall latency of each operation
        self.layers: dict[str, float] = {}
        self.outcome = stats.Outcome()
        self.mismatches = 0
        self.window = [None, None]  # wall-clock start and end of measuring
        self.cpu = [0.0, 0.0]  # tree CPU seconds at those two points
        self.jit = [0.0, 0.0]  # the JIT threads' part (traced runs only)
        self.ops = 0  # operations in the measured window
        self.cpu_ms_per_op = 0.0  # set by the workload
        self.plan_s = 0.0

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    @property
    def setup_s(self) -> float:
        """Set-up done once plus the median warm-up cycle."""
        return self.once_s + (statistics.median(self.cycle_s) if self.cycle_s else 0.0)

    @contextmanager
    def setup(self):
        """Set-up done once (may be entered several times)."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.once_s += time.perf_counter() - t

    @contextmanager
    def cycle(self):
        """One warm-up cycle; the cycles repeat the same set-up work."""
        t = time.perf_counter()
        yield
        self.cycle_s.append(time.perf_counter() - t)

    def start_measure(self) -> None:
        """Set-up is over: the measured window starts now."""
        self.log(f"set-up {self.setup_s:.2f} s: once {self.once_s:.2f} s, "
                 f"cycles {[round(x, 2) for x in self.cycle_s]}")
        if self.tracer:
            self.listener.take()  # drop the set-up's progress events
        self.window[0] = time.time()
        self.cpu[0], self.jit[0] = tree_cpu_s(self.tracer is not None)

    def end_measure(self) -> None:
        self.cpu[1], self.jit[1] = tree_cpu_s(self.tracer is not None)
        self.window[1] = time.time()
        self.log(f"measured {self.window[1] - self.window[0]:.2f} s, "
                 f"{self.ops} operations, {self.cpu[1] - self.cpu[0]:.2f} CPU s")

    @staticmethod
    def cpu_s() -> float:
        return tree_cpu_s()[0]

    def per_op_ms(self, pair: list[float]) -> float:
        return (pair[1] - pair[0]) * 1000.0 / max(1, self.ops)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def op(self, kind: str):
        """One operation of the measured window, spanned when tracing."""
        self.ops += 1
        if not self.tracer:
            return nullcontext()
        return self.tracer.span(kind, trace_id=f"{kind}-{self.ops}")

    def plan(self, df) -> None:
        """Traced runs only: record the Catalyst phases of ``df``."""
        if not self.tracer:
            return
        from tracing import catalyst_phases

        t = time.perf_counter()
        for phase, sec in catalyst_phases(df).items():
            self.layers[f"catalyst.{phase}_s"] = (
                self.layers.get(f"catalyst.{phase}_s", 0.0) + sec
            )
        self.plan_s += time.perf_counter() - t


def start_session(ctx: Context):
    from cdc_extractor_spark import session

    java_opts = f"-Djava.io.tmpdir={ctx.work}/tmp -XX:-UsePerfData"
    conf = {"spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse")}
    if ctx.tracer:
        # compiler threads live for the whole run, so their CPU can be
        # told apart from the work's; keep every job, stage and
        # execution for the trace
        java_opts += " -XX:-UseDynamicNumberOfCompilerThreads"
        retain = "1000000"
        conf.update({
            "spark.ui.retainedJobs": retain,
            "spark.ui.retainedStages": retain,
            "spark.sql.ui.retainedExecutions": retain,
        })
    conf["spark.driver.extraJavaOptions"] = java_opts
    with ctx.setup():
        spark = session.get_session(app_name="perfbench", extra_conf=conf)
    return spark


def install_tracing(ctx: Context) -> None:
    """Rebind the package's public functions to spanned wrappers."""
    import cdc_extractor_spark.__main__  # noqa: F401  (CLI bindings)
    from cdc_extractor_spark import io, session, sinks
    from cdc_extractor_spark.sources import changes  # noqa: F401
    from cdc_extractor_spark.streaming import pipeline
    from tracing import Tracer

    if "registry" in ctx.workload:
        import cdc_extractor_spark.queries  # noqa: F401  (builder bindings)
    t = Tracer()
    t.wrap(session.get_session, "session.start")
    t.wrap(pipeline.write_feed_batches, "feed.stage")
    t.wrap(pipeline.run_cdc_pipeline, "pipeline.extract")
    t.wrap(pipeline.run_observed_staleness, "pipeline.staleness")
    t.wrap(sinks.write_pipe_text, "sinks.pipe_text")
    t.wrap(io.load_table, "io.load_table")
    ctx.tracer = t


def _within(t: float, spans: list[dict]) -> bool:
    return any(s["start"] <= t <= s["end"] for s in spans)


def layer_metrics(ctx: Context) -> dict[str, float]:
    """Fold spans, Spark's status stores and the streaming listener into
    the per-layer metrics.  Set-up layers cover the whole run; the rest
    cover the measured window, per pass (registry) or per run (cdc)."""
    from tracing import SparkStatus

    tr, lay = ctx.tracer, dict(ctx.layers)
    status = SparkStatus(ctx.spark)
    status.drain()
    jobs, stages_, execs = status.jobs(), status.stages(), status.executions()
    stream = ctx.listener.take()
    lo, hi = ctx.window
    per = max(1, int(lay.get("registry.passes", 1)))

    def spans(name, window=True):
        return [
            s for s in tr.spans
            if s["name"] == name and s["end"] is not None
            and (not window or lo <= s["start"] <= hi)
        ]

    def total_s(name, window=True):
        return sum(s["end"] - s["start"] for s in spans(name, window))

    def jobs_in(sp):
        return [j for j in jobs if _within(j[0], sp)]

    lay["session.start_s"] = sum(
        s["end"] - s["start"] for s in spans("session.start", window=False)
        if s["parent"] is None
    )
    lay["feed.stage_s"] = total_s("feed.stage", window=False)
    lay.setdefault("feed.batches", 0)
    lay.setdefault("feed.events", 0)
    # cdc calls load_table only in set-up (changes_df); registry per pass
    loads = spans("io.load_table", window="registry" in ctx.workload)
    lay["io.load_table_calls"] = len(loads) / per
    lay["io.load_table_s"] = sum(s["end"] - s["start"] for s in loads) / per
    lay["io.load_table_jobs"] = len(jobs_in(loads)) / per
    builds = spans("queries.build")
    lay["queries.build_s"] = sum(s["end"] - s["start"] for s in builds) / per
    lay["queries.build_jobs"] = len(jobs_in(builds)) / per
    for phase in ("analysis", "optimization", "planning"):
        key = f"catalyst.{phase}_s"
        lay[key] = lay.get(key, 0.0) / per
    lay["pipeline.extract_s"] = total_s("pipeline.extract")
    lay["pipeline.staleness_pass_s"] = total_s("pipeline.staleness")
    pipe = spans("sinks.pipe_text")
    lay["sinks.pipe_text_s"] = sum(s["end"] - s["start"] for s in pipe)
    lay["sinks.pipe_text_calls"] = len(pipe)

    ops = [s for s in tr.spans if s["parent"] is None and s["trace"]
           and s["end"] is not None and lo <= s["start"] <= hi]
    op_jobs = jobs_in(ops)
    n_ops = max(1, len(ops))
    lay["sched.jobs_per_op"] = len(op_jobs) / n_ops
    lay["sched.stages_per_op"] = sum(j[1] for j in op_jobs) / n_ops
    lay["sched.tasks_per_op"] = sum(j[2] for j in op_jobs) / n_ops
    op_stages = [s for s in stages_ if _within(s[0], ops)]
    lay["exec.s"] = sum(e - s for s, e in execs if _within(s, ops)) / per
    lay["exec.shuffle_write_bytes"] = sum(s[1] for s in op_stages) / per
    lay["exec.shuffle_read_bytes"] = sum(s[2] for s in op_stages) / per
    lay["exec.spill_bytes"] = sum(s[3] for s in op_stages) / per

    for k in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
              "walCommit", "commitOffsets", "triggerExecution"):
        lay[f"stream.{k}_ms"] = stream.get(k, 0.0)
    lay["stream.queries_started"] = stream.get("queries_started", 0)
    polls = [s for s in ops if s["name"] == "poll"]
    lay["stream.lifecycle_ms"] = (
        sum(s["end"] - s["start"] for s in polls) * 1000.0
        - stream.get("triggerExecution", 0.0)
        if polls else 0.0
    )
    for key in ("cli.polls", "cli.empty_polls", "cli.poll_p50_s", "cli.poll_max_s",
                "cli.empty_poll_s", "cli.empty_poll_cpu_ms", "cli.history_epochs_read", "pipeline.epochs",
                "sinks.extract_bytes", "gen.batches", "gen.late_p50_ms", "gen.late_max_ms",
                "gen.backlog_max", "registry.passes"):
        lay.setdefault(key, 0)
    # tracing's own work inside the window, not the traced-minus-untraced
    # difference: Catalyst phases planned for the trace, and the
    # listener's callbacks
    lay["trace.overhead_frac"] = (ctx.plan_s + stream.get("busy_s", 0.0)) / (hi - lo)
    return lay


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (the py4j gateway process)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def end_to_end(ctx: Context) -> dict[str, float]:
    return {"setup_s": ctx.setup_s, "cpu_ms_per_op": ctx.cpu_ms_per_op}


def wall_metrics(ctx: Context) -> dict[str, float]:
    """Wall latency per operation: median, mean, and the highest
    percentile with at least ten samples beyond it, when that is at
    least p90 (else both tail figures read 0)."""
    xs = ctx.samples_ms
    pct = stats.reported_tail(len(xs))
    return {
        "op.samples": len(xs),
        "op.wall_p50_ms": statistics.median(xs),
        "op.wall_mean_ms": statistics.fmean(xs),
        "op.wall_tail_pct": pct or 0.0,
        "op.wall_tail_ms": stats.nearest_rank(xs, pct) if pct else 0.0,
    }


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cdc_extractor_spark", "__init__.py")):
        print("perfbench: run from the root of a cdc_extractor_spark checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    host_env(root, work, len(os.sched_getaffinity(0)))
    try:
        return run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, root: str, work: str) -> int:
    import pyspark
    from cdc_extractor_spark.io import DEFAULT_SF_DIR

    sf_dir = DEFAULT_SF_DIR
    if not os.path.isdir(sf_dir):
        print(f"perfbench: fixture dir {sf_dir} missing", file=sys.stderr)
        return 2
    ctx = Context(args, work, sf_dir)
    cpu0 = cpu_times()
    ctx.once_s = time.perf_counter() - T_START  # interpreter and imports
    if args.trace:
        install_tracing(ctx)
    spark = ctx.spark = start_session(ctx)
    try:
        if args.trace:
            from tracing import stream_listener

            ctx.listener = stream_listener(spark)
        if args.workload == "cdc_live":
            import cdc

            cdc.cdc_live(ctx)
        else:
            import registry

            registry.registry(ctx, registry.FLOOR)
        java = spark._jvm.java.lang.System.getProperty("java.version")
        if args.trace:
            metrics = layer_metrics(ctx)
            metrics.update(wall_metrics(ctx))
            metrics["jvm.jit_cpu_per_op_ms"] = ctx.per_op_ms(ctx.jit)
            metrics["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
            units = {k: layer_unit(k) for k in metrics}
            ctx.tracer.close()
            trace_dir = os.path.join(root, ".perfbench_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            ctx.tracer.dump(
                os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
            )
        else:
            metrics = end_to_end(ctx)
            units = dict(END_TO_END)
    finally:
        stop_jvm(spark)

    correct = ctx.outcome.failed == 0 and ctx.mismatches == 0
    steal = steal_frac(cpu0, cpu_times())
    if args.trace:
        metrics["host.steal_frac"], units["host.steal_frac"] = steal, "ratio"
    ctx.log(
        f"host: cpus={ctx.cpus} python={platform.python_version()} "
        f"spark={pyspark.__version__} java={java} seed={args.seed} "
        f"workload={args.workload} wall={wall_metrics(ctx)} "
        f"failed_frac={ctx.outcome.failed_frac:.4f} steal={steal:.3f} "
        f"setup_s={ctx.setup_s:.2f} cpu_ms_per_op={ctx.cpu_ms_per_op:.1f}"
    )
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": ctx.outcome.attempted,
                "failed": ctx.outcome.failed,
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0 if correct else 1


def layer_unit(key: str) -> str:
    if key.endswith("_mb"):
        return "MB"
    if key.endswith("_ms"):
        return "ms"
    if key.endswith(("_s", ".s")):
        return "s"
    if key.endswith("_bytes"):
        return "bytes"
    if key.endswith("_pct"):
        return "%"
    if key.endswith("_frac"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
