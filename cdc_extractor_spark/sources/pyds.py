"""`changelog_poll` — the reference's polling CDC architecture as a
Spark 4 Python Data Source.

This is the closest structural analog to the reference in the whole
repo: its coordinator/worker split IS the DataSourceStreamReader
contract —

- ``latestOffset()``  ≙  the coordinator poll ``select max(event_id)``
  (``CoordinatorRunnable.java:84-94``): driver-side, returns the
  current high-water mark; Spark derives the ``(lo, hi]`` epoch range
  exactly like the coordinator building a ``Task`` (``Task.java:3-8``);
- ``partitions(start, end)``  ≙  the task fan-out to N workers
  (``Client.java:24-26``, A15): the epoch range splits into contiguous
  sub-ranges, one per concurrent scan task;
- ``read(partition)``  ≙  the worker range scan
  (``WorkerRunnable.java:93-94, 117-119``): executor-side, scans only
  its ``(lo, hi]`` slice — emitted as Arrow record batches, not
  per-row Python tuples;
- ``commit(end)``  ≙  the offset advance (``maxSeqID = newMax``,
  ``CoordinatorRunnable.java:91``) — except Spark checkpoints it, so a
  restart resumes instead of silently skipping the gap (§2 bug list).

The batch reader adds what the reference hand-wrote into its SQL
strings: ``pushFilters`` accepts the offset-range and IN-list
predicates (A2/A3) so they run inside the scan, and ``partitions``
gives the parallel range fan-out.

Scale: the backing store here is a parquet directory (the fixture
feed); against a real audit table the same class wraps a JDBC/HTTP
poll — the contract is identical.  ``latestOffset`` reads only footer
statistics (O(files) metadata, no data I/O); each ``read`` streams
Arrow batches for its slice only.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    GreaterThan,
    In,
    InputPartition,
    LessThanOrEqual,
)

CHANGES_DDL = (
    "event_id bigint, table_name string, transaction_id bigint, "
    "commit_ts_ms bigint, action string, key bigint, val_cents bigint"
)
COLUMNS = [
    "event_id", "table_name", "transaction_id", "commit_ts_ms",
    "action", "key", "val_cents",
]


@dataclass
class RangePartition(InputPartition):
    lo: int   # exclusive
    hi: int   # inclusive


def _minmax_event_id(path: str) -> tuple[int, int]:
    """(min, max) of event_id from parquet footer statistics —
    the poll must stay O(metadata) no matter how big the log is.

    "No rows" and "stats missing" are DIFFERENT answers: capping the
    range at whatever stats happen to exist when data lacks footer
    statistics would make ``partitions()``/``latestOffset()`` silently
    drop (and, streaming, permanently skip) the uncovered rows — the
    silent-data-loss class this project criticizes in the reference
    (§2 checklist: a skipped offset range is skipped forever).  The
    fallback therefore triggers when ANY row group with rows lacks
    event_id statistics — not only when all of them do (a mixed
    stats/no-stats directory must not be answered from the covered
    files alone) — and scans ONLY the event_id column, streamed batch
    by batch (constant driver memory; the min/max fold never
    materializes the column).  The happy path stays O(footer metadata).
    """
    import pyarrow.dataset as pds
    import pyarrow.parquet as pq

    lo, hi = None, None
    n_rows = 0
    stats_complete = True
    for f in pds.dataset(path, format="parquet").files:
        md = pq.ParquetFile(f).metadata
        n_rows += md.num_rows
        for rg in range(md.num_row_groups):
            if md.row_group(rg).num_rows == 0:
                continue
            rg_stat = None
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == "event_id" and col.statistics:
                    rg_stat = col.statistics
            if rg_stat is None:
                stats_complete = False
            else:
                lo = rg_stat.min if lo is None else min(lo, rg_stat.min)
                hi = rg_stat.max if hi is None else max(hi, rg_stat.max)
    if n_rows == 0:  # genuinely no data (no files / empty files)
        return (0, -1)
    if stats_complete:
        return (lo, hi)
    # some row group carries data without stats: pay one streamed
    # single-column scan rather than lose rows
    import pyarrow.compute as pc

    scanner = pds.dataset(path, format="parquet").scanner(columns=["event_id"])
    for batch in scanner.to_batches():
        if batch.num_rows == 0:
            continue
        mm = pc.min_max(batch.column(0))
        blo, bhi = mm["min"].as_py(), mm["max"].as_py()
        if blo is not None:
            lo = blo if lo is None else min(lo, blo)
            hi = bhi if hi is None else max(hi, bhi)
    if hi is None:  # rows exist but every event_id is NULL
        return (0, -1)
    return (lo, hi)


def _scan_range(
    path: str, lo: int, hi: int, tables: list[str] | None
) -> Iterator:
    """Executor-side range scan: Arrow batches for (lo, hi], optionally
    restricted to the monitored-table set (A2)."""
    import pyarrow.dataset as pds

    filt = (pds.field("event_id") > lo) & (pds.field("event_id") <= hi)
    if tables is not None:  # [] = empty intersection → matches nothing
        filt = filt & pds.field("table_name").isin(tables)
    dataset = pds.dataset(path, format="parquet")
    yield from dataset.to_batches(filter=filt, columns=COLUMNS)


def _split(lo: int, hi: int, n: int) -> list[RangePartition]:
    """Contiguous (lo, hi] sub-ranges — the coordinator's Task split."""
    if hi <= lo:
        return [RangePartition(lo, hi)]
    n = max(1, min(n, hi - lo))
    step = (hi - lo + n - 1) // n
    out = []
    cur = lo
    while cur < hi:
        nxt = min(cur + step, hi)
        out.append(RangePartition(cur, nxt))
        cur = nxt
    return out


class ChangelogBatchReader(DataSourceReader):
    def __init__(self, options):
        self.path = options["path"]
        self.n_parts = int(options.get("numPartitions", "4"))
        self.lo: int | None = None
        self.hi: int | None = None
        self.tables: list[str] | None = None

    def pushFilters(self, filters):
        """Accept the reference's two scan predicates — offset range
        (A3) and table-set membership (A2) — and hand everything else
        back to Spark.

        Redundant conjuncts ACCUMULATE (tightest bound wins): a query
        with ``event_id > 200 AND event_id > 100`` consumes both
        filters, so the reader must honor lo=200, not whichever came
        last — last-wins overwrite silently returned rows 101..200 in
        violation of the tighter predicate.  Same rule for two IN-lists
        on table_name: intersect (an empty intersection matches zero
        rows — distinct from "no pushed table filter").
        """
        for f in filters:
            if isinstance(f, GreaterThan) and f.attribute == ("event_id",):
                v = int(f.value)
                self.lo = v if self.lo is None else max(self.lo, v)
            elif isinstance(f, LessThanOrEqual) and f.attribute == ("event_id",):
                v = int(f.value)
                self.hi = v if self.hi is None else min(self.hi, v)
            elif isinstance(f, In) and f.attribute == ("table_name",):
                vals = sorted({str(v) for v in f.value})
                self.tables = (
                    vals
                    if self.tables is None
                    else sorted(set(self.tables) & set(vals))
                )
            else:
                yield f

    def partitions(self):
        lo, hi = _minmax_event_id(self.path)
        lo = (self.lo if self.lo is not None else lo - 1)
        hi = (hi if self.hi is None else min(hi, self.hi))
        return _split(lo, hi, self.n_parts)

    def read(self, partition: RangePartition):
        yield from _scan_range(self.path, partition.lo, partition.hi, self.tables)


class ChangelogPollStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.path = options["path"]
        self.n_parts = int(options.get("numPartitions", "2"))
        self.start = int(options.get("startOffset", "-1"))

    def initialOffset(self):
        return {"event_id": self.start}

    def latestOffset(self):
        _, hi = _minmax_event_id(self.path)
        return {"event_id": max(hi, self.start)}

    def partitions(self, start, end):
        return _split(int(start["event_id"]), int(end["event_id"]), self.n_parts)

    def read(self, partition: RangePartition):
        yield from _scan_range(self.path, partition.lo, partition.hi, None)

    def commit(self, end):
        # durable offset advance is Spark's checkpoint; nothing to do
        # source-side (the reference kept maxSeqID in memory and lost
        # it on every restart — CoordinatorRunnable.java:42).
        pass


class ChangelogPollDataSource(DataSource):
    """spark.read/readStream.format("changelog_poll").option("path", dir)"""

    @classmethod
    def name(cls) -> str:
        return "changelog_poll"

    def schema(self) -> str:
        return CHANGES_DDL

    def reader(self, schema) -> ChangelogBatchReader:
        return ChangelogBatchReader(self.options)

    def streamReader(self, schema) -> ChangelogPollStreamReader:
        return ChangelogPollStreamReader(self.options)


_PUSHDOWN_CONF = "spark.sql.python.filterPushdown.enabled"


def register(spark) -> None:
    # ChangelogBatchReader implements pushFilters(); Spark 4 hard-fails
    # a read through such a reader unless the (runtime-settable,
    # default-false) pushdown conf is on.  Enable it so the source
    # works on ANY session, not just ones built by session.get_session
    # — a caller-built vanilla SparkSession must not crash the scan.
    # ONLY when the caller has not set the conf themselves: an explicit
    # value (even "false") is a deliberate session decision register()
    # must not silently override — with pushdown explicitly off, the
    # subsequent scan raises Spark's own clear error instead of this
    # module mutating global session state behind the caller's back.
    jconf = spark._jsparkSession.sessionState().conf()
    if not jconf.contains(_PUSHDOWN_CONF):
        spark.conf.set(_PUSHDOWN_CONF, "true")
    spark.dataSource.register(ChangelogPollDataSource)


# ---------------------------------------------------------------------------
# `pipe_chunks` — the A10 chunk-file sink as a Python Arrow stream writer
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import (  # noqa: E402
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)


def _clear_staging_dir(path: str) -> None:
    """Remove the writer's staging dir wholesale — the only way to drop
    staged orphans whose commit message never reached the driver."""
    import os
    import shutil

    staging = os.path.join(path, "_staging")
    if os.path.isdir(staging):
        shutil.rmtree(staging, ignore_errors=True)


@dataclass
class ChunkCommit(WriterCommitMessage):
    staged: str
    n_rows: int


def _stage_arrow_batches(path: str, iterator) -> ChunkCommit:
    """Executor-side staging shared by both chunk writers: consume
    Arrow RecordBatches (the Arrow writer API — rows never pickle
    across the JVM→Python boundary, which dominated the row-based
    writer's epoch cost) and render the pipe-text lines VECTORIZED:
    every column cast to string with nulls → '' and joined
    element-wise in Arrow C++; Python touches one joined string per
    row, never per-field work.  Output bytes are identical to the
    former per-row ``"|".join(str(v))`` for the integer/string
    changelog schema."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.compute as pc

    staging = os.path.join(path, "_staging")
    os.makedirs(staging, exist_ok=True)
    staged = os.path.join(staging, uuid.uuid4().hex)
    n = 0
    with open(staged, "w") as f:
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            cols = [
                pc.fill_null(pc.cast(batch.column(i), pa.string()), "")
                for i in range(batch.num_columns)
            ]
            lines = (
                pc.binary_join_element_wise(*cols, "|")
                if len(cols) > 1
                else cols[0]
            )
            f.write("\n".join(lines.to_pylist()))
            f.write("\n")
            n += batch.num_rows
    return ChunkCommit(staged, n)


class PipeChunkStreamWriter(DataSourceStreamArrowWriter):
    """The reference's sink — one pipe-delimited ``chunk<threadID>``
    file per worker (``WorkerRunnable.java:75-77, 202-216``) — with the
    commit protocol it never had:

    - ``write`` (executor, ≙ one worker): stream the partition's Arrow
      batches to a STAGED file (vectorized pipe-text render — see
      _stage_arrow_batches); nothing is visible yet.  One file per
      partition is exactly one chunk file per worker.
    - ``commit`` (driver): atomically publish every staged file as
      ``chunk_<epoch>_<i>`` plus a per-epoch manifest; a replayed epoch
      (same batchId, manifest already present) discards its staging —
      exactly-once where the reference's best-effort appends duplicate
      on retry and interleave on crash.
    - ``abort``: remove staging; a failed epoch leaves zero bytes
      visible.

    Scale: rename-based publish works on any rename-atomic filesystem;
    on object stores the manifest (not the rename) is the commit point
    — readers list the manifest, same as streaming file sinks do.
    """

    def __init__(self, options):
        self.path = options["path"]

    def write(self, iterator):
        return _stage_arrow_batches(self.path, iterator)

    def commit(self, messages, batchId):
        import json
        import os

        manifest = os.path.join(self.path, f"_epoch_{batchId}.json")
        if os.path.exists(manifest):  # replayed epoch: drop staging
            for m in messages:
                if m is not None and os.path.exists(m.staged):
                    os.remove(m.staged)
            return
        published = []
        for i, m in enumerate(messages):
            if m is None:
                continue
            final = os.path.join(self.path, f"chunk_{batchId}_{i}")
            os.replace(m.staged, final)
            published.append({"file": final, "n_rows": m.n_rows})
        tmp = manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"epoch": batchId, "chunks": published}, f)
        os.replace(tmp, manifest)
        _clear_staging_dir(self.path)

    def abort(self, messages, batchId):
        import os

        for m in messages:
            if m is not None and os.path.exists(m.staged):
                os.remove(m.staged)
        # orphans from tasks whose message never reached the driver
        # (retried task, post-success job failure): micro-batch epochs
        # are serialized per query, so the staging dir belongs to this
        # epoch alone — clear it (single-writer-per-path contract)
        _clear_staging_dir(self.path)


class PipeChunkBatchWriter(DataSourceArrowWriter):
    """Batch twin of the stream writer — ``df.write.format(
    "pipe_chunks")`` — same staged-file + manifest commit protocol,
    scoped to one logical batch instead of an epoch: tasks stage
    invisibly, the driver publishes every chunk with one manifest
    rename, an abort leaves zero bytes visible.  With the batch reader,
    stream reader and stream writer above this completes the connector
    matrix the reference only gestures at (its sink is best-effort
    appends, WorkerRunnable.java:202-216).

    Scale: one chunk file per partition, no driver data movement —
    commit handles O(partitions) pathnames only.
    """

    def __init__(self, options, overwrite: bool):
        self.path = options["path"]
        self.overwrite = overwrite

    def write(self, iterator):
        return _stage_arrow_batches(self.path, iterator)

    def commit(self, messages):
        import json
        import os

        if self.overwrite:
            for fn in os.listdir(self.path):
                if fn.startswith("chunk_batch_") or fn == "_batch.json":
                    os.remove(os.path.join(self.path, fn))
        published = []
        for i, m in enumerate(messages):
            if m is None:
                continue
            final = os.path.join(self.path, f"chunk_batch_{i}")
            os.replace(m.staged, final)
            published.append({"file": final, "n_rows": m.n_rows})
        tmp = os.path.join(self.path, "_batch.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"chunks": published}, f)
        os.replace(tmp, os.path.join(self.path, "_batch.json"))
        _clear_staging_dir(self.path)

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None and os.path.exists(m.staged):
                os.remove(m.staged)
        # tasks that staged a file but whose commit message never
        # reached the driver (task retried, or job failed after the
        # task succeeded) leave orphans `messages` cannot name — clear
        # the whole staging dir.  Contract: one writer per path at a
        # time (the same contract every directory sink has); staging
        # is scoped under this writer's path.
        _clear_staging_dir(self.path)


class PipeChunkDataSource(DataSource):
    """spark.writeStream.format("pipe_chunks").option("path", dir) /
    df.write.format("pipe_chunks").option("path", dir)"""

    @classmethod
    def name(cls) -> str:
        return "pipe_chunks"

    def streamWriter(self, schema, overwrite) -> PipeChunkStreamWriter:
        return PipeChunkStreamWriter(self.options)

    def writer(self, schema, overwrite) -> PipeChunkBatchWriter:
        return PipeChunkBatchWriter(self.options, overwrite)


def register_sink(spark) -> None:
    spark.dataSource.register(PipeChunkDataSource)

