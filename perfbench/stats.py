"""Arithmetic of the benchmark, kept free of Spark so it can be tested alone.

- ``tail_percentile``: the highest nearest-rank percentile that still has
  at least ``beyond`` samples above it, and ``reported_tail``, which
  reports it only from p90 up;
- ``covered`` and ``open_loop_lags``: per-batch lag timed from the
  *scheduled* publish time to the return of the first poll that covers
  the batch;
- ``batch_and_idle_cpu``: the ``cdc_live`` CPU figure;
- ``Outcome``: attempted / failed accounting behind ``failed_frac``.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` % of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    return xs[_rank(len(xs), pct) - 1]


def _rank(n: int, pct: float) -> int:
    # round first: 100 * (n - 10) / n * n / 100 may land a hair above n - 10
    return max(1, math.ceil(round(pct / 100.0 * n, 9)))


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``pct``."""
    return n - _rank(n, pct)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest percentile whose nearest-rank sample still has at
    least ``beyond`` samples above it, or None when ``n`` is too small
    for any (``n <= beyond``).  With ``n`` samples this is the sample
    of rank ``n - beyond``, i.e. ``100 * (n - beyond) / n``."""
    if n <= beyond:
        return None
    return 100.0 * (n - beyond) / n


TAIL_MIN_PCT = 90.0  # a lower "tail" percentile is no tail


def reported_tail(n: int) -> float | None:
    """The tail percentile to report for ``n`` samples: the one
    ``tail_percentile`` gives, or None when that is below p90."""
    pct = tail_percentile(n)
    return pct if pct is not None and pct >= TAIL_MIN_PCT else None


def paced_schedule(
    rng: random.Random, mean_gap_s: float, jitter: float, window_s: float, limit: int
) -> list[float]:
    """Open-loop arrival offsets (seconds from the run's start): the
    first arrival at 0, then gaps drawn uniformly from
    ``mean_gap_s * [1 - jitter, 1 + jitter]``, keeping every arrival
    inside ``window_s`` and at most ``limit`` of them."""
    times = [0.0]
    while len(times) < limit:
        t = times[-1] + mean_gap_s * rng.uniform(1.0 - jitter, 1.0 + jitter)
        if t >= window_s:
            break
        times.append(t)
    return times


def covered(epochs: list[dict], his: list[int], cum_rows: list[int]) -> list[bool]:
    """Which batches the reported ``epochs`` cover.  Batch ``i`` holds
    the event ids up to ``his[i]`` and, with every batch before it,
    ``cum_rows[i]`` rows; it is covered once the epochs that start at or
    below ``his[i]`` hold that many rows.  An epoch may span several
    batches; a replayed epoch can only over-count, which the extract
    check catches."""
    return [
        sum(e["n_rows"] for e in epochs if e["min_event_id"] <= hi) >= need
        for hi, need in zip(his, cum_rows)
    ]


def open_loop_lags(
    scheduled: list[float], covered_at: list[float | None]
) -> list[float | None]:
    """Lag of each batch in ms: cover time minus *scheduled* publish
    time, so a generator that publishes late cannot hide a stall.
    ``None`` marks a batch that no poll covered."""
    return [
        None if c is None else (c - s) * 1000.0
        for s, c in zip(scheduled, covered_at)
    ]


def batch_and_idle_cpu(
    data_cpu: list[float], batches: int, idle_cpu: list[float], idle_per_batch: float
) -> float:
    """CPU per batch at a fixed cadence: the polls with data per batch
    they covered, plus ``idle_per_batch`` mean idle polls.  The
    proportion is fixed, because how many idle polls fit between
    arrivals when polls run back to back follows the host's speed, not
    the program's cost."""
    idle = sum(idle_cpu) / len(idle_cpu) if idle_cpu else 0.0
    return sum(data_cpu) / max(1, batches) + idle_per_batch * idle


@dataclass
class Outcome:
    """Operations attempted and the set of those that failed.  A failed
    operation is counted once however many checks it fails."""

    attempted: int = 0
    failed_ids: set = field(default_factory=set)

    def attempt(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, op_id) -> None:
        self.failed_ids.add(op_id)

    @property
    def failed(self) -> int:
        return len(self.failed_ids)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
