"""Shared pieces of the workloads: operation bookkeeping, the result
record, span aggregation and the value comparison used by the output
checks."""

from __future__ import annotations

import hashlib
import statistics
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import TypeVar

import pandas as pd

from accounting import Counts, Tracer

T = TypeVar("T")


class Ops:
    """Counts attempted and failed operations and sums their wall time
    and CPU time (``cpu`` is a clock of CPU seconds). An operation that
    raises is a failure; so is a failed output check."""

    def __init__(self, cpu: Callable[[], float]) -> None:
        self._cpu = cpu
        self.attempted = 0
        self.failed = 0
        self.wall_s = 0.0
        self.cpu_s = 0.0

    def run(self, name: str, fn: Callable[[], T], n_ops: int = 1) -> T | None:
        self.attempted += n_ops
        c, t = self._cpu(), time.perf_counter()
        try:
            return fn()
        except Exception:
            print(f"[perfbench] operation {name} failed:", file=sys.stderr)
            traceback.print_exc()
            self.failed += n_ops
            return None
        finally:
            self.wall_s += time.perf_counter() - t
            self.cpu_s += self._cpu() - c

    def check(self, name: str, errors: list[str]) -> None:
        for e in errors:
            print(f"[perfbench] check {name} failed: {e}", file=sys.stderr)
        self.failed += len(errors)


@dataclass
class Result:
    setup_s: float = 0.0
    # Workload-specific metrics for the summary: name -> (samples, unit).
    named: dict[str, tuple[list[float], str]] = field(default_factory=dict)
    # Per-layer metrics; filled in traced runs.
    layers: dict[str, float] = field(default_factory=dict)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def spans_named(tracer: Tracer, name: str):
    return [s for s in tracer.spans if s.name == name]


def summed(spans) -> tuple[Counts, float]:
    """Total Spark work and wall time of ``spans``."""
    c, wall = Counts(), 0.0
    for s in spans:
        c += s.counts
        wall += s.wall_s
    return c, wall


def busy_ratio(c: Counts, wall_s: float, cores: int) -> float:
    """Executor run time over the core-seconds the calls had."""
    return c.executor_run_s / (wall_s * cores) if wall_s > 0 else 0.0


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for col in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[col]):
            df[col] = df[col].astype("datetime64[us]")
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)
    return df


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Order-insensitive exact comparison: same columns, same row count,
    equal values and equal CSV text (so an int-vs-float dtype skew is a
    mismatch). Returns a description of the first difference, or None."""
    got, want = _canonical(got), _canonical(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} vs {len(want)}"
    for col in got.columns:
        try:
            pd.testing.assert_series_equal(
                got[col], want[col], check_dtype=False, check_names=False, check_exact=True
            )
        except AssertionError as e:
            return f"column {col!r} differs: {e}"
    h_got = hashlib.sha256(got.to_csv(index=False).encode()).hexdigest()
    h_want = hashlib.sha256(want.to_csv(index=False).encode()).hexdigest()
    if h_got != h_want:
        return "values equal but CSV text differs (dtype skew)"
    return None
