"""The replay harness (plans/core.py) and operators/util.overlap.

The replay builders that use them run only under ``-m slow``, so this
fast test drives each helper directly on tiny frames.
"""

from __future__ import annotations

import os
import threading
import time

import pytest

from movie_data_pipeline_spark.operators.util import overlap
from movie_data_pipeline_spark.plans.core import (
    _require_batches,
    _scratch,
    _staged_batches,
)


def _run_to_end(stream, ckpt: str) -> tuple[object, list[list[int]]]:
    """Drain ``stream`` with availableNow; the ids of each non-empty
    micro-batch, in batch order."""
    seen: list[list[int]] = []

    def collect(df, _batch_id) -> None:
        ids = sorted(r.id for r in df.collect())
        if ids:
            seen.append(ids)

    q = (
        stream.writeStream.foreachBatch(collect)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    return q, seen


def test_replay_harness(spark):
    # the scratch dir is removed when the body raises
    with pytest.raises(RuntimeError, match="boom"):
        with _scratch("harness") as base:
            left = base
            open(os.path.join(base, "f"), "w").close()
            raise RuntimeError("boom")
    assert not os.path.exists(left)

    # two staged frames feed two micro-batches, in frame order; the
    # later frame holds the SMALLER ids, so the order is the staging
    # order, not an id or name order
    frames = [spark.range(10, 13), spark.range(0, 2)]
    with _scratch("harness") as base:
        stream = _staged_batches(spark, base, frames, frames[0].schema, "t")
        q, seen = _run_to_end(stream, f"{base}/ckpt")
        assert seen == [[10, 11, 12], [0, 1]]
        _require_batches(q, 2, "t")

        # the batch-count check raises on a one-batch run
        one = _staged_batches(
            spark, f"{base}/one", frames[:1], frames[0].schema, "t1"
        )
        q1, seen1 = _run_to_end(one, f"{base}/ckpt1")
        assert seen1 == [[10, 11, 12]]
        with pytest.raises(AssertionError, match=">=2 data-carrying"):
            _require_batches(q1, 2, "t1")

    # overlap returns results in argument order, not completion order
    def slow() -> str:
        time.sleep(0.2)
        return "slow"

    assert overlap(slow, lambda: "fast") == ["slow", "fast"]

    # ... and re-raises the first exception once every thunk finished
    done = threading.Event()

    def fails() -> None:
        raise ValueError("first")

    def finishes() -> None:
        time.sleep(0.2)
        done.set()

    with pytest.raises(ValueError, match="first"):
        overlap(fails, finishes)
    assert done.is_set()
