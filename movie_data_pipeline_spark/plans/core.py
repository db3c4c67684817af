"""Query registry plumbing.

Each query is a named pair: a Spark DataFrame builder ``(spark, sf_dir)
-> DataFrame`` and (where SQL-expressible) an equivalent ANSI/DuckDB SQL
string run against the same parquet tables by the verification driver.
Column names and rounding are aligned on both sides because the driver
hash-compares values after sorting columns by name.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

Builder = Callable[[SparkSession, str], DataFrame]


def round4(col: Column) -> Column:
    """Cross-engine-deterministic 4-decimal rounding for doubles.

    Engine-native ROUND is implementation-defined at half boundaries
    (Spark rounds the shortest decimal repr via BigDecimal; DuckDB
    multiplies first, picking up a ulp of error — observed to disagree on
    identical input bits). floor(x*1e4 + 0.5)/1e4 uses only elementary
    IEEE-754 ops, which are bit-identical across engines for identical
    input. Intended for non-negative measures (half-up toward +inf).
    """
    return F.floor(col * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)


def r4(expr: str) -> str:
    """DuckDB-side mirror of :func:`round4` for oracle SQL strings."""
    return f"floor(({expr}) * 10000 + 0.5) / 10000"


def exact_sum(col: Column) -> Column:
    """Order-independent cross-engine SUM for double measures.

    A plain double SUM accumulates in engine- and partition-order; on
    large groups the engines drift by ~1e-5 absolute — enough to land on
    opposite sides of a round4 boundary (observed on 6e9-magnitude
    revenue sums at sf0.1). Casting each term to DECIMAL(30,6) first
    makes the aggregation exact integer arithmetic (identical in any
    order on both engines); the result returns to double via a correctly
    rounded conversion of the same exact decimal.
    """
    return F.sum(col.cast("decimal(30,6)")).cast("double")


def exact_sum_sql(expr: str) -> str:
    """DuckDB-side mirror of :func:`exact_sum`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(30,6))) AS DOUBLE)"


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Builder
    oracle: str | None  # DuckDB SQL; None → driver does a rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = (), doc: str = ""):
    """Decorator registering a builder under ``name``."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name=name, build=fn, oracle=oracle, tags=tags, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


# Builders carrying one of these tags run a whole streaming or lifecycle
# cadence (micro-batches, commits, maintenance) EAGERLY at build time
# and return a bare localCheckpoint scan of its outcome. bench.py times
# them as the replay tier; the fast test tier defers them to ``-m slow``.
EAGER_TAGS = frozenset({"streaming", "lifecycle"})


def is_eager(spec: QuerySpec) -> bool:
    return bool(EAGER_TAGS & set(spec.tags))


# --------------------------------------------------------------------------
# Replay harness: the scaffolding the eager builders share (scratch dir,
# staged stream sources, batch-count check, result frames).
# --------------------------------------------------------------------------
@contextmanager
def _scratch(name: str) -> Iterator[str]:
    """A fresh temp dir for one replay, removed on every exit; whatever
    the builder returns must be materialized before the block ends."""
    base = tempfile.mkdtemp(prefix=f"mdp-{name}-")
    try:
        yield base
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _stage(frame: DataFrame, base: str, i: int, src: str, what: str) -> str:
    """Write ``frame`` as the single file ``{src}/{i}.parquet``: Spark
    writes one part under ``{base}/stage{i}`` and the driver renames it.
    A write that leaves no part file fails loudly: the replay would be
    vacuous."""
    out = f"{base}/stage{i}"
    frame.coalesce(1).write.parquet(out)
    parts = glob.glob(f"{out}/part-*.parquet")
    if not parts:
        raise AssertionError(
            f"{what}: an input half wrote no rows — the replay would "
            "be vacuous on this corpus (empty or fully filtered half)"
        )
    os.makedirs(src, exist_ok=True)
    dest = f"{src}/{i}.parquet"
    os.rename(parts[0], dest)
    return dest


def _staged_batches(
    spark: SparkSession, base: str, frames: list[DataFrame], schema, what: str
) -> DataFrame:
    """ONE stream source that feeds the frames as consecutive
    micro-batches, in order: one file per frame with strictly
    increasing mtimes (the file source lists oldest first), read with
    ``maxFilesPerTrigger=1``."""
    src = f"{base}/src"
    for i, frame in enumerate(frames):
        dest = _stage(frame, base, i, src, what)
        os.utime(dest, (1_000_000 + i * 100, 1_000_000 + i * 100))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _staged_streams(
    spark: SparkSession, base: str, frames: list[DataFrame], schema, what: str
) -> list[DataFrame]:
    """One stream source per frame, each its own single-file dir — for
    replays that run one gate stream per frame with work in between."""
    streams = []
    for i, frame in enumerate(frames):
        src = f"{base}/src{i}"
        _stage(frame, base, i, src, what)
        streams.append(spark.readStream.schema(schema).parquet(src))
    return streams


def _require_batches(q, n: int, what: str) -> None:
    """Fail unless the finished query ran >= ``n`` micro-batches that
    carried input rows. Read from the query's own progress, not from
    commit counts: a gate skips the index commit of an all-duplicate
    batch, which would false-alarm a commit-count check."""
    fed = {
        p["batchId"]
        for p in q.recentProgress
        if p.get("numInputRows", 0) > 0
    }
    if len(fed) < n:
        raise AssertionError(
            f"{what}: expected >={n} data-carrying micro-batches, got "
            f"batchIds {sorted(fed)} — the stream did not run multi-batch"
        )


def _accepted(spark: SparkSession, path: str) -> DataFrame:
    """The gate's accepted corpus at ``path`` as (doc_id, source) in
    doc_id order, materialized."""
    from movie_data_pipeline_spark.sources.versioned import VersionedTable

    return (
        VersionedTable(path)
        .read(spark)
        .select("doc_id", "source")
        .orderBy("doc_id")
        .localCheckpoint(eager=True)
    )


def _metric(name: str, frame: DataFrame) -> DataFrame:
    """One (metric, value) row: the row count of ``frame``."""
    return frame.agg(F.count("*").cast("long").alias("value")).select(
        F.lit(name).alias("metric"), "value"
    )


def _const(spark: SparkSession, name: str, value: int) -> DataFrame:
    """One (metric, value) row for a driver-side number."""
    return spark.createDataFrame(
        [(name, int(value))], "metric STRING, value LONG"
    )


def _metrics(rows: list[DataFrame]) -> DataFrame:
    """The (metric, value) rows as one frame in metric order,
    materialized."""
    return (
        reduce(DataFrame.unionByName, rows)
        .orderBy("metric")
        .localCheckpoint(eager=True)
    )
