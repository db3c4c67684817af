"""``ingest_gate``: the LLM-pipeline write path.

Small micro-batches of the package's seeded ``synthetic_documents``
corpus go through ``recommended_dedup_gate_batch_writer`` (the MinHash
near-duplicate gate), called directly as ``writer(batch_df, batch_id)``
the way ``foreachBatch`` calls it. One client, closed loop.

- Batch 0 bootstraps the fresh index (set-up); a fixed number of
  measured batches follow, so every count repeats for a seed.
- The corpus plants a near-duplicate of doc ``d - 7`` at every
  ``d % 11 == 0``. Batches are cut so that about a third of those stay
  in their source's batch (the within-batch keep-first step removes
  them) and the rest move one or two batches later (the corpus check
  against the index removes them).
- Batch 1 is redelivered with the same batch id (replay idempotency:
  it must commit 0 rows).
- ``VersionedTable.compact`` runs on the index after every second
  measured batch, and one ``erase_documents`` pass runs at the end.

Layers exercised: streaming.sinks, operators.dedup (signing),
sources.versioned, operators.index_lifecycle.
"""

from __future__ import annotations

import hashlib
import os

from accounting import table_census
from common import Ops, Result, busy_ratio, median, spans_named, summed

FAMILY = "minhash"
BATCH_DOCS = 200
# Measured batches per run = --seconds / NOMINAL_BATCH_S (a warm
# 200-doc batch on 4 CPUs).
NOMINAL_BATCH_S = 7.0
COMPACT_EVERY = 2
REDELIVER = 1
ERASE_CONDITION = "doc_id % 10 = 3"
SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars INT"


def write_batches(batches: list[list[tuple]], out: str) -> list[str]:
    """One parquet file per micro-batch, the way a file stream source
    would deliver them. Returns the file paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int32())]
    )
    os.makedirs(out, exist_ok=True)
    paths = []
    for i, rows in enumerate(batches):
        path = os.path.join(out, f"batch-{i:04d}.parquet")
        pq.write_table(pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema), path)
        paths.append(path)
    return paths


def corpus_batches(seed: int, n_batches: int) -> list[list[tuple]]:
    """The seeded corpus cut into ``n_batches`` micro-batches."""
    from movie_data_pipeline_spark.sources.synthetic import SyntheticDocumentsReader

    n_docs = n_batches * BATCH_DOCS
    reader = SyntheticDocumentsReader({"n_docs": n_docs, "n_partitions": 1, "seed": seed})
    batches: list[list[tuple]] = [[] for _ in range(n_batches)]
    for part in reader.partitions():
        for row in reader.read(part):
            d = row[0]
            b = d // BATCH_DOCS
            if d % 11 == 0 and d >= 7:  # planted near-duplicate of d - 7
                b = min(b + _h(seed, d) % 3, n_batches - 1)
            batches[b].append(row)
    return batches


def _h(seed: int, d: int) -> int:
    return int.from_bytes(hashlib.md5(f"{seed}:{d}:batch".encode()).digest()[:4], "big")


def run(spark, tracer, ops: Ops, work: str, seed: int, seconds: int) -> Result:
    from movie_data_pipeline_spark.operators.index_lifecycle import (
        count_phantom_index_rows,
        erase_documents,
    )
    from movie_data_pipeline_spark.sources.versioned import VersionedTable
    from movie_data_pipeline_spark.streaming.sinks import (
        recommended_dedup_gate_batch_writer,
    )

    acc, idx = os.path.join(work, "accepted"), os.path.join(work, "index")
    res = Result()
    traced = tracer.enabled
    tracer.enabled = False  # set-up is timed, not traced
    n_measured = max(2, round(seconds / NOMINAL_BATCH_S))

    with tracer.span("setup.generate") as sp:
        batches = corpus_batches(seed, 1 + n_measured)
        paths = write_batches(batches, os.path.join(work, "stream"))
        text_bytes = {r[0]: len(r[1].encode()) for b in batches for r in b}
    res.layers["setup.generate_s"] = sp.wall_s
    writer = recommended_dedup_gate_batch_writer(acc, idx)
    with tracer.span(f"gate.{FAMILY}.bootstrap") as sp:
        writer(spark.read.schema(SCHEMA).parquet(paths[0]), 0)
    res.layers[f"gate.{FAMILY}.bootstrap_s"] = sp.wall_s
    res.setup_s = res.layers["setup.generate_s"] + sp.wall_s

    def accepted_ids() -> list[int]:
        return [r[0] for r in VersionedTable(acc).read(spark).select("doc_id").collect()]

    tracer.enabled = traced
    batch_s: list[float] = []
    maintenance_s = 0.0
    for i in range(1, 1 + n_measured):
        df = spark.read.schema(SCHEMA).parquet(paths[i])
        failed = ops.failed
        with tracer.span(f"gate.{FAMILY}.batch") as sp:
            ops.run("gate.batch", lambda: writer(df, i))
        if ops.failed == failed:
            batch_s.append(sp.wall_s)
        if i == REDELIVER:
            version = VersionedTable(acc).current_version()
            with tracer.span(f"gate.{FAMILY}.redeliver"):
                ops.run("gate.redeliver", lambda: writer(df, i))
            if VersionedTable(acc).current_version() != version:
                ops.check("gate.redeliver", ["redelivered batch made a new accepted-table commit"])
        if i % COMPACT_EVERY == 0:
            with tracer.span("lifecycle.compact") as sp:
                ops.run("lifecycle.compact", lambda: VersionedTable(idx).compact(spark))
            maintenance_s += sp.wall_s

    ids = accepted_ids()
    offered = sum(len(b) for b in batches)
    errors = [] if len(ids) == len(set(ids)) else [f"{len(ids) - len(set(ids))} duplicate doc_ids"]
    ops.check("gate.accepted", errors)

    with tracer.span("lifecycle.erase") as sp:
        ops.run(
            "lifecycle.erase",
            lambda: erase_documents(spark, acc, [idx], ERASE_CONDITION),
        )
    maintenance_s += sp.wall_s
    kept = accepted_ids()
    errors = []
    phantom = count_phantom_index_rows(spark, idx, acc)
    if phantom:
        errors.append(f"{phantom} phantom index rows after erasure")
    if any(d % 10 == 3 for d in kept):
        errors.append("erased documents still accepted")
    ops.check("lifecycle.erase", errors)

    acc_census, idx_census = table_census(acc), table_census(idx)
    kept_text = sum(text_bytes[d] for d in kept)
    space_amp = (acc_census["bytes"] + idx_census["bytes"]) / kept_text

    res.named = {
        f"{FAMILY}_batch_p50_s": (batch_s, "s"),
        "maintenance_s": ([maintenance_s], "s"),
        "space_amp": ([space_amp], "ratio"),
    }
    res.layers.update(
        {
            f"gate.{FAMILY}.accept_ratio": len(ids) / offered,
            f"versioned.{FAMILY}.index_versions": idx_census["versions"],
            f"versioned.{FAMILY}.index_data_dirs": idx_census["data_dirs"],
            f"versioned.{FAMILY}.index_files": idx_census["files"],
            f"versioned.{FAMILY}.index_bytes": idx_census["bytes"],
            f"versioned.{FAMILY}.accepted_bytes": acc_census["bytes"],
        }
    )
    if traced:
        res.layers.update(_layers(tracer))
    return res


def _layers(tracer) -> dict[str, float]:
    cores = tracer.counters.cores
    batches = spans_named(tracer, f"gate.{FAMILY}.batch")
    c, wall = summed(batches)
    compacts = spans_named(tracer, "lifecycle.compact")
    erases = spans_named(tracer, "lifecycle.erase")
    maint, _ = summed(compacts + erases)
    jobs = [s.counts.jobs for s in batches]
    return {
        f"gate.{FAMILY}.jobs_per_batch": median(jobs),
        f"gate.{FAMILY}.jobs_growth": jobs[-1] - jobs[0] if jobs else 0,
        f"gate.{FAMILY}.stages_per_batch": median([s.counts.stages for s in batches]),
        f"gate.{FAMILY}.tasks_per_batch": median([s.counts.tasks for s in batches]),
        f"gate.{FAMILY}.shuffle_bytes_per_batch": median([s.counts.shuffle_bytes for s in batches]),
        f"gate.{FAMILY}.spill_bytes": c.spill_bytes,
        f"gate.{FAMILY}.busy_ratio": busy_ratio(c, wall, cores),
        "lifecycle.compact_s": sum(s.wall_s for s in compacts),
        "lifecycle.erase_s": sum(s.wall_s for s in erases),
        "lifecycle.rewrite_bytes": maint.output_bytes,
    }
