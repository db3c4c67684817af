"""``etl_warehouse``: the paper's own workload.

Seeded MovieLens-shaped CSVs (1x ml-latest-small, see movielens_gen)
go through ``build_warehouse`` and ``write_warehouse`` to four parquet
tables; then the 7 documented warehouse queries run over the written
tables. One operation cycle = one full-refresh ETL plus one query pass.
The run makes a fixed number of cycles, so every count repeats for a
seed. Bulk writes followed by reads; one client, closed loop.

Layers exercised: sources.movielens, functions.titles,
pipeline.enrichment, pipeline.movies_etl, pipeline.queries.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from common import Ops, Result, busy_ratio, compare_frames, median, spans_named, summed
from movielens_gen import MovieLensCounts, generate

# Cycles per run = --seconds / NOMINAL_CYCLE_S (a warm cycle on 4 CPUs),
# at least MIN_CYCLES; more would push a run past about a minute on a
# host with 10-25% CPU steal.
NOMINAL_CYCLE_S = 6.0
MIN_CYCLES = 3
WARMUP_CYCLES = 1
SCALE = 1.0  # multiple of ml-latest-small


def run(spark, tracer, ops: Ops, work: str, seed: int, seconds: int) -> Result:
    from movie_data_pipeline_spark.pipeline.queries import WAREHOUSE_QUERY_NAMES

    data = os.path.join(work, "input")
    out = os.path.join(data, "warehouse")
    res = Result()
    traced = tracer.enabled
    tracer.enabled = False  # set-up is timed, not traced

    with tracer.span("setup.generate") as sp:
        expect = _generate(data, seed, SCALE)
    res.layers["setup.generate_s"] = sp.wall_s
    # Warm-up: checked cycles, so the measured cycles run JIT-compiled code.
    with tracer.span("setup.warmup") as sp:
        for _ in range(WARMUP_CYCLES):
            results, _ = _cycle(spark, tracer, data, out, expect.budget)
            errors = _check(out, results, expect)
            if errors:
                raise RuntimeError(f"warm-up cycle failed its output checks: {errors}")
    res.layers["setup.warmup_s"] = sp.wall_s
    res.setup_s = res.layers["setup.generate_s"] + sp.wall_s

    tracer.enabled = traced
    n_ops = 1 + len(WAREHOUSE_QUERY_NAMES)  # one ETL and 7 queries
    etl_s, query_s = [], []
    for _ in range(max(MIN_CYCLES, round(seconds / NOMINAL_CYCLE_S))):
        got = ops.run(
            "etl.cycle",
            lambda: _cycle(spark, tracer, data, out, expect.budget),
            n_ops,
        )
        if got is None:
            continue
        results, t = got
        ops.check("etl.cycle", _check(out, results, expect))
        etl_s.append(t["build"] + t["write"])
        query_s.append(t["queries"])

    res.named = {"etl_s": (etl_s, "s"), "warehouse_query_s": (query_s, "s")}
    if traced:
        res.layers.update(_layers(tracer, WAREHOUSE_QUERY_NAMES))
    return res


def _generate(data: str, seed: int, scale: float) -> MovieLensCounts:
    """The CSVs plus the prefetched enrichment table as parquet."""
    from movie_data_pipeline_spark.pipeline.enrichment import ENRICHMENT_SCHEMA

    enrichment, counts = generate(data, seed, scale)
    types = {"StringType()": pa.string(), "IntegerType()": pa.int32()}
    schema = pa.schema([(f.name, types[repr(f.dataType)]) for f in ENRICHMENT_SCHEMA.fields])
    rows = [dict(zip(schema.names, r)) for r in enrichment]
    os.makedirs(os.path.join(data, "enrichment"))
    pq.write_table(
        pa.Table.from_pylist(rows, schema), os.path.join(data, "enrichment", "part-0.parquet")
    )
    return counts


def _cycle(spark, tracer, data: str, out: str, budget: int):
    """CSV (and the prefetched enrichment parquet) -> 4 parquet tables
    -> 7 queries. Returns (query results as pandas frames, wall times by
    step)."""
    from movie_data_pipeline_spark.pipeline.movies_etl import (
        WAREHOUSE_TABLES,
        build_warehouse,
        write_warehouse,
    )
    from movie_data_pipeline_spark.pipeline.queries import (
        WAREHOUSE_QUERY_NAMES,
        run_warehouse_query,
    )
    from movie_data_pipeline_spark.sources.movielens import (
        read_links,
        read_movies,
        read_ratings,
    )

    t: dict[str, float] = {}
    results = {}
    with tracer.span("etl.cycle") as cycle:
        with tracer.span("movies_etl.build") as sp:
            wh, _missing = build_warehouse(
                spark,
                read_movies(spark, data),
                read_ratings(spark, data),
                read_links(spark, data),
                spark.read.parquet(os.path.join(data, "enrichment")),
                api_request_limit=budget,
            )
        t["build"] = sp.wall_s
        with tracer.span("movies_etl.write") as sp:
            write_warehouse(wh, out)
        t["write"] = sp.wall_s
        with tracer.span("queries") as qs:
            with tracer.span("queries.register"):
                for name in WAREHOUSE_TABLES:
                    spark.read.parquet(os.path.join(out, name)).createOrReplaceTempView(name)
            for q in WAREHOUSE_QUERY_NAMES:
                with tracer.span(f"queries.{q}"):
                    results[q] = run_warehouse_query(spark, q).toPandas()
        t["queries"] = qs.wall_s
    t["cycle"] = cycle.wall_s
    return results, t


def _check(out: str, results: dict, expect: MovieLensCounts) -> list[str]:
    """Table counts against the generator's, and every query against
    its DuckDB oracle over the same written parquet."""
    from movie_data_pipeline_spark.pipeline.movies_etl import WAREHOUSE_TABLES
    from movie_data_pipeline_spark.pipeline.queries import WAREHOUSE_ORACLE_SQL

    con = duckdb.connect()
    try:
        for name in WAREHOUSE_TABLES:
            path = os.path.join(out, name, "*.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        want_counts = {
            "SELECT count(*) FROM movies": expect.movies,
            "SELECT count(*) FROM genres": expect.genres,
            "SELECT count(*) FROM movie_genres": expect.movie_genres,
            "SELECT count(*) FROM ratings": expect.ratings,
            "SELECT count(*) FROM movies WHERE release_year IS NULL": expect.null_release_year,
            "SELECT count(*) FROM movies WHERE imdb_id IS NOT NULL": expect.enriched_movies,
            "SELECT count(*) FROM movies m WHERE NOT EXISTS "
            "(SELECT 1 FROM ratings r WHERE r.movie_id = m.movie_id)": expect.unrated_movies,
        }
        errors = []
        for sql, want in want_counts.items():
            got = con.execute(sql).fetchone()[0]
            if got != want:
                errors.append(f"{sql}: {got} != {want}")
        for q, sql in WAREHOUSE_ORACLE_SQL.items():
            diff = compare_frames(results[q], con.execute(sql).df())
            if diff:
                errors.append(f"query {q}: {diff}")
        return errors
    finally:
        con.close()


def _layers(tracer, query_names) -> dict[str, float]:
    """Per-layer metrics from the traced cycles (medians per cycle)."""
    cores = tracer.counters.cores
    builds = spans_named(tracer, "movies_etl.build")
    writes = spans_named(tracer, "movies_etl.write")
    etl = [summed([b, w]) for b, w in zip(builds, writes)]
    c, wall = summed(builds + writes)
    layers = {
        "movies_etl.build_s": median([s.wall_s for s in builds]),
        "movies_etl.write_s": median([s.wall_s for s in writes]),
        "movies_etl.jobs": median([x.jobs for x, _ in etl]),
        "movies_etl.stages": median([x.stages for x, _ in etl]),
        "movies_etl.tasks": median([x.tasks for x, _ in etl]),
        "movies_etl.input_rows": median([x.input_rows for x, _ in etl]),
        "movies_etl.output_bytes": median([x.output_bytes for x, _ in etl]),
        "movies_etl.shuffle_bytes": median([x.shuffle_bytes for x, _ in etl]),
        "movies_etl.spill_bytes": median([x.spill_bytes for x, _ in etl]),
        "movies_etl.busy_ratio": busy_ratio(c, wall, cores),
        "queries.jobs": median([s.counts.jobs for s in spans_named(tracer, "queries")]),
    }
    for q in query_names:
        layers[f"queries.{q}_s"] = median([s.wall_s for s in spans_named(tracer, f"queries.{q}")])
    return layers
