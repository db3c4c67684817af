"""Layer accounting: per-call Spark job/stage deltas, span self times and
the VersionedTable disk census."""

from __future__ import annotations

import time

import pytest

from accounting import SparkCounters, Tracer, table_census


@pytest.fixture
def tracer(spark):
    return Tracer("test", SparkCounters(spark), enabled=True)


def test_call_known_to_launch_two_jobs_reads_two(spark, tracer):
    rdd = spark.sparkContext.parallelize(range(100), 2)
    with tracer.span("two") as sp:
        rdd.count()
        rdd.sum()
    assert sp.counts.jobs == 2
    assert sp.counts.stages == 2
    assert sp.counts.tasks == 4
    assert sp.counts.executor_run_s >= 0


def test_per_call_job_counts_sum_to_run_total(spark, tracer, tmp_path):
    from pyspark.sql import functions as F

    start = tracer.counters.mark()
    df = spark.range(2000).withColumn("k", F.col("id") % 7)
    with tracer.span("agg"):
        df.groupBy("k").count().collect()
    with tracer.span("write"):
        with tracer.span("write.inner"):
            df.write.parquet(str(tmp_path / "t"))
        spark.read.parquet(str(tmp_path / "t")).count()
    with tracer.span("rdd"):
        spark.sparkContext.parallelize(range(10), 3).collect()
    end = tracer.counters.mark()

    top = [s for s in tracer.spans if s.parent is None]
    assert [s.name for s in top] == ["agg", "write", "rdd"]
    assert sum(s.counts.jobs for s in top) == end.job - start.job
    assert all(s.counts.jobs >= 1 for s in tracer.spans)
    inner = next(s for s in tracer.spans if s.name == "write.inner")
    outer = next(s for s in tracer.spans if s.name == "write")
    assert inner.parent == outer.span_id
    assert inner.counts.jobs < outer.counts.jobs
    # the shuffle of the aggregate is accounted to the call that ran it
    assert top[0].counts.shuffle_bytes > 0
    assert top[0].counts.stages >= 2


def test_untraced_tracer_times_but_records_nothing(spark):
    t = Tracer("test", SparkCounters(spark), enabled=False)
    with t.span("x") as sp:
        spark.sparkContext.parallelize(range(10), 2).count()
    assert sp.wall_s > 0 and sp.counts is None
    assert t.spans == [] and t.overhead_s == 0.0


def test_self_time_excludes_children(tracer):
    with tracer.span("parent"):
        time.sleep(0.05)
        with tracer.span("child"):
            time.sleep(0.1)
    self_s = tracer.self_times()
    parent = next(s for s in tracer.spans if s.name == "parent")
    assert self_s["child"] >= 0.1
    assert self_s["parent"] == pytest.approx(parent.wall_s - self_s["child"])
    assert 0.05 <= self_s["parent"] < 0.1


def test_table_census_counts_versions_dirs_files_bytes(spark, tmp_path):
    from movie_data_pipeline_spark.sources.versioned import VersionedTable

    path = str(tmp_path / "vt")
    vt = VersionedTable(path)
    vt.commit(spark.range(10).coalesce(1), mode="append")
    vt.commit(spark.range(10, 20).coalesce(1), mode="append")
    c = table_census(path)
    assert c["versions"] == 2
    assert c["data_dirs"] == 2
    assert c["files"] == 2
    assert c["bytes"] > 0


def test_cpu_clock_counts_this_process():
    from accounting import cpu_clock

    clock = cpu_clock(("self",))
    before = clock()
    deadline = time.perf_counter() + 0.3
    while time.perf_counter() < deadline:
        pass
    assert 0.1 < clock() - before < 1.0
