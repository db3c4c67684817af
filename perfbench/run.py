#!/usr/bin/env python3
"""Layered benchmark for movie_data_pipeline_spark.

Usage, from the repository root:

    python3 perfbench/run.py --workload etl_warehouse --seed 1 --seconds 15 --trace 0

Workloads: ``etl_warehouse`` (workload_etl.py) and ``ingest_gate``
(workload_gate.py). One driver process runs a ``local[N]`` session with
N = min(4, usable CPUs). ``--seed`` makes the inputs; ``--seconds`` sets
the amount of fixed work (operations = seconds / nominal operation time
on a 4-CPU machine), so a seed always does the same work.

Stdout: a summary with the workload's named metrics, units and sample
counts; with ``--trace 1`` also the per-layer metrics and per-span self
times (spans are written to ``.perfbench_traces/``). The last line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics untraced, per-layer metrics traced).

Everything the run writes stays under the repository root
(``.perfbench_work/`` is removed at exit). Exits non-zero without a
result line when the package is missing or set-up fails.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {"etl_warehouse": "workload_etl", "ingest_gate": "workload_gate"}
MAX_CPUS = 4

END_TO_END = {"setup_s": "s", "work_s": "s", "peak_rss_mb": "MB"}

_QUERIES = (
    "top_rated_movies", "movies_by_genre", "most_rated_movies", "movies_by_director",
    "avg_rating_by_user", "movies_null_probe", "rating_distribution",
)
_SPANS = (
    "etl.cycle", "movies_etl.build", "movies_etl.write", "queries", "queries.register",
    "gate.minhash.batch", "gate.minhash.redeliver", "lifecycle.compact", "lifecycle.erase",
)
PER_LAYER = {
    "session.start_s": "s",
    "setup.generate_s": "s",
    "setup.warmup_s": "s",
    "workload.etl_s": "s",
    "workload.warehouse_query_s": "s",
    "workload.minhash_batch_p50_s": "s",
    "workload.maintenance_s": "s",
    "workload.space_amp": "ratio",
    "work.cpu_s": "s",
    "host.steal_share": "ratio",
    **{f"movies_etl.{k}": u for k, u in (
        ("build_s", "s"), ("write_s", "s"), ("jobs", "count"), ("stages", "count"),
        ("tasks", "count"), ("input_rows", "rows"), ("output_bytes", "bytes"),
        ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"), ("busy_ratio", "ratio"),
    )},
    **{f"queries.{q}_s": "s" for q in _QUERIES},
    "queries.jobs": "count",
    **{f"gate.minhash.{k}": u for k, u in (
        ("bootstrap_s", "s"), ("jobs_per_batch", "count"), ("jobs_growth", "count"),
        ("stages_per_batch", "count"), ("tasks_per_batch", "count"),
        ("shuffle_bytes_per_batch", "bytes"), ("spill_bytes", "bytes"),
        ("busy_ratio", "ratio"), ("accept_ratio", "ratio"),
    )},
    **{f"versioned.minhash.{k}": u for k, u in (
        ("index_versions", "count"), ("index_data_dirs", "count"), ("index_files", "count"),
        ("index_bytes", "bytes"), ("accepted_bytes", "bytes"),
    )},
    "lifecycle.compact_s": "s",
    "lifecycle.erase_s": "s",
    "lifecycle.rewrite_bytes": "bytes",
    **{f"self.{name}_s": "s" for name in _SPANS},
    "trace.overhead_s": "s",
    "trace.spans": "count",
}
def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    # On SIGTERM, unwind normally so the JVM is stopped and files removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "movie_data_pipeline_spark")):
        print("perfbench: movie_data_pipeline_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    # Keep every temporary file of this process and the JVMs it launches
    # in the checkout (-XX:-UsePerfData: no /tmp/hsperfdata_<user> file).
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Fewer glibc malloc arenas in the JVM: its peak RSS spread across
    # seeds fell from ~10% to ~4% on ingest_gate.
    os.environ["MALLOC_ARENA_MAX"] = "2"
    tempfile.tempdir = None
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass


def _run(args, work: str) -> int:
    from accounting import SparkCounters, Tracer, cpu_clock, cpu_jiffies, jvm_pid, peak_rss_mb
    from common import Ops, median

    workload = importlib.import_module(WORKLOADS[args.workload])
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    steal0, total0 = cpu_jiffies()
    t0 = time.perf_counter()
    from movie_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            # The parallel collector: run-to-run spread of work_s was ~10% under G1.
            "spark.driver.extraJavaOptions": "-Xms1g -XX:+UseParallelGC",
        },
    )
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
        tracer = Tracer(run_id, SparkCounters(spark) if args.trace else None, enabled=bool(args.trace))
        ops = Ops(cpu_clock(("self", jvm_pid(spark))))
        res = workload.run(spark, tracer, ops, work, args.seed, args.seconds)
        rss = peak_rss_mb(spark)
    finally:
        _stop(spark)
    steal1, total1 = cpu_jiffies()
    steal = (steal1 - steal0) / max(1, total1 - total0)

    setup_s = session_s + res.setup_s
    e2e = {"setup_s": setup_s, "work_s": ops.wall_s, "peak_rss_mb": sum(rss)}
    named = {k: (median(v), u, v) for k, (v, u) in res.named.items()}
    print(f"workload {args.workload} seed {args.seed} on local[{cpus}]:")
    for k, v in e2e.items():
        print(f"  {k} = {v:.4f} {END_TO_END[k]}")
    print(f"    (peak RSS: python {rss[0]:.1f} MB, JVM {rss[1]:.1f} MB)")
    print(f"  work.cpu_s = {ops.cpu_s:.2f} s (CPU time of Python + JVM during work_s)")
    print(f"  host.steal_share = {steal:.3f} (CPU time the host withheld during the run)")
    for k, (v, u, xs) in named.items():
        samples = ", ".join(f"{x:.4g}" for x in xs)
        print(f"  {k} = {v:.4f} {u} (median of n={len(xs)}: {samples})")
    rate = ops.failed / ops.attempted if ops.attempted else 1.0
    print(f"  error_rate = {rate:.4f} ({ops.failed} failed of {ops.attempted} operations)")

    if args.trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)  # a layer the workload does not use did no work
        layers.update(res.layers)
        layers["session.start_s"] = session_s
        layers["work.cpu_s"] = ops.cpu_s
        layers["host.steal_share"] = steal
        for k, (v, _u, _xs) in named.items():
            layers[f"workload.{k}"] = v
        for name, s in tracer.self_times().items():
            if f"self.{name}_s" in layers:
                layers[f"self.{name}_s"] = s
        layers["trace.overhead_s"] = tracer.overhead_s
        layers["trace.spans"] = len(tracer.spans)
        unknown = set(layers) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"undeclared per-layer metrics: {sorted(unknown)}")
        trace_path = os.path.join(ROOT, ".perfbench_traces", f"{run_id}.jsonl")
        tracer.dump(trace_path)
        print(f"  per-layer metrics ({len(layers)}), spans in {os.path.relpath(trace_path, ROOT)}:")
        for k, v in layers.items():
            print(f"    {k} = {v:.6g} {PER_LAYER[k]}")
        print(
            f"  tracing overhead = {tracer.overhead_s:.4f} s over {len(tracer.spans)} spans "
            f"({tracer.overhead_s / ops.wall_s:.2%} of traced work_s)"
        )
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    print(
        json.dumps(
            {
                "correct": ops.failed == 0,
                "attempted": ops.attempted,
                "failed": ops.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
