"""Benchmark of record for the bikeshare lake engine.

    python3 perfbench/run.py --workload star_dashboard --seed 1 --seconds 10 --trace 0

Runs one workload in a closed loop with one client, from this process, on
``local[<cores>]``, where <cores> is the CPU count this process may use. It
prints a human-readable summary and, as the last line of standard output,
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones (see BENCHMARK.json);
with ``--trace 1`` they are the per-layer ones, and the run measures an
untraced window and then a traced one so that the tracing overhead shows.

Everything a run writes (inputs, lakes, Spark scratch, warehouse) goes to a
temporary directory inside the checkout, removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "building_an_azure_data_lake_for_bikeshare_data_analytics_spark"


def _configure_env(work: str) -> int:
    """Environment the program must see before it is imported: its core
    count (read at import), the workers' import path and Spark scratch."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # ample for these inputs; a small heap is filled early in a run, so the
    # peak RSS hangs less on when the collector happens to run
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    # the pandas-UDF workers import the package by name, from any cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)
    return cores


def _start_session(work: str, cores: int, traced: bool):
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # the status store's REST API serves the traced run's counters
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    if spark.sparkContext.defaultParallelism != cores:
        raise RuntimeError(
            f"defaultParallelism {spark.sparkContext.defaultParallelism} != {cores} cores")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it owns)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def _peak_rss_mb() -> float:
    """VmHWM of this process plus every JVM descended from it."""
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    parent = {}
    comm = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm[int(pid)] = stat[stat.index("(") + 1: stat.rindex(")")]
        parent[int(pid)] = int(stat[stat.rindex(")") + 2:].split()[1])

    me = os.getpid()

    def descends(pid):
        while pid in parent and pid > 1:
            pid = parent[pid]
            if pid == me:
                return True
        return False

    kb = hwm("self") + sum(hwm(p) for p, c in comm.items() if c == "java" and descends(p))
    return kb / 1024


def _window(spark, wl, tracer, seconds: float):
    """Closed loop: run ops back to back until ``seconds`` have passed and
    the last round of the workload's op mix is complete, so that every run
    weighs each kind of op alike; check each result after its timing."""
    lat: list[tuple[str, float]] = []
    failed = 0
    ops = wl.ops()
    start = time.perf_counter()
    while time.perf_counter() - start < seconds or len(lat) % wl.round_size:
        op = next(ops)
        t = time.perf_counter()
        try:
            with tracer.op(spark.sparkContext, len(lat), op.label):
                res = op.run()
            elapsed = time.perf_counter() - t
            ok = op.check(res)
        except Exception:
            elapsed = time.perf_counter() - t
            traceback.print_exc()
            ok = False
        lat.append((op.label, elapsed))
        failed += not ok
    return lat, failed


def _tail(values: list[float]) -> str:
    """The highest whole percentile with at least ten samples above it."""
    n = len(values)
    q = (100 * (n - 10)) // n if n > 10 else 0
    if q < 50:
        return f"n/a ({n} ops)"
    return f"p{q}={statistics.quantiles(values, n=100)[q - 1]:.4f} s over {n} ops"


def run(workload: str, seed: int, seconds: float, traced: bool, scale: str,
        units: dict[str, str]) -> dict:
    """One run; ``units`` names every metric the run must report."""
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    spark = None
    try:
        cores = _configure_env(work)
        import workloads
        from tracing import Tracer, spark_counters

        tracer = Tracer(enabled=traced)
        wl = workloads.WORKLOADS[workload](work, seed, workloads.SCALES[scale], tracer)
        if traced:
            _time_writer(tracer)
        wl.generate()

        # set-up: session, the program's own preparation, warm-up; the
        # benchmark's check preparation in between is not counted
        t = time.perf_counter()
        spark = wl.spark = _start_session(work, cores, traced)
        create_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        wl.after_prepare()
        t = time.perf_counter()
        for op in wl.warmup():
            if not op.check(op.run()):
                raise RuntimeError(f"warm-up op {op.label} returned a wrong result")
        warmup_s = time.perf_counter() - t
        setup_s = create_s + prepare_s + warmup_s

        tracer.enabled = False
        lat, failed = _window(spark, wl, tracer, seconds)
        times = [t for _, t in lat]
        ops_per_s = len(times) / sum(times)
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(times),
            "ops_per_s": ops_per_s,
        }
        attempted = len(lat)
        summary = (f"{workload} seed={seed}: setup_s={setup_s:.3f} s (session {create_s:.1f}, "
                   f"prepare {prepare_s:.1f}, warm-up {warmup_s:.1f}), "
                   f"op_p50_s={metrics['op_p50_s']:.4f} s, op_tail_s {_tail(times)}, "
                   f"ops_per_s={ops_per_s:.4f} 1/s, error_rate={failed / attempted:.4f} "
                   f"({failed}/{attempted})")
        if traced:
            tracer.enabled = True
            tracer.spans.clear()
            traced_lat, traced_failed = _window(spark, wl, tracer, seconds)
            attempted += len(traced_lat)
            failed += traced_failed
            traced_ops = len(traced_lat) / sum(t for _, t in traced_lat)
            # a layer the workload never calls reads 0
            layer = dict.fromkeys(units, 0.0)
            layer.update(wl.layer)
            layer.update(spark_counters(spark.sparkContext, tracer, cores))
            layer.update(wl.traced_layers(traced_lat))
            attempted += len(wl.probe_checks)
            failed += wl.probe_checks.count(False)
            layer.update({
                "session.create_s": create_s,
                "session.warmup_s": warmup_s,
                "trace.ops_per_s_untraced": ops_per_s,
                "trace.ops_per_s_traced": traced_ops,
                "trace.overhead_frac": 1 - traced_ops / ops_per_s,
            })
            metrics = layer
        else:
            metrics["peak_rss_mb"] = _peak_rss_mb()
            summary += f", peak_rss_mb={metrics['peak_rss_mb']:.1f} MB"
        print(summary, flush=True)
        if set(metrics) != set(units):
            raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} do not match BENCHMARK.json")
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def _time_writer(tracer) -> None:
    """Time every call into ``sources.writers.overwrite_parquet_table`` made
    by the pipeline (the name the pipeline module imported)."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators import pipeline

    write = pipeline.overwrite_parquet_table

    def timed(*args, **kwargs):
        with tracer.span("sources.writers.write"):
            return write(*args, **kwargs)

    pipeline.overwrite_parquet_table = timed


def _units(traced: bool) -> dict[str, str]:
    """Metric name -> unit, as declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for checking the benchmark itself")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: the program ({PKG}/) is not in {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    result = run(args.workload, args.seed, args.seconds, traced, args.scale, _units(traced))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
