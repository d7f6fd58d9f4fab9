"""Dedup benchmark: one workload, one seed, one fresh Spark session.

    python3 dedupbench/run.py --workload crawl_fuzzy --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Set-up (session start, input
materialization and one full-size warm-up pass, which the JVM's JIT needs)
is timed as ``setup_s``; then passes repeat until ``--seconds`` have gone
by, and the end-to-end metrics are medians over those passes. With
``--trace 1`` a traced pass follows, and the per-layer metrics come from its
spans and Spark's event log. Every pass is checked: the warm-up pass is
scored against the generated ground truth, and each later pass must return
the same keepers. The last stdout line is the JSON result; the exit code is
non-zero when a check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "deduplication_framework_spark"

# false_merge_docs and failed_frac are printed but kept out of the JSON: both
# are 0 on a healthy run, so a bound relative to their median means nothing
# (``failed`` in the JSON carries the failures)
E2E_UNBOUNDED_UNITS = {"false_merge_docs": "count", "failed_frac": "ratio"}


def metric_units(kind: str) -> dict:
    """name → unit for ``end_to_end`` or ``per_layer`` in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _host_memory_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def start_session(run_dir: str, event_dir: str = None):
    """``local[nproc]`` with the package's session defaults, a driver heap
    well below physical memory, and every scratch file inside ``run_dir``."""
    from deduplication_framework_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the JVM and the Python workers it forks inherit these: workers import
    # the package from the checkout whatever their working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in the system temp dir, from either launcher JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    heap_mb = min(1536, _host_memory_mb() // 4)
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        # a heap fixed from the start: peak RSS then tracks the program's
        # allocations rather than when the JVM chose to grow its heap
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # get_spark sizes both local[n] and the shuffle partitions from this
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    spark = get_spark(app_name="dedupbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context, then the JVM (and with it the Python worker
    daemon), and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits once its stdin closes
            proc.wait(timeout=60)


def measure(args) -> dict:
    from dedupbench import tracing
    from dedupbench.workloads import WORKLOADS, cleanup

    wl = WORKLOADS[args.workload]
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(ROOT, ".bench_out", run_id)
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    os.makedirs(event_dir or run_dir)
    cache_dir = os.path.join(ROOT, ".bench_cache")
    os.makedirs(cache_dir, exist_ok=True)

    # input generation is the benchmark's own work, outside setup_s
    input_path = wl.generate(cache_dir, args.seed)
    # set-up: session, input tables, one full-size warm-up pass
    t0 = time.perf_counter()
    spark = start_session(run_dir, event_dir)
    try:
        inp = wl.load(spark, input_path, run_dir)
        ref = wl.run(spark, inp)
        setup_s = time.perf_counter() - t0
        quality = wl.score(inp, ref)
        cleanup(spark, inp)
        failed = int(not quality["ok"])
        attempted = 1

        walls, cpus = [], []
        t_end = time.perf_counter() + args.seconds
        while not walls or time.perf_counter() < t_end:
            c0, w0 = tracing.tree_cpu_s(), time.perf_counter()
            out = wl.run(spark, inp)
            walls.append(time.perf_counter() - w0)
            cpus.append(tracing.tree_cpu_s() - c0)
            attempted += 1
            failed += int(out.keepers != ref.keepers)
            cleanup(spark, inp)
        wall = statistics.median(walls)
        rss = tracing.jvm_peak_rss_mb()

        if args.trace:
            rec = tracing.SpanRecorder(spark.sparkContext, run_id)
            w0 = time.perf_counter()
            with rec.span("pass"):
                out = wl.traced(spark, inp, rec.span)
            traced_wall = time.perf_counter() - w0
            attempted += 1
            failed += int(out.keepers != ref.keepers)
            cleanup(spark, inp)
    finally:
        stop_session(spark)

    if args.trace:
        # the event log is complete only once the context has stopped
        rec.dump(os.path.join(run_dir, "spans.json"))
        totals = tracing.layer_totals(
            [s for s in rec.spans if s["name"] != "pass"],
            tracing.read_event_log(event_dir),
        )
        layer = dict(out.counts)
        for name, tot in totals.items():
            layer.update({f"{name}.{k}": v for k, v in tot.items()})
        pairs_in = layer.get("verify.pairs_in", 0)
        layer.update({
            "verify.yield": layer.get("verify.edges_out", 0) / pairs_in if pairs_in else 0.0,
            "cluster.rounds": out.cc_rounds,
            "cluster.components": quality["components"],
            "store.write_s": layer.get("store.s", 0.0),
            "store.write_mb_per_input_mb": layer.get("store.write_mb", 0.0) / inp.input_mb,
            "trace.untraced_wall_s": wall,
            "trace.traced_wall_s": traced_wall,
            "trace.overhead_s": traced_wall - wall,
        })
        # a layer the workload never calls reports 0
        metrics = {k: (float(layer.get(k, 0.0)), u)
                   for k, u in metric_units("per_layer").items()}
    else:
        values = {
            "wall_s": wall,
            "docs_per_s": inp.n_docs / wall,
            "setup_s": setup_s,
            "cpu_s": statistics.median(cpus),
            "jvm_peak_rss_mb": rss,
            "dup_pair_recall": quality["dup_pair_recall"],
        }
        metrics = {k: (values[k], u)
                   for k, u in metric_units("end_to_end").items()}
        extra = {"false_merge_docs": quality["false_merge_docs"],
                 "failed_frac": failed / attempted}
        for k, u in E2E_UNBOUNDED_UNITS.items():
            print(f"{wl.name} {k} = {extra[k]} {u}")
    # keep only the spans; event log, stores and Spark scratch go
    for name in os.listdir(run_dir):
        if name != "spans.json":
            shutil.rmtree(os.path.join(run_dir, name), ignore_errors=True)

    for k, (v, u) in metrics.items():
        print(f"{wl.name} {k} = {v} {u}")
    print(f"{wl.name} input = {inp.n_docs} docs, pass walls = "
          f"{[round(w, 3) for w in walls]} s after a warm-up pass")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"dedupbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from dedupbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"dedupbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = measure(args)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
