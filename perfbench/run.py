"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sparql_mix --seed 1 --seconds 8 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (every
end-to-end metric of BENCHMARK.json with ``--trace 0``, every per-layer
metric with ``--trace 1``). The line before it is the full report: seed,
box record, sample counts, error rate, and in a traced run the per-span
self times. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DEFAULT_SEEDS = {"sparql_mix": 1, "paths_dist": 2}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(DEFAULT_SEEDS))
    ap.add_argument("--seed", type=int, default=None,
                    help="input seed (default: the workload's own)")
    ap.add_argument("--seconds", type=float, default=8.0,
                    help="the measured phase lasts at least this long (whole rounds, at least one)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; tiny is for the smoke test")
    return ap.parse_args(argv)


def shape_p50_ms(run) -> float:
    """Median latency of each query shape, averaged over the shapes. A
    median pooled over shapes of very different cost (the two closures of
    paths_dist) would sit on the boundary between them, so it would swing
    with whichever shape drew the middle samples."""
    from harness import median

    by_shape: dict[str, list[float]] = {}
    for q in run.samples.get("query", []):
        by_shape.setdefault(q["shape"], []).append(q["ms"])
    return sum(median(xs) for xs in by_shape.values()) / max(1, len(by_shape))


def end_to_end(run) -> dict:
    from harness import median

    q = run.times("query")
    bulk_s = sum(run.times("bulk_load", "s"))
    v = run.values
    return {
        "setup_s": (v["setup_s"], "s"),
        "query_p50_ms": (shape_p50_ms(run), "ms"),
        "queries_per_s": (len(q) / (sum(q) / 1000.0) if q else 0.0, "1/s"),
        "load_triples_per_s": (v["bulk_triples"] / bulk_s if bulk_s else 0.0, "1/s"),
        "append_p50_ms": (1000.0 * median(run.times("append_load", "s")), "ms"),
        "store_bytes_per_triple": (v["store_bytes"] / v["n_triples"], "B"),
    }


def per_layer(run) -> dict:
    from harness import median

    tq = run.samples.get("traced_query", [])
    bulk = run.samples.get("bulk_load", [{}])[0]
    appends = run.samples.get("append_load", [])
    opens = run.samples.get("open_store", [])
    v = run.values

    def med(key, xs=tq):
        return median(x.get(key, 0.0) for x in xs)

    stars = [x for x in tq if x["shape"] == "star"]
    untraced = median(x["untraced_ms"] for x in tq)
    return {
        "session.start_s": (v["session_s"], "s"),
        "parser.parse_ms": (med("parse_ms"), "ms"),
        "translate.ms": (med("translate_ms"), "ms"),
        "translate.jobs": (med("translate_jobs"), "count"),
        "catalyst.plan_ms": (med("plan_ms"), "ms"),
        "catalog.layout_scan_share": (
            sum(x["layout_scan"] for x in stars) / len(stars) if stars else 0.0, "ratio"),
        "exec.ms": (med("exec_ms"), "ms"),
        "exec.jobs": (med("exec_jobs"), "count"),
        "exec.stages": (med("stages"), "count"),
        "exec.tasks": (med("tasks"), "count"),
        "exec.failed_tasks": (sum(x["failed_tasks"] for x in tq), "count"),
        "exec.shuffle_write_bytes": (med("shuffle_write_bytes"), "B"),
        "exec.shuffle_read_bytes": (med("shuffle_read_bytes"), "B"),
        "exec.executor_run_ms": (med("executor_run_ms"), "ms"),
        "exec.gc_ms": (med("gc_ms"), "ms"),
        "driver.py_cpu_ms": (med("py_cpu_ms"), "ms"),
        "driver.jvm_cpu_ms": (med("jvm_cpu_ms"), "ms"),
        "driver.peak_rss_mb": (v["driver_peak_rss_mb"], "MB"),
        "load_pipeline.parse_s": (bulk.get("parse_s", 0.0), "s"),
        "load_pipeline.dictionary_s": (bulk.get("dictionary_s", 0.0), "s"),
        "load_pipeline.encode_write_s": (bulk.get("encode_write_s", 0.0), "s"),
        "load_pipeline.stats_layouts_s": (bulk.get("stats_layouts_s", 0.0), "s"),
        "load_pipeline.bulk_jobs": (bulk.get("jobs", 0), "count"),
        "load_pipeline.append_dictionary_s": (med("dictionary_s", appends), "s"),
        "load_pipeline.append_encode_write_s": (med("encode_write_s", appends), "s"),
        "load_pipeline.append_stats_layouts_s": (med("stats_layouts_s", appends), "s"),
        "load_pipeline.append_jobs": (med("jobs", appends), "count"),
        "load_pipeline.open_store_ms": (med("ms", opens), "ms"),
        "load_pipeline.open_store_jobs": (med("jobs", opens), "count"),
        "load_pipeline.compact_s": (v.get("compact_s", 0.0), "s"),
        "store.files": (v["store_files"], "count"),
        "store.bytes": (v["store_bytes"], "B"),
        "trace.query_p50_ms": (med("ms"), "ms"),
        "trace.overhead_ms": (med("ms") - untraced, "ms"),
    }


def main(argv=None) -> dict:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "d_sparq_spark", "__init__.py")):
        print(f"perfbench: no d_sparq_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        raise SystemExit(2)
    seed = DEFAULT_SEEDS[args.workload] if args.seed is None else args.seed
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    # every scratch file (JVM, Python workers, Spark) stays in the checkout
    os.environ["TMPDIR"] = work
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)

    import harness
    import workloads

    run = harness.Run()
    spark = None
    try:
        spark, run.values["session_s"] = harness.start_session(work, bool(args.trace))
        box = harness.box_record(spark)
        tracer = harness.Tracer(spark, bool(args.trace))
        ctx = workloads.Context(
            spark, tracer, run, seed, work, args.seconds,
            workloads.SCALES[args.scale][args.workload])
        t0 = time.perf_counter()
        workloads.WORKLOADS[args.workload](ctx)
        run.values["driver_peak_rss_mb"] = harness.driver_peak_rss_mb(spark)
        wall = time.perf_counter() - t0
        if args.trace:
            tracer.dump(os.path.join(HERE, "_traces", f"{args.workload}-seed{seed}.json"))
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    metrics = per_layer(run) if args.trace else end_to_end(run)
    report = {
        "workload": args.workload,
        "seed": seed,
        "trace": args.trace,
        "scale": args.scale,
        "seconds": args.seconds,
        "box": harness.finish_box(box),
        "wall_s": wall,
        "samples": {k: len(v) for k, v in run.samples.items()},
        "query_ms": [[q["shape"], q["ms"]] for q in run.samples.get("query", [])],
        "append_s": run.times("append_load", "s"),
        "error_rate": run.failed / run.attempted if run.attempted else 1.0,
        "failures": run.failures,
        "values": run.values,
    }
    if args.trace:
        report["self_time_ms"] = tracer.self_times_ms()
    result = {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(val), "unit": unit} for k, (val, unit) in metrics.items()},
    }
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main()
