"""Benchmark entry point.

    python3 perfbench/run.py --workload build_wide --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed``, runs the engine on them for about ``--seconds`` of timed work,
checks the outputs and prints two lines on stdout: a details record (output
hashes, load average, sample counts), then the result record
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones, and
the spans are written to ``.perfbench/traces/``. Exits 1 if any operation or
output check failed. See NOTES.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import knowledgegraphs_spark  # noqa: E402,F401  (fail fast outside a checkout)

WORKLOADS = ("build_wide", "maintain_live")
# the engine's 48g default heap cannot start on a 15 GB box; 2g holds every
# workload here with room to spare
HEAP = "2g"
WORK = os.path.join(ROOT, ".perfbench")

E2E = {
    "turns_per_s": "1/s", "ingest_turns_per_s": "1/s", "update_p50_s": "s",
    "query_p50_s": "s", "query_p90_s": "s", "setup_s": "s", "peak_rss_mb": "MB",
    "success_rate": "ratio",
}
LAYERS = {
    "sources.transcripts.ingest_s": "s", "sources.transcripts.rows": "count",
    "operators.mentions.extract_s": "s", "operators.mentions.mentions": "count",
    "operators.mentions.surfaces": "count",
    "operators.matching.edges_s": "s", "operators.matching.candidates": "count",
    "operators.matching.edges": "count", "operators.matching.edge_yield": "ratio",
    "operators.matching.driver_path": "flag",
    "operators.canonicalize.mapping_s": "s", "operators.canonicalize.entities": "count",
    "operators.canonicalize.largest_component": "count",
    "operators.skew.mention_join_s": "s", "operators.skew.hot_key_share": "ratio",
    "operators.triples.emit_write_s": "s", "operators.triples.triples": "count",
    "operators.triples.bytes": "bytes", "operators.triples.files": "count",
    "plans.pipeline.entities_s": "s", "plans.pipeline.other_s": "s",
    "plans.incremental.update_s": "s", "plans.incremental.novel_surfaces": "count",
    "plans.incremental.attach_ratio": "ratio", "plans.incremental.batch_vocab": "count",
    "streaming.maintenance.commit_s": "s", "streaming.maintenance.compact_s": "s",
    "streaming.maintenance.delta_dirs": "count", "streaming.maintenance.store_files": "count",
    "streaming.maintenance.store_bytes": "bytes",
    "operators.sparql.parse_s": "s", "operators.sparql.exec_s": "s",
    "operators.sparql.files_scanned": "count", "operators.sparql.rows": "count",
    "process.gc_s": "s", "process.gc_count": "count",
    "spark.jobs": "count", "spark.tasks": "count", "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
}


def pinned_env() -> dict:
    """The environment every run executes under: hash seed (set order in the
    driver-path matcher), heap, lazy page touching (so peak RSS tracks
    touched memory), one Spark core per CPU, and every temp dir inside the
    checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MASTER", None)
    env.update({
        "PYTHONHASHSEED": "0",
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_GRAFT_PRETOUCH": "0",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })
    return env


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def q90(values: list[float]) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def end_to_end(run, counters) -> dict:
    w, turns = run.write_s, run.write_turns
    return {
        "turns_per_s": statistics.median(turns) / statistics.median(w),
        "ingest_turns_per_s": sum(turns) / (sum(w) + sum(run.compact_s)),
        "update_p50_s": statistics.median(w),
        "query_p50_s": statistics.median(run.query_s),
        "query_p90_s": q90(run.query_s),
        "setup_s": run.setup_s,
        "peak_rss_mb": counters.peak_rss_mb(),
        "success_rate": 1.0 - run.failed / max(run.attempted, 1),
    }


def per_layer(run, counters) -> dict:
    out = {k: float(statistics.median(v)) for k, v in run.layers.items() if v}
    gc_s, gc_n = counters.gc()
    out["process.gc_s"] = gc_s - run.gc0[0]
    out["process.gc_count"] = gc_n - run.gc0[1]
    out["spark.jobs"] = counters.jobs - run.jobs0[0]
    out["spark.tasks"] = counters.tasks - run.jobs0[1]
    out["spark.failed_tasks"] = counters.failed_tasks - run.jobs0[2]
    # a layer the workload never enters reports 0
    return {k: out.get(k, 0.0) for k in LAYERS}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    env = pinned_env()
    if os.environ.get("PYTHONHASHSEED") != env["PYTHONHASHSEED"]:
        # the hash seed only takes effect at interpreter start: re-exec
        # (same pid, so setup time still counts from the first start)
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__)] + sys.argv[1:], env)
    os.environ.update(env)

    from probes import loadavg_1m, process_uptime_s
    from workloads import Run, build_workload, live_workload

    from knowledgegraphs_spark.session import get_spark

    load_start = loadavg_1m()
    workdir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(workdir, "spark-local")
    spark = get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    session_s = process_uptime_s()
    try:
        run = Run(spark, workdir, args.seed, args.seconds, bool(args.trace))
        if args.workload == "maintain_live":
            live_workload(run)
        else:
            build_workload(run)
        counters = run.counters
        metrics = per_layer(run, counters) if args.trace else end_to_end(run, counters)
        units = LAYERS if args.trace else E2E
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            run.tracer.write(os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    hashes_agree = len(set(run.hashes)) == 1
    correct = run.failed == 0 and hashes_agree
    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "output_hash": run.hashes[-1] if run.hashes else None,
        "hashes_agree": hashes_agree,
        "loadavg_1m": {"start": load_start, "end": loadavg_1m()},
        "session_s": session_s,
        "measured_s": run.measured_s, "write_s": run.write_s,
        "queries": len(run.query_s), "compactions": len(run.compact_s),
        **run.notes,
    }
    print(json.dumps(details), flush=True)
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
