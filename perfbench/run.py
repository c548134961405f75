"""Benchmark entry point.

    python3 perfbench/run.py --workload project_session --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one closed-loop client: the
workload's inputs and expected results are first made from ``--seed`` in
a forked child process (untimed, and outside this process's memory peak),
then the pinned session is set up, then one cold pass, ``WARMUP`` warm-up
passes and the measured warm passes run. The last line of stdout is the
JSON result. ``--trace 1`` runs the same passes with per-layer spans and a
Spark event log, reports the per-layer metrics instead, and writes the
spans to ``perfbench/.traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import json
import math
import multiprocessing
import os
import shutil
import statistics
import sys
import time
import traceback

import harness
import tracing
import wl_index
import wl_project
from registry_queries import QUERY_NAMES

WORKLOADS = {"project_session": wl_project, "index_lifecycle": wl_index}
with open(os.path.join(harness.repo_root(), "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

# Warm-up passes between the cold pass and the measured ones, and the
# fewest measured passes. 10-pass drift curves on a 4-core host put the
# first warm pass 10-25% above the second, and later passes within a few
# percent of each other; but between runs, neighbour load moves a pass by
# more than that, and the run budget (4 + 22 runs per workload in 3420 s,
# with runs up to 80 s under heavy neighbour load at two warm passes)
# leaves room for one warm pass per run. The cold pass is the only
# warm-up, and the first warm pass is measured.
WARMUP = 0
MIN_MEASURED = 1


def _measured_passes(module, seconds: int) -> int:
    return max(MIN_MEASURED, math.ceil(seconds / module.PASS_S))


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(setup_s, passes, ops_ms, live_heap_mb) -> dict:
    values = {
        "setup_s": setup_s,
        "cold_pass_s": passes[0]["pass_s"],
        "pass_s": statistics.median(p["pass_s"] for p in passes if p["measured"]),
        "op_p50_ms": statistics.median(ops_ms),
        "jvm_live_heap_mb": live_heap_mb,
        "driver_peak_rss_mb": harness.driver_peak_rss_mb(),
    }
    return {m["name"]: _metric(values[m["name"]], m["unit"]) for m in SPEC["end_to_end"]}


# per-layer metric -> (span name, field of tracing.layer_table rows)
_SPAN_METRICS = {
    "project.load_s": ("project.load", "self_s"),
    "compile.s": ("compile", "self_s"),
    "runner.materialize_s": ("runner.materialize", "self_s"),
    "runner.jobs": ("runner.materialize", "jobs"),
    "runner.tasks": ("runner.materialize", "tasks"),
    "runner.bytes_written": ("runner.materialize", "bytes_written"),
    "datatests.s": ("datatests", "self_s"),
    "datatests.jobs": ("datatests", "jobs"),
    "artifacts.docs_s": ("artifacts.docs", "self_s"),
    "transforms.refactor_s": ("transforms.refactor", "self_s"),
    "lint.s": ("lint", "self_s"),
    "lineage.s": ("lineage", "self_s"),
    "serving.workbench_s": ("serving.workbench", "self_s"),
    "serving.query_s": ("serving.query", "self_s"),
    "retrieval_ext.ingest_s": ("retrieval_ext.ingest", "self_s"),
    "retrieval_ext.ingest_jobs": ("retrieval_ext.ingest", "jobs"),
    "retrieval_ext.ingest_tasks": ("retrieval_ext.ingest", "tasks"),
    "retrieval_ext.ingest_bytes_written": ("retrieval_ext.ingest", "bytes_written"),
    "retrieval_ext.delete_s": ("retrieval_ext.delete", "self_s"),
    "retrieval_ext.delete_jobs": ("retrieval_ext.delete", "jobs"),
    "retrieval_ext.compact_s": ("retrieval_ext.compact", "self_s"),
    "retrieval_ext.compact_bytes_written": ("retrieval_ext.compact", "bytes_written"),
    "retrieval_ext.checkpoint_s": ("retrieval_ext.checkpoint", "self_s"),
    "retrieval_ext.vacuum_s": ("retrieval_ext.vacuum", "self_s"),
    "retrieval_ext.serve_s": ("retrieval_ext.serve", "self_s"),
    "retrieval_ext.serve_jobs": ("retrieval_ext.serve", "jobs"),
    **{f"operators.{q}_s": (f"operators.{q}", "self_s") for q in QUERY_NAMES},
    **{f"operators.{q}_jobs": (f"operators.{q}", "jobs") for q in QUERY_NAMES},
}
# per-layer metrics that are tracer counters of the same name
_COUNT_METRICS = (
    "compile.calls",
    "introspect.get_columns_calls",
    "yaml_engine.files_written",
    "retrieval_ext.serve_exchanges",
    "parquet.read_layout_calls",
    *(f"operators.{q}_exchanges" for q in QUERY_NAMES),
)
_SERVING = ("serving.workbench", "serving.query", "serving.comment", "serving.info_schema")
_MUTATIONS = ("retrieval_ext.ingest", "retrieval_ext.delete", "retrieval_ext.compact")
_OPERATORS = tuple(f"operators.{q}" for q in QUERY_NAMES)


def _pass_layers(tracer, rows: dict, p: dict) -> dict:
    """Every per-layer value of one pass, from its span table rows."""
    zero = {"self_s": 0.0, "calls": 0, "jobs": 0, "tasks": 0, "bytes_written": 0,
            "shuffle_write_bytes": 0}

    def row(name):
        return rows.get(name, zero)

    def gauge(name):
        return tracer.gauges.get((p["no"], name), 0)

    v = {k: row(span)[field] for k, (span, field) in _SPAN_METRICS.items()}
    v.update({k: tracer.counts.get((p["no"], k), 0) for k in _COUNT_METRICS})
    v["serving.requests"] = sum(row(s)["calls"] for s in _SERVING)
    v["serving.spark_s"] = sum(row(s)["self_s"] for s in _SERVING)
    written = sum(row(s)["bytes_written"] for s in _MUTATIONS)
    v["retrieval_ext.write_amp"] = written / gauge("ingested_text_bytes") if gauge("ingested_text_bytes") else 0
    v["retrieval_ext.space_amp"] = gauge("layout_bytes") / gauge("live_text_bytes") if gauge("live_text_bytes") else 0
    v["operators.shuffle_write_bytes"] = sum(row(s)["shuffle_write_bytes"] for s in _OPERATORS)
    v["session.jvm_gc_s"] = p["gc_s"]
    v["session.jvm_jit_s"] = p["jit_s"]
    v["trace.pass_s"] = p["pass_s"]
    return v


def per_layer(tracer, jobs, passes) -> tuple[dict, dict]:
    """Median over the measured passes of every per-layer metric, and the
    per-span table of the last measured pass for the report."""
    table = tracing.layer_table(tracer, jobs)
    measured = [_pass_layers(tracer, table.get(p["no"], {}), p) for p in passes if p["measured"]]
    metrics = {m["name"]: _metric(statistics.median(v[m["name"]] for v in measured), m["unit"])
               for m in SPEC["per_layer"]}
    last = max(p["no"] for p in passes if p["measured"])
    return metrics, table.get(last, {})


def prepare(module, inputs: str, seed: int) -> dict:
    """Run ``module.prepare`` in a forked child, so input generation and
    oracle imports (numpy, pyarrow, DuckDB) never enter this process."""
    ctx = multiprocessing.get_context("fork")
    with concurrent.futures.ProcessPoolExecutor(max_workers=1, mp_context=ctx) as pool:
        return pool.submit(module.prepare, inputs, seed).result()


def run(args) -> dict:
    root = harness.repo_root()
    if not os.path.isdir(os.path.join(root, "dbt_osmosis_spark")):
        raise SystemExit(f"no dbt_osmosis_spark package under {root}; run from a repository checkout")
    module = WORKLOADS[args.workload]
    work = os.path.join(root, "perfbench", ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        host = harness.host_probe()
        sys.path.insert(0, root)
        t = time.perf_counter()
        wl = module.Workload(prepare(module, os.path.join(work, "inputs"), args.seed))
        prepare_s = time.perf_counter() - t

        t0 = time.perf_counter()
        harness.configure_env(work)
        from dbt_osmosis_spark.operators import load_all

        spark = harness.start_session(
            work, event_log_dir=os.path.join(work, "eventlog") if args.trace else None)
        load_all()
        wl.register(spark)
        setup_s = time.perf_counter() - t0

        jvm = harness.Jvm(spark)
        tracer = tracing.Tracer(jvm.jobs_submitted) if args.trace else tracing.NullTracer()
        if args.trace:
            wl.trace_layers(tracer)

        n = _measured_passes(module, args.seconds)
        passes, ops_ms = [], []
        attempted = failed = 0
        for no in range(1 + WARMUP + n):
            pass_dir = os.path.join(work, f"pass-{no}")
            tracer.pass_no = no
            gc0, jit0 = jvm.gc_s(), jvm.jit_s()
            t = time.perf_counter()
            out = wl.run_pass(spark, pass_dir, tracer)
            pass_s = time.perf_counter() - t
            measured = no > WARMUP
            passes.append({
                "no": no, "pass_s": pass_s, "measured": measured,
                "gc_s": jvm.gc_s() - gc0, "jit_s": jvm.jit_s() - jit0,
            })
            attempted += out["attempted"]
            failed += out["failed"]
            if measured:
                ops_ms += out["op_ms"]
            shutil.rmtree(pass_dir, ignore_errors=True)
        t = time.perf_counter()
        a, f = wl.final_check(spark, work)
        attempted += a
        failed += f
        final_check_s = time.perf_counter() - t
        live_heap_mb = jvm.live_heap_mb()
        harness.stop_session(spark)
        spark = None
        teardown_s = time.perf_counter() - t - final_check_s

        context = {
            "workload": args.workload, "seed": args.seed, "cpus": min(harness.CPUS, os.cpu_count() or 1),
            "driver_memory": harness.DRIVER_MEMORY, "warmup_passes": WARMUP, "measured_passes": n,
            "pass_s": [round(p["pass_s"], 3) for p in passes], "op_samples": len(ops_ms),
            "op_p95_ms": harness.percentile(ops_ms, 0.95), "sizes": wl.sizes(), "host": host,
            "untimed_s": {"prepare": prepare_s, "final_check": final_check_s, "teardown": teardown_s},
        }
        if args.trace:
            jobs = tracing.read_event_log(os.path.join(work, "eventlog"))
            metrics, table = per_layer(tracer, jobs, passes)
            context["layers"] = table
            traces = os.path.join(root, "perfbench", ".traces")
            os.makedirs(traces, exist_ok=True)
            context["spans"] = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
            tracer.dump(context["spans"])
        else:
            metrics = end_to_end(setup_s, passes, ops_ms, live_heap_mb)
        print(json.dumps({"context": context}, default=str))
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 - the run failed: no result line
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
