"""CDP benchmark of record.

    python3 cdpbench/run.py --workload ingest_backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds its inputs from --seed, measures the
workload for --seconds, checks the program's outputs, and prints as its
last stdout line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 the run is traced and the metrics are the per-layer ones (see
BENCHMARK.json and cdpbench/README.md). The workloads of record are the
ones BENCHMARK.json lists; `ingest_live` (open-loop freshness) runs the
same way by hand. Scratch files live under .cdpbench_work/ in the
working directory and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from cdpbench import stats  # noqa: E402

WORKLOADS = ("ingest_backfill", "ingest_live", "analytics_refresh")
RUN_DEADLINE_S = 160  # stop measuring inside the 180 s run limit

END_TO_END = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "op_p50_s": "s",
    "latency_p50_s": "s",
}

INGEST_LAYERS = [
    "sinks.upsert.busy_s",
    "sinks.upsert.calls",
    "sinks.upsert.spark_jobs",
    "sinks.write_routed.busy_s",
    "sinks.rows_rewritten",
    "sinks.write_amplification",
    "sinks.partitions_rewritten",
    "sinks.files_written",
    "sinks.bytes_written",
    "sinks.table_files_end",
    "plans.chain.busy_s",
    "plans.chain.events_per_s",
    "plans.chain.errors",
    "events.layouts.busy_s",
    "events.layouts.rows_out_per_event",
    "plans.config_store.fan_out.self_s",
    "streaming.batches",
    "streaming.input_rows",
    "streaming.trigger_ms",
    "streaming.overhead_ms",
    "streaming.backlog_files_max",
]
OPERATORS = [
    "operators.identity.user_recognition_backfill",
    "operators.identity.id_graph_components",
    "operators.profiles.build_profiles",
    "operators.events_ops.sessionize_df",
    "operators.reports.funnel_3step_windowed_df",
    "operators.rollup.rollup_batch",
]
ANALYTICS_LAYERS = [f"{op}.busy_s" for op in OPERATORS] + [
    "operators.identity.id_graph_components.spark_jobs",
    "sinks.read.busy_s",
    "gateway.guarded_query.busy_s",
]
TASK_LAYERS = ["sinks.upsert", "plans.chain"] + OPERATORS
TASK_METRICS = [
    f"{layer}.{k}" for layer in TASK_LAYERS for k in ("task_s", "shuffle_bytes", "gc_s", "failed_tasks")
]
COMMON_LAYERS = [
    "latency.p90_s",
    "latency.tail_s",
    "latency.tail_pct",
    "latency.samples",
    "gen.lateness_max_ms",
    "peak_rss_mb",
    "trace.op_p50_s",
    "trace.subtree_violations",
]
PER_LAYER = list(dict.fromkeys(INGEST_LAYERS + ANALYTICS_LAYERS + TASK_METRICS + COMMON_LAYERS))


def per_layer_units(name: str) -> str:
    if name.endswith("events_per_s"):
        return "events/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("amplification") or name.endswith("per_event"):
        return "ratio"
    return "count"


_T0 = time.perf_counter()


def phase(name: str) -> None:
    print(f"phase: {name} at {time.perf_counter() - _T0:.1f}s", file=sys.stderr)


def make_spark(work: str, trace: bool):
    """One SparkSession at local[nproc], all scratch inside `work`."""
    from jitsu_spark.session import get_spark

    extra = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("cdpbench", cpus=os.cpu_count() or 1, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # a JVM that ignores its closed stdin is killed
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """JVM VmHWM plus the driver's ru_maxrss."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def latency_layers(samples: list[float]) -> dict[str, float]:
    out = {"latency.samples": float(len(samples))}
    if len(samples) >= 100:
        out["latency.p90_s"] = stats.percentile(samples, 90)
    pct = stats.tail_percentile(len(samples))
    if pct is not None:
        out["latency.tail_pct"] = pct
        out["latency.tail_s"] = stats.percentile(samples, pct)
    return out


def run_ingest(spark, work, args, tracer, deadline):
    from cdpbench import ingest

    bench = ingest.IngestBench(
        spark, work, args.seed, args.workload == "ingest_live", args.seconds, tracer
    )
    bench.prepare()
    phase("prepared")
    setup = bench.setup()
    phase("set up")
    if tracer.enabled:
        bench.release_batch = ingest.install_layer_spans(tracer)
    obs = bench.run(deadline)
    phase("measured")
    st = bench.state
    failed = 1 if st.error else 0
    if st.error:
        print(f"ingest run failed: {st.error}", file=sys.stderr)
    checks, mismatches = bench.check()
    phase("checked")
    batches = st.batches
    period = 1.0 / ingest.LIVE_RATE_FILES_PER_S
    samples: list[float] = []
    for b in batches:
        for f in b.files:
            j = bench.file_index[f]
            due = st.t0 + j * period if bench.live else st.t0
            samples += [b.end - due] * len(bench.inputs.file_events[j])
    events = sum(b.events for b in batches)
    e2e = {
        "setup_s": statistics.median(setup),
        "events_per_s": events / (batches[-1].end - st.t0) if batches else 0.0,
        "op_p50_s": statistics.median([b.end - b.start for b in batches]) if batches else 0.0,
        "latency_p50_s": statistics.median(samples) if samples else 0.0,
    }
    layers = latency_layers(samples)
    if bench.lateness:
        layers["gen.lateness_max_ms"] = max(bench.lateness) * 1000
    attempted = len(batches) + checks + failed
    return e2e, layers, attempted, failed + mismatches, (bench, obs)


def run_analytics(spark, work, args, tracer, deadline):
    from cdpbench import analytics

    bench = analytics.AnalyticsBench(spark, work, args.seed, tracer)
    bench.prepare()
    phase("prepared")
    setup = bench.setup()
    phase("set up")
    checks, mismatches = bench.run(args.seconds, deadline)
    phase("measured")
    e2e = {
        "setup_s": statistics.median(setup),
        "events_per_s": bench.n_rows / statistics.median(bench.pass_times),
        "op_p50_s": statistics.median(bench.pass_times),
        "latency_p50_s": statistics.median(bench.query_times),
    }
    layers = latency_layers(bench.query_times)
    attempted = (
        len(bench.pass_times) * (1 + analytics.DASHBOARD_ROUNDS * len(analytics.DASHBOARD)) + checks
    )
    return e2e, layers, attempted, mismatches, (bench, None)


def traced_layers(tracer, spark, work, handle, workload) -> dict[str, float]:
    from cdpbench.trace import job_metrics_from_event_log, layer_totals, subtree_violations

    spark.stop()  # flushes the event log
    groups = job_metrics_from_event_log(os.path.join(work, "eventlog"))
    tracer.dump(os.path.join(work, "spans.jsonl"))
    bench, obs = handle
    if workload.startswith("ingest"):
        from cdpbench import ingest

        return ingest.layer_metrics(bench, tracer, groups, obs["progress"])
    n = max(len(bench.pass_times), 1)
    tot = layer_totals(tracer.spans, groups)
    out = {}
    for layer in OPERATORS + ["sinks.read", "gateway.guarded_query"]:
        out[f"{layer}.busy_s"] = tot.get(layer, {}).get("busy_s", 0.0) / n
    out["operators.identity.id_graph_components.spark_jobs"] = (
        tot.get("operators.identity.id_graph_components", {}).get("spark_jobs", 0.0) / n
    )
    for layer in OPERATORS:
        for k in ("task_s", "shuffle_bytes", "gc_s", "failed_tasks"):
            out[f"{layer}.{k}"] = tot.get(layer, {}).get(k, 0.0) / n
    out["trace.subtree_violations"] = float(subtree_violations(tracer.spans, "analytics.pass"))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    started = time.perf_counter()
    try:
        import jitsu_spark  # noqa: F401
    except ImportError as ex:
        print(f"cdpbench: the program is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".cdpbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's Python workers import jitsu_spark and the benchmark's UDFs
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    from cdpbench.trace import NullTracer, Tracer

    spark = make_spark(work, bool(args.trace))
    phase("spark up")
    tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
    deadline = started + RUN_DEADLINE_S
    try:
        runner = run_analytics if args.workload == "analytics_refresh" else run_ingest
        e2e, layers, attempted, failed, handle = runner(spark, work, args, tracer, deadline)
        layers["peak_rss_mb"] = peak_rss_mb(spark)
        if args.trace:
            layers["trace.op_p50_s"] = e2e["op_p50_s"]
            layers.update(traced_layers(tracer, spark, work, handle, args.workload))
            metrics = {k: {"value": layers.get(k, 0.0), "unit": per_layer_units(k)} for k in PER_LAYER}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
            print(
                "info: " + json.dumps({k: round(v, 6) for k, v in layers.items()}),
                file=sys.stderr,
            )
    finally:
        try:
            stop_jvm(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
