"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_parquet --seed 1 --seconds 14 --trace 0

Runs one workload against the package in this checkout and prints, as
its last line, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. With ``--trace 0`` the metrics are the end-to-end ones
in BENCHMARK.json; with ``--trace 1`` they are the per-layer ones, from
a run that records spans. ``--workload all`` runs every workload in turn,
each in its own process. Lines before the last give the run's metadata
and every metric the workload has, with units. A JSON report (and, for
traced runs, the spans) is written under ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import ROOT, Context, cpus, log, median, peak_rss_mb, run_meta, stop_jvm  # noqa: E402

WORKLOADS = ("etl_parquet", "etl_jdbc", "analytics_mix")

E2E_UNITS = {"setup_s": "s", "pass_s": "s"}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def per_layer(ctx: Context, res: dict) -> dict[str, float]:
    """Per-layer metrics, averaged per pass over the traced operations."""
    from spans import layer_metrics

    tracer = res["tracer"]
    keep = res["traced_ops"]
    n_pass = max(1, res["passes"])
    spans = [s for s in tracer.spans if s["op"] in keep]
    jobs = [j for j in tracer.jobs if j["op"] in keep]
    lm = layer_metrics(spans, jobs, res["window"])

    def g(key: str) -> float:
        return lm.get(key, 0.0) / n_pass

    stats = [tracer.op_stats[i] for i in keep if i in tracer.op_stats]
    sink = [s for s in res["traced_stats"] if s["op"] in keep]
    offered = sum(s["rows_offered"] for s in sink)
    inserted = sum(s["rows_inserted"] for s in sink)
    out = {
        "session.start_s": median(ctx.session_s),
        "io.load_table_s": g("io.load_table_s"),
        "io.load_table_calls": g("io.calls"),
        "io.load_jobs": g("io.jobs"),
        "io.self_s": g("io.self_s"),
        "operators.build_s": g("operators.self_s"),
        "operators.build_jobs": g("operators.jobs"),
        "operators.py4j_calls": g("operators.py4j_calls"),
    }
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_ms"] = sum(s[f"{phase}_ms"] for s in stats) / n_pass
    for k in ("s", "jobs", "tasks", "job_s", "gap_s", "busy_s", "executor_run_s",
              "shuffle_write_mb", "spill_mb"):
        out[f"exec.{k}"] = g(f"exec.{k}")
    out.update({
        "incremental.run_s": g("incremental.run_s"),
        "incremental.self_s": g("incremental.self_s"),
        "incremental.jobs": g("incremental.jobs"),
        "watermark.read_s": g("watermark.read_s"),
        "watermark.write_s": g("watermark.write_s"),
        "sinks.append_s": g("sinks.append_s"),
        "sinks.self_s": g("sinks.self_s"),
        "sinks.lock_wait_s": g("sinks.lock_s"),
        "sinks.jobs": g("sinks.jobs"),
        "sinks.rows_offered": offered / n_pass,
        "sinks.rows_inserted": inserted / n_pass,
        "sinks.insert_ratio": inserted / offered if offered else 0.0,
        "sinks.files_written": sum(s["files_written"] for s in sink) / n_pass,
        "sinks.bytes_written": sum(s["bytes_written"] for s in sink) / n_pass,
        "sinks.target_files": float(res.get("storage_files", 0)),
        "service.trigger_s": g("service.trigger_s"),
        "service.self_s": g("service.self_s"),
        "cache.persisted_rdds": float(max((s["persisted_rdds"] or 0 for s in stats), default=0)),
        "trace.spans": len(spans) / n_pass,
        "trace.overhead_s": res["overhead_s"],
        "trace.overhead_ratio": res["overhead_s"] / res["untraced_pass_s"] if res["untraced_pass_s"] else 0.0,
    })
    # the JDBC sink's split comes from a short Derby cycle on etl_parquet
    split = res.get("jdbc_split")
    for k in ("staging_write_s", "merge_s"):
        out[f"sinks.{k}"] = split[k] if split else g(f"sinks.{k}")
    return out


def run_workload(args) -> int:
    import etl
    import analytics
    from spans import Tracer, install

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Spark's scratch space and temp files stay inside the checkout
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus()))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # so do the JVM's temp files, and it keeps no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={os.environ['TMPDIR']}", "-XX:-UsePerfData",
    )))
    spec = load_spec()
    meta = run_meta(args.workload, args.seed, args.seconds, bool(args.trace))
    ctx = Context(args.workload, args.seed, args.seconds, work)

    def tracer_factory(spark):
        if not args.trace:
            return None
        tracer = Tracer(spark)
        install(tracer)
        return tracer

    try:
        if args.workload == "analytics_mix":
            res = analytics.run(ctx, tracer_factory)
        else:
            res = etl.run(ctx, args.workload.split("_", 1)[1], tracer_factory)
        jvm_pid = ctx.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        e2e = {"setup_s": median(ctx.setup_s), "pass_s": res["pass_s"]}
        rss = peak_rss_mb(jvm_pid)
        layers = per_layer(ctx, res) if args.trace else {}
        spans = res["tracer"].spans if args.trace else []
        if args.trace:
            res["tracer"].uninstall()
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(ctx.ops)
    failed = sum(1 for o in ctx.ops if not o.ok)
    summary = dict(res["summary"])
    summary.update({k: (v, E2E_UNITS[k]) for k, v in e2e.items()})
    summary["setup_cold_s"] = (ctx.setup_s[0], "s")
    summary["peak_rss_mb"] = (rss, "MB")
    summary["failed_ratio"] = (failed / attempted, "ratio")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else e2e
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}

    print(json.dumps({"meta": meta}))
    for name, (value, unit) in summary.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    for name, value in layers.items():
        print(f"{args.workload} {name} = {value:.6g}")
    for note in ctx.notes:
        print(f"{args.workload} {note}")
    report = {"meta": meta, "summary": {k: v[0] for k, v in summary.items()},
              "per_layer": layers, "failures": ctx.notes,
              "ops": [o.__dict__ for o in ctx.ops]}
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1)
    if spans:
        with open(stem + "-spans.jsonl", "w") as f:
            for s in spans:
                f.write(json.dumps({k: s[k] for k in ("id", "parent", "name", "op", "start", "end")}) + "\n")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


def run_all(args) -> int:
    """Every workload in its own process, one after another."""
    code = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            code |= subprocess.run(cmd, check=False).returncode
    return code


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bigquery_postgres_events_etl_spark")):
        log("the package to measure is not in this checkout")
        return 2
    sys.path.insert(0, ROOT)
    return run_all(args) if args.workload == "all" else run_workload(args)


if __name__ == "__main__":
    raise SystemExit(main())
