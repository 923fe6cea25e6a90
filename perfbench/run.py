#!/usr/bin/env python3
"""Seeded retrieval benchmark for fornax_spark.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Runs one workload (serve, ingest, dedup; see BENCHMARK.json and
perfbench/README.md) against inputs generated from
the seed, on Spark local[nproc] started through
fornax_spark.session.get_spark, from this single process. It checks the
answers, and prints as its last line one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The line before it
holds the workload's detail metrics and the host state.

Everything it writes goes under .perfbench_work/ (removed at exit) and,
for traced runs, the span file under .perfbench_traces/, both in the
directory it is started from.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _start_spark(work: str, extra_conf: dict):
    from fornax_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    conf.update(extra_conf)
    spark = get_spark("perfbench", cores=os.cpu_count(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark):
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        spark.sparkContext._gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = _spec()
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import harness
    import tracing
    import workloads
    from gen import Generator

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    host_start = harness.host_state()
    os.makedirs(work, exist_ok=True)
    trace = bool(args.trace)
    try:
        spark = _start_spark(work, tracing.spark_conf(work) if trace else {})
        try:
            tracer = None
            if trace:
                tracer = tracing.Tracer(spark)
                tracer.install()
            ctx = workloads.Ctx(
                spark=spark, gen=Generator(args.seed),
                rec=harness.Recorder(spark, tracer), work=work,
                seconds=args.seconds,
            )
            ctx.mark("session")
            out = workloads.WORKLOADS[args.workload](ctx)
            ctx.mark("checks")
            extra = tracing.final_state(out, ctx) if trace else {}
            rss = harness.peak_rss_mb(spark)
        finally:
            _stop_spark(spark)
        ctx.mark("stop")
        if trace:
            layers = tracing.layer_metrics(tracer, ctx.rec.ops, work, extra)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = [r for r in ctx.rec.ops if r["kind"] != "setup"]
    failed_ops = sum(not r["ok"] for r in ops)
    attempted = len(ops) + sum(ctx.checked.values())
    failed = failed_ops + sum(ctx.wrong.values())
    e2e = {
        "setup_s": harness.median(out["setup"]),
        "op_p50_ms": out["op_p50_ms"],
        "items_per_s": out["items_per_s"],
    }
    detail = {k: {"value": v, "unit": u} for k, (v, u) in out["detail"].items()}
    detail.update({
        "peak_rss_mb": {"value": rss, "unit": "MB"},
        "failed_ratio": {"value": failed / attempted, "unit": "ratio"},
        "setup_runs_s": {"value": out["setup"], "unit": "s"},
        "phase_s": {"value": {
            name: round(t - prev, 3)
            for (name, t), (_, prev) in zip(ctx.marks, [("start", T_START)] + ctx.marks)
        }, "unit": "s"},
    })
    if trace:
        detail["jobs_mismatch_eventlog_vs_tracker"] = {
            "value": layers.pop("_jobs_mismatch"), "unit": "count"
        }
        layers["trace.op_p50_ms"] = out["op_p50_ms"]
        traces = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(traces, exist_ok=True)
        tracer.write(
            os.path.join(traces, f"{args.workload}-{args.seed}.json"),
            {"ops": ctx.rec.ops, "layers": layers},
        )

    chosen = spec["per_layer"] if trace else spec["end_to_end"]
    values = layers if trace else e2e
    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in chosen
    }
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "detail": detail,
        "jobs_per_op": {
            k: sorted({r["jobs"] for r in ops if r["kind"] == k})
            for k in sorted({r["kind"] for r in ops})
        },
        "checks": ctx.checked,
        "wrong_answers": ctx.wrong,
        "errors": [r["error"] for r in ops if not r["ok"]][:5],
        "host": {"start": host_start, "end": harness.host_state()},
    }))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
