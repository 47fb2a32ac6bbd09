"""Benchmark of the flow engine, end to end.

    python3 perfbench/run.py --workload {ingest,console} \
        --seed N --seconds S --trace {0,1}

Prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are its per-layer metrics, taken from spans and Spark
counters, and the spans are written to ``.perfbench/traces/``.  A fuller
report of each run (the workload's own figures, failures, set-up runs)
goes to ``.perfbench/reports/``.  Diagnostics go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks  # noqa: E402
from perfbench.common import CORES, WORK_ROOT, Ops, Workdir, bench_spec, cpu_s, now, start_spark  # noqa: E402

WORKLOADS = ("ingest", "console")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine must be importable before anything starts
    import akvorado_spark  # noqa: F401
    from perfbench import w_console, w_ingest

    module = {"ingest": w_ingest, "console": w_console}[args.workload]
    spec = bench_spec()
    work = Workdir(args.workload)
    work.activate()
    spark = None
    tracer = None
    try:
        t0, c0 = now(), cpu_s()
        spark = start_spark(work)
        session_s, session_cpu = now() - t0, cpu_s() - c0
        from perfbench.trace import NullTracer, Tracer

        tracer = Tracer(spark) if args.trace else NullTracer()
        ops = Ops()
        report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "cores": CORES, "session_start_s": session_s,
                  "session_start_cpu_s": session_cpu}
        correct = True
        try:
            e2e = module.run(spark, work, args.seed, args.seconds, tracer, ops, report)
        except checks.CheckFailed as e:
            correct = False
            report["check_failed"] = str(e)
            print(f"CHECK FAILED: {e}", file=sys.stderr)
            e2e = {}
        # session start is part of every workload's set-up
        if "setup_s" in e2e:
            e2e["setup_s"] += session_cpu
            report["setup_wall_s"] += session_s
        report["end_to_end"] = dict(e2e)
        report["failures"] = ops.failures
        if args.trace:
            names = spec["per_layer"]
            metrics = {}
            if correct:
                tracer.attribute_spark()
                metrics = module.layer_metrics(tracer, report)
            os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}.json"))
            report["per_layer"] = metrics
        else:
            names = spec["end_to_end"]
            metrics = e2e
        os.makedirs(os.path.join(WORK_ROOT, "reports"), exist_ok=True)
        with open(os.path.join(WORK_ROOT, "reports",
                               f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                  "w") as fh:
            json.dump(report, fh, indent=1, default=str)
        out = {
            "correct": correct,
            "attempted": ops.attempted,
            "failed": ops.failed,
            "metrics": {
                m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in names
            },
        }
        # a layer the workload does not exercise reads 0 in the traced
        # run; every end-to-end metric must be measured
        missing = [m["name"] for m in names if m["name"] not in metrics]
        if correct and missing and not args.trace:
            raise RuntimeError(f"workload did not measure {missing}")
        print(json.dumps(out))
        return 0
    finally:
        if tracer is not None and tracer.enabled:
            tracer.close()
        if spark is not None:
            spark.stop()
            # stop the py4j gateway's JVM and wait for it to exit
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    # the JVM exits once its stdin pipe closes
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
        work.remove()


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — any failure: no result line, non-zero exit
        traceback.print_exc()
        sys.exit(1)
