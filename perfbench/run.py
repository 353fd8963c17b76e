#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload fanout --seed 1 --seconds 22 --trace 0

Run from the repository root.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` wraps each layer's entry points in spans and
reports the per-layer metrics instead.  Every file the run writes stays
under the repository root: state in ``.perfbench_work/`` (removed at
exit) and a detailed report in ``.perfbench_out/``.  The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("fanout", "read_mix", "sketch_bulk", "dedup_ingest")
SPARK_HEAP = "2g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> dict[str, str]:
    """Point every scratch location Spark, the JVM and Python use into
    ``work``; returns the Spark conf overrides that do the JVM's part."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # executors' Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # every JVM, the spark-submit launcher's too: temp files under
    # ``work`` and no hsperfdata file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} " \
                                      "-XX:-UsePerfData"
    return {
        "spark.driver.memory": SPARK_HEAP,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()   # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pipelinedb_spark",
                                       "__init__.py")):
        print(f"perfbench: no pipelinedb_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = isolate(work)

    from perfbench import trace as tr
    from perfbench import stats, workloads
    from pipelinedb_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    rec = undo = None
    if args.trace:
        rec = tr.Recorder()
        undo = tr.install(rec)
    w = workloads.WORKLOADS[args.workload](spark, work, args.seed, rec)
    try:
        w.run(args.seconds)
        jvm = spark.sparkContext._gateway.proc.pid
        rss_mb = (vm_hwm_kb("self") + vm_hwm_kb(jvm)) / 1024.0
    finally:
        if undo is not None:
            undo()
        w.close()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = workloads.end_to_end(w)
    extra = workloads.report_only(w, rss_mb)
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "end_to_end": e2e, "report_only": extra, "setup_samples_s": w.setup_s,
        "setup_cold_s": w.setup_cold_s,
        "rows_per_s_mean": w.rows / w.loop_s,
        "step_rates": w.step_rates, "loop_load": w.loop_load,
        "phases_s": w.phases, "wall_s": time.perf_counter() - T_START,
        "commit_samples_ms": w.commit_ms, "read_samples_ms": w.read_ms,
        "commit_tail": stats.tail(w.commit_ms),
        "read_tail": stats.tail([x for v in w.read_ms.values() for x in v]),
        "session_s": session_s, "errors": w.errors,
    }
    if args.trace:
        layer = workloads.per_layer(w, session_s)
        report["per_layer"] = layer
        report["spans"] = rec.to_json()
        metrics = layer
    else:
        metrics = e2e
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, default=list)

    for e in w.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    shown = metrics if args.trace else {**metrics, **extra}
    for name, (value, unit) in shown.items():
        note = "" if name in metrics else "  (report only)"
        print(f"{args.workload:12s} {name:40s} {value:14.3f} {unit}{note}",
              file=sys.stderr)
    print(json.dumps({
        "correct": w.failed == 0, "attempted": w.attempted,
        "failed": w.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
