"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload crawl_intake --seed 1 --seconds 6 --trace 0

Run from the root of a checkout that holds the package
(``vector_db_example_spark/``) next to this directory. The run
generates its inputs from ``--seed`` under ``.perfbench_work/``, starts
one local Spark session on every core the process may use, sets the
workload up (timed as ``setup_s``), runs its closed loop for at least
``--seconds`` seconds, timing each operation's wall and CPU, checks every
answer, and prints as the last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` traces the
operations (alternate rounds of them) and reports the per-layer metrics, and writes a trace
file to ``.perfbench_work/traces/``. The exit code is 1 when an output
check failed and 2 when the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE_DIR = ROOT / "vector_db_example_spark"

def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("crawl_intake", "retrieval"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and put the package on the workers' import path. Must run
    before the JVM starts."""
    for sub in ("spark-local", "tmp", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            # A fixed set of JIT compiler threads, so op_cpu_s can leave out
            # their time; a stop-the-world collector, so a collection's CPU
            # lands in the operation that caused it instead of in
            # concurrent cycles that span several.
            f"--driver-java-options '-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads -XX:+UseParallelGC'",
            f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
            # the trace reads every job of the run back from the UI store
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


def kind_median(ops, attr: str) -> float:
    """The median of ``attr`` over the operations of each kind, averaged
    over the kinds: a typical operation of an even mix, which a single slow
    operation does not move."""
    kinds = sorted({op.kind for op in ops})
    return statistics.fmean(
        statistics.median(getattr(op, attr) for op in ops if op.kind == k) for k in kinds
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM this process launched."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(args: argparse.Namespace, work: Path) -> dict:
    import tracing as tr
    import workloads

    import vector_db_example_spark.functions.embedding  # noqa: F401 - import before the thread
    from vector_db_example_spark.session import get_spark

    tracer = tr.Tracer(bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](str(work / "run"), args.seed, tracer)
    t_setup = time.perf_counter()
    # Input generation is pure Python: it runs while the JVM starts.
    with ThreadPoolExecutor(max_workers=1) as pool:
        prepared = pool.submit(wl.prepare)
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        prepared.result()
    phases = {"start": time.perf_counter() - t_setup}
    try:
        spark.sparkContext.setLogLevel("ERROR")
        stamper = tr.CallSiteStamper(tracer, str(PACKAGE_DIR))
        if args.trace:
            stamper.install()
        t = time.perf_counter()
        wl.setup(spark)
        phases["setup"] = time.perf_counter() - t
        phases["build"] = wl.build_wall
        setup_s = phases["start"] + phases["setup"]
        # what set-up leaves on disk: the same for every run of a seed
        index_ratio = wl.index_bytes_per_input_byte()
        host_before = tr.sentinel(spark) if args.trace else None

        # -- the measured closed loop: operations start until --seconds
        # have passed; the last one started runs to completion ------------
        steal0 = tr.steal_s()
        t0 = time.perf_counter()
        while wl.can_step() and (
            not wl.ops or len(wl.ops) % wl.round or time.perf_counter() - t0 < args.seconds
        ):
            traced = bool(args.trace) and wl.traced_op(len(wl.ops))
            tracer.enabled = traced
            cost = tracer.cost
            cpu = tr.work_cpu_s()
            op = wl.step(traced)
            op.cpu = tr.work_cpu_s() - cpu
            op.detail["trace_cost_s"] = tracer.cost - cost
            wl.ops.append(op)
        tracer.enabled = bool(args.trace)
        phases["loop"] = time.perf_counter() - t0
        phases["steal"] = tr.steal_s() - steal0

        t = time.perf_counter()
        quality = wl.finish()
        phases["checks"] = time.perf_counter() - t
        host_after = tr.sentinel(spark) if args.trace else None
        walls = [op.wall for op in wl.ops]
        e2e = {
            "setup_s": (setup_s, "s"),
            "index_bytes_per_input_byte": (index_ratio, "ratio"),
            "op_cpu_s": (kind_median(wl.ops, "cpu"), "s"),
            "answer_quality": (quality["answer_quality"], "frac"),
        }
        op_p50_s = kind_median(wl.ops, "wall")
        failed = [op for op in wl.ops if not op.ok]
        result = {
            "correct": not failed,
            "attempted": len(wl.ops),
            "failed": len(failed),
        }
        for op in failed:
            print(f"perfbench: CHECK FAILED {op.kind} {op.detail}", file=sys.stderr)
        summary = {k: round(v, 4) for k, (v, _u) in e2e.items()}
        summary["op_p50_s"] = round(op_p50_s, 4)
        print(f"perfbench: {args.workload} seed={args.seed} ops={len(walls)} {summary}",
              file=sys.stderr)
        if args.trace:
            print(f"perfbench: host_before={host_before} host_after={host_after}",
                  file=sys.stderr)
        print("perfbench: phases " + " ".join(f"{k}={v:.2f}s" for k, v in phases.items())
              + " ops=" + ",".join(f"{w:.2f}" for w in walls)
              + " cpu=" + ",".join(f"{op.cpu:.2f}" for op in wl.ops), file=sys.stderr)
        if not args.trace:
            result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
            return result
        stamper.uninstall()
        import layers

        per_layer, trace_doc = layers.per_layer(
            spark, wl, tracer, quality, (host_before, host_after),
            int(os.environ["SPARK_GRAFT_CPUS"]),
        )
        trace_doc["end_to_end"] = summary
        trace_dir = work.parent / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        path = trace_dir / f"{args.workload}-seed{args.seed}-{int(time.time())}.json"
        path.write_text(json.dumps(trace_doc, indent=1, default=str))
        print(f"perfbench: trace written to {path}", file=sys.stderr)
        per_layer["loop.op_p50_s"] = op_p50_s
        per_layer["host.steal_s"] = phases["steal"]
        result["metrics"] = {
            name: {"value": value, "unit": layers.UNITS[name]}
            for name, value in per_layer.items()
        }
        return result
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (PACKAGE_DIR / "__init__.py").is_file():
        print(f"perfbench: no package at {PACKAGE_DIR}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    prepare_env(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    if not result["correct"]:
        print(f"perfbench: {result['failed']} of {result['attempted']} operations "
              "failed their output checks", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
