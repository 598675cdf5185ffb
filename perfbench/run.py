#!/usr/bin/env python3
"""The repository benchmark: one command per workload.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 20 --trace 0

Runs the named workload on ``local[nproc]`` with a session from
``pipeline.build_session`` as users get it, checks every output and prints
the result as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run.  The line before it holds run context
(host, sizes, raw samples, failure detail).  See perfbench/README.md.

All files go under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit of the ``end_to_end`` or ``per_layer`` list in
    BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the benchmark's own tests")
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``, and
    let the Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(nproc: int):
    from crrf_det_spark.pipeline import build_session

    spark = build_session(master=f"local[{nproc}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every descendant is gone."""
    from pyspark import SparkContext

    from perfbench.procstat import alive, descendants

    kids = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    if not _wait_gone(kids, alive, 30):
        for p in kids:
            if alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        _wait_gone(kids, alive, 10)


def _wait_gone(pids, alive, timeout_s: float) -> bool:
    deadline = time.monotonic() + timeout_s
    while any(alive(p) for p in pids):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
    return True


def set_up(name, seed, size, work, nproc):
    """Session (launching the JVM), input generation, input write and
    warm-up.  Returns the session, the workload and the phase times."""
    from perfbench.workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_session(nproc)
    t1 = time.perf_counter()
    shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    wl = WORKLOADS[name](os.path.join(work, name), seed, size)
    wl.generate()
    t2 = time.perf_counter()
    wl.write_input()
    t3 = time.perf_counter()
    wl.warmup(spark)
    t4 = time.perf_counter()
    return spark, wl, {"session_s": t1 - t0, "generate_s": t2 - t1,
                       "write_s": t3 - t2, "warmup_s": t4 - t3, "total_s": t4 - t0}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "crrf_det_spark")):
        print("perfbench: crrf_det_spark/ is missing from the checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.procstat import RssSampler, host_facts
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    prepare_env(WORK)
    host = host_facts()
    nproc = host["nproc"]

    spark = None
    with RssSampler() as rss:
        try:
            spark, wl, setup = set_up(args.workload, args.seed, args.size, WORK, nproc)
            if args.trace:
                layers = wl.traced(spark, nproc,
                                   os.path.join(WORK, f"spans-{args.workload}.jsonl"))
            else:
                wl.measure(spark, args.seconds)
            t_check = time.perf_counter()
            attempted, failed, problems = wl.check(spark)
        finally:
            t_stop = time.perf_counter()
            shutdown(spark)
    tail = {"check_s": t_stop - t_check, "shutdown_s": time.perf_counter() - t_stop}

    units = metric_units("per_layer" if args.trace else "end_to_end")
    if args.trace:
        # a layer the workload does not run reads 0
        metrics = dict.fromkeys(units, 0.0)
        metrics.update(layers)
        metrics.update({f"setup.{k}": v for k, v in setup.items() if k != "total_s"})
        metrics.update({"check.failed_frac": failed / attempted,
                        "host.nproc": nproc, "host.mem_total_mb": host["mem_total_mb"],
                        **{f"rss.{k}_peak_mb": v for k, v in rss.peak_mb.items()}})
    else:
        metrics = wl.e2e()
        metrics["setup_s"] = setup["total_s"]
    unknown = set(metrics) - set(units)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": host, "setup": setup, "failed_frac": failed / attempted,
            "unexplained_failures": problems[:20], "peak_rss_mb": rss.peak_mb, **tail,
            **wl.info()}
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
