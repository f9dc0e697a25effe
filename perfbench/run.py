#!/usr/bin/env python3
"""End-to-end benchmark for the engine.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One invocation runs one workload (``dashboard`` or ``jobs``) in one
fresh process: it generates the inputs
from ``--seed``, starts the engine's session with its own defaults,
runs one untimed warm-up operation, times operations for ``--seconds``,
checks every output against its DuckDB reference and prints a report.
The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
``--workload all`` runs every workload untraced and traced, each in a
child process, and prints one table. See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOAD_NAMES = ("dashboard", "jobs")


def parse(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (tests use a small one)")
    p.add_argument("--spans", help="write the traced run's spans to this JSON file")
    return p.parse_args(argv)


def deployment_env(work: str) -> None:
    """Deployment settings only; the session keeps the engine's defaults."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    # Temporary files of Python and the JVM stay in the run's directory.
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote('-Djava.io.tmpdir=' + tmp)} pyspark-shell",
    )
    sys.path.insert(0, ROOT)


class Ctx:
    def __init__(self, args, work: str) -> None:
        import gen
        from spans import Tracer

        self.seed, self.trace, self.work = args.seed, bool(args.trace), work
        #: No new jobs cycle starts after this (perf_counter), so that a run
        #: on a contended machine still ends well inside 180 s.
        self.last_start = T0 + 110.0
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = Tracer()
        self.log = gen.InputLog()


def stop_jvm(spark) -> None:
    """Stop the session and wait for the driver JVM to exit: it exits
    when its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_one(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "ts_data_pipeline_spark")):
        print("perfbench: the engine package ts_data_pipeline_spark is missing "
              f"next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    deployment_env(work)
    import sparkstats
    import workloads

    ctx = Ctx(args, work)
    cls = workloads.WORKLOADS[args.workload]
    wl = cls(ctx, **cls.scaled(args.scale))
    spark = None
    try:
        g0 = time.perf_counter()
        wl.prepare()
        gen_s = time.perf_counter() - g0
        setup_hash = ctx.log.digest()

        from ts_data_pipeline_spark import session

        eng = workloads.Engine()
        if ctx.trace:
            eng.instrument(ctx.tracer)
        s0 = time.perf_counter()
        spark = session.get_spark()
        get_spark_s = time.perf_counter() - s0
        spark.sparkContext.setLogLevel("ERROR")
        if ctx.trace:
            client = type(spark.sparkContext._gateway._gateway_client)
            ctx.tracer.count_calls(client, "send_command", "driver.py4j_calls")
        wl.attach(eng, spark)
        wl.warmup()
        setup_s = time.perf_counter() - T0 - gen_s
        wl.warm_more()

        cpu0, busy0 = sparkstats.cpu_times(), sparkstats.process_cpu_s(spark.sparkContext)
        wl.run(args.seconds)
        cpu1, busy1 = sparkstats.cpu_times(), sparkstats.process_cpu_s(spark.sparkContext)
        window_s = wl.window_s()
        wl.stop()
        v0 = time.perf_counter()
        wl.verify()
        verify_s = time.perf_counter() - v0
        info = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "sizes": wl.sizes, "inputs_rows": ctx.log.rows,
            "setup_inputs_hash": setup_hash, "all_inputs_hash": ctx.log.digest(),
            "generate_s": round(gen_s, 3), "verify_s": round(verify_s, 3),
            "cpu_steal_share": cpu0 and cpu1 and round((cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1), 3),
            "wall_s": round(time.perf_counter() - T0, 3), **sparkstats.versions(spark),
        }
        result = metrics.summarize(wl, ctx, setup_s=setup_s, get_spark_s=get_spark_s,
                                   window_s=window_s, cpu_s=busy1 - busy0, spark=spark)
        if args.spans:
            ctx.tracer.dump(args.spans)
    finally:
        wl.stop()
        ctx.tracer.unwrap_all()
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("# info " + json.dumps(info, sort_keys=True))
    for line in metrics.report_lines(result):
        print(line)
    print(json.dumps(result["contract"]))
    return 0


def run_all(args) -> int:
    """Every workload untraced then traced, one child process each."""
    rows, rc = [], 0
    for name in WORKLOAD_NAMES:
        reports = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace), "--scale", str(args.scale)]
            proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                rc = proc.returncode
                continue
            reports[trace] = metrics.parse_report(proc.stdout)
        rows.append((name, reports))
    print(metrics.table(rows))
    return rc


def main(argv=None) -> int:
    args = parse(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
