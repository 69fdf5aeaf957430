"""Benchmark entry point.

    python3 perfbench/run.py --workload artifact-store --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates its inputs under ``.perfbench/``
in a child process, sets up (imports, a ``local[N]`` session with N =
usable cores, the workload's warm-up), drives the workload closed-loop for
``--seconds``, checks every output, and prints one JSON object as the last
line of stdout: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Traced runs also write their spans to
``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # the start of the set-up that ``setup_s`` times

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mapreduce_framework_api_spark"
DRIVER_MEM = "1g"


def parse_args(argv):
    import workloads

    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> int:
    """Keep Spark's scratch files inside the work directory; returns the
    core count the session uses."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.update(
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf",
                shlex.quote(f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"),
                "pyspark-shell",
            ]
        ),
    )
    os.chdir(work)
    return cpus


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the run's inputs in a child process; returns their sizes."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload, "--seed", str(seed), "--out", out_dir],
        check=True,
        stdout=subprocess.PIPE,
        text=True,
    )
    return json.loads(proc.stdout)


def start_session(run, cpus: int) -> None:
    from mapreduce_framework_api_spark.session import get_spark

    with run.tracer.span("session.start"):
        run.spark = get_spark(
            "perfbench",
            cpus=cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )
    run.jvm_pid = run.spark._jvm.java.lang.ProcessHandle.current().pid()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}; run from a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        return bench(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def bench(args, work: str) -> int:
    cpus = prepare_env(work)
    import workloads
    from spans import Tracer

    t = time.perf_counter()
    sizes = generate(args.workload, args.seed, os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - t
    tracer = Tracer(bool(args.trace))
    run = workloads.Run(args.workload, args.seed, args.seconds, tracer, work, sizes)
    with open(os.path.join(HERE, "fingerprints.json")) as f:
        run.expected = json.load(f)
    warm, timed = workloads.WORKLOADS[args.workload]
    try:
        with tracer.span("run", "run", workload=args.workload, seed=args.seed):
            # Set-up: from the start of this script to the end of the
            # warm-up, less the input generation and the warm-up's checks.
            with tracer.span("setup", "setup"):
                from mapreduce_framework_api_spark.registry import load_all_queries

                run.registry = load_all_queries()
                start_session(run, cpus)
                with tracer.span("phase:warm", "phase"):
                    warm(run)
            run.setup_s = time.perf_counter() - T0 - gen_s - run.untimed_s
            timed(run)
        import report

        if args.trace:
            metrics, jobs = report.per_layer(run)
            report.write_trace(run, metrics, jobs, os.path.join(ROOT, ".perfbench", "traces"))
        else:
            metrics = report.end_to_end(run)
        run.cross_check_oracle()
        for k, v in sorted(metrics.items()):
            print(f"[perfbench] {k:<28} {v['value']:>14.6g} {v['unit']}", file=sys.stderr)
    finally:
        stop_spark(run.spark)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
