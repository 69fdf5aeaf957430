"""Record the expected result fingerprints into ``fingerprints.json``.

    python3 perfbench/record.py

Runs every benchmark query once on the generated fixture in a fresh
session, with every artifact built in-session (no store), and writes the
fingerprints of the delivered rows. Queries that carry DuckDB oracle SQL
must agree with the oracle before anything is written. Re-record only when
the generator or the query lists change.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run as bench_run


def main() -> int:
    sys.path.insert(0, bench_run.HERE)
    sys.path.insert(0, bench_run.ROOT)
    work = os.path.join(bench_run.ROOT, ".perfbench", f"record-{os.getpid()}")
    os.makedirs(work)
    try:
        cpus = bench_run.prepare_env(work)
        import check
        import gen
        import workloads
        from spans import Tracer

        from mapreduce_framework_api_spark.registry import load_all_queries
        from mapreduce_framework_api_spark.session import clear_session_caches

        sizes = bench_run.generate("artifact-store", 0, os.path.join(work, "inputs"))
        run = workloads.Run("artifact-store", 0, 0, Tracer(False), work, sizes)
        run.registry = load_all_queries()
        bench_run.start_session(run, cpus)
        oracle = check.Oracle(run.fixture, gen.FIXTURE_TABLES)
        out, bad = {}, []
        try:
            clear_session_caches()
            for name in workloads.STORE_QUERIES:
                q = run.registry[name]
                out[name] = check.spark_fingerprint(q.fn(run.spark, run.fixture))
                if q.oracle and oracle.fingerprint(q.oracle) != out[name]:
                    bad.append(name)
                print(f"{name:<34} {out[name]}", file=sys.stderr)
        finally:
            oracle.close()
            bench_run.stop_spark(run.spark)
    finally:
        os.chdir(bench_run.ROOT)
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print(f"oracle disagrees on: {', '.join(bad)}", file=sys.stderr)
        return 1
    with open(os.path.join(bench_run.HERE, "fingerprints.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
