"""The benchmark's workloads, driven closed-loop by one client: each
operation starts after the previous one has delivered its result.

Each workload has a warm-up, which ends the run's set-up, and a timed
phase that repeats a *unit* of work until the run's time is used up:

- ``artifact-store``: persist the dedup artifact store, clear the session
  caches, load the store, serve artifact-backed queries from it; the
  warm-up is one such cycle;
- ``mr-wordcount``: one ``mr_create`` -> ``start`` -> ``finish`` job; the
  warm-up is one 4-partition job on a small corpus. The timed job is then
  the session's first 32-partition job, as a caller that runs one job per
  session meets it: it takes ~1.6 times as long as later ones (23 s
  against 14-15 s on 4 cores), and a full-size warm-up job would raise
  the set-up from ~13 s to ~30 s.

A query is built with ``Query.fn(spark, fixture_dir)`` and delivered with
``df.write.format("noop")``, which executes the full delivered plan.
"""

from __future__ import annotations

import filecmp
import os
import random
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

import check
import gen
from spans import Tracer

# The store persisted and loaded, and the queries served from it: each
# reads an artifact that ``persist_dedup_artifacts`` writes. The ingest and
# ANN index stores (~9 s and ~14 s cold per persist call on 4 cores) do not
# fit the per-run budget.
STORES = ("dedup_artifacts",)
STORE_QUERIES = [
    "q_dedup_minhash",
    "q_dedup_containment_bk",
    "q_dedup_ngram_jaccard",
]
# Serving requests per load; one request runs STORE_QUERIES in a seeded
# order and is the workload's operation. The first request after a load
# pays each query's first use of the loaded store; the others repeat the
# serving of a dashboard. Five keep a cycle short (~8 s on 4 cores), so
# that a run's medians are taken over several cycles: the machine's speed
# varies on a scale of seconds, and one long cycle per run follows it.
SERVE_ROUNDS = 5

MR_PARTITIONS = 32  # the reference's 32-way run
MR_WARM_PARTITIONS = 4


class Run:
    """State of one benchmark run: session, inputs, tracer, tallies."""

    def __init__(self, workload: str, seed: int, seconds: float, tracer: Tracer, work: str, sizes: dict) -> None:
        self.workload = workload
        self.seed = seed
        self.rng = random.Random(seed)
        self.seconds = seconds
        self.tracer = tracer
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.fixture = os.path.join(self.inputs, "fixture")
        self.sizes = sizes  # bytes of the generated inputs
        self.attempted = 0
        self.failed = 0
        self.setup_s = 0.0
        self.units: list[float] = []  # wall of each timed unit
        self.ops: list[float] = []  # delivered latency of each operation
        self.spark = None
        self.jvm_pid = 0
        self.registry = None
        self.expected = {}
        # Delivered fingerprints to compare with the DuckDB oracle once the
        # end-to-end metrics are taken, so DuckDB's memory is not counted.
        self.oracle_pending: dict[str, tuple[str, str]] = {}
        self.timing = False  # inside the timed phase
        self.untimed_s = 0.0  # checks inside the current unit
        self.check_cpu = {"jvm_cpu_s": 0.0, "python_cpu_s": 0.0}  # traced only
        self.unit_info: dict = {}

    # -- operations ------------------------------------------------------
    def artifacts_now(self) -> int:
        """Entries in the artifact caches; read only when tracing."""
        if not self.tracer.enabled:
            return 0
        with self.tracer.overhead():
            return artifact_entries()

    def op(self, name: str, fn, *args, **kwargs):
        """Run one operation; a raised error counts as a failure."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            print(f"[perfbench] {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None

    def query(self, name: str, verify: bool) -> None:
        """Build and deliver one registered query, then (untimed, if
        ``verify``) check what it delivered."""
        tr = self.tracer
        cached = self.artifacts_now()
        with tr.span(f"query:{name}", "query", qid=f"{name}#{len(tr.spans)}") as q:
            delivered = self.op(name, self._deliver, name)
        q.attrs["cache_added"] = self.artifacts_now() - cached
        if delivered is None:
            return
        if verify:
            with self.checking(name):
                self._check(name, *delivered)

    @contextmanager
    def checking(self, name: str):
        """Span of an untimed check: its time is left out of the unit's,
        and (traced) its CPU out of the process CPU figures."""
        import spans

        tr = self.tracer
        if tr.enabled:
            with tr.overhead():
                cpu0 = spans.process_cpu(self.jvm_pid)
        with tr.span(f"check:{name}", "check") as c:
            yield
        self.untimed_s += c.dur
        if tr.enabled:
            with tr.overhead():
                cpu1 = spans.process_cpu(self.jvm_pid)
            for k in self.check_cpu:
                self.check_cpu[k] += cpu1[k] - cpu0[k]

    def _deliver(self, name: str):
        tr = self.tracer
        with tr.span("build"):
            df = self.registry[name].fn(self.spark, self.fixture)
        if tr.enabled:
            with tr.span("plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("action") as action:
            df.write.format("noop").mode("overwrite").save()
        return df, action

    def _check(self, name: str, df, action) -> None:
        """Fingerprint the delivered rows and compare them with the
        recorded fingerprint (and keep it for the DuckDB cross-check);
        guard that the noop sink executed the delivered plan's Sorts and
        Exchanges."""
        import spans

        self.attempted += 1
        try:
            t0 = time.time()
            got = check.spark_fingerprint(df)
            t1 = time.time()
            problems = []
            want = self.expected.get(name)
            if want != got:
                problems.append(f"fingerprint {got} != recorded {want}")
            sql = self.registry[name].oracle
            if sql and name not in self.oracle_pending:
                self.oracle_pending[name] = (sql, got)
            delivered = spans.sql_executions_between(self.spark, t0, t1)
            sunk = spans.sql_executions_between(self.spark, action.start, action.end)
            if delivered and sunk:
                want_ops = check.plan_ops(delivered[-1]["physicalPlanDescription"])
                got_ops = check.plan_ops(sunk[-1]["physicalPlanDescription"])
                if want_ops != got_ops:
                    problems.append(f"noop plan {dict(got_ops)} != delivered plan {dict(want_ops)}")
            else:
                problems.append("plan-fidelity guard found no SQL execution")
        except Exception:
            problems = [traceback.format_exc()]
        if problems:
            self.failed += 1
            print(f"[perfbench] check {name}: {'; '.join(problems)}", file=sys.stderr)

    def cross_check_oracle(self) -> None:
        """Compare each checked query's fingerprint, once per run, with its
        DuckDB oracle SQL on the same fixture file; each comparison is an
        operation of its own."""
        if not self.oracle_pending:
            return
        oracle = check.Oracle(self.fixture, gen.FIXTURE_TABLES)
        try:
            for name, (sql, got) in sorted(self.oracle_pending.items()):
                self.op(f"oracle:{name}", self._oracle_one, oracle, name, sql, got)
        finally:
            oracle.close()

    def _oracle_one(self, oracle, name: str, sql: str, got: str) -> None:
        ora = oracle.fingerprint(sql)
        if ora != got:
            raise AssertionError(f"{name}: fingerprint {got} != duckdb {ora}")

    # -- timed loop --------------------------------------------------------
    def timed(self, unit) -> None:
        """Repeat ``unit`` until the run's seconds are used, at least once."""
        import spans

        tr = self.tracer
        t0 = time.perf_counter()
        n = 0
        self.timing = True
        self.check_cpu = dict.fromkeys(self.check_cpu, 0.0)
        own0 = tr.own_s
        with tr.span("phase:timed", "phase") as phase:
            if tr.enabled:
                with tr.overhead():
                    phase.attrs["cpu0"] = spans.process_cpu(self.jvm_pid)
            while n == 0 or time.perf_counter() - t0 < self.seconds:
                self.untimed_s = 0.0
                with tr.span(f"unit:{n}", "unit") as u:
                    unit(n)
                self.units.append(u.dur - self.untimed_s)
                n += 1
            if tr.enabled:
                with tr.overhead():
                    phase.attrs["cpu1"] = spans.process_cpu(self.jvm_pid)
                phase.attrs["tracer_s"] = tr.own_s - own0
        self.timing = False


def artifact_entries() -> int:
    """Entries in the engine's session artifact caches (the dicts that
    ``clear_session_caches`` empties, minus the table-handle cache)."""
    from mapreduce_framework_api_spark.operators import dedup, graph, similarity, text

    return sum(
        len(v)
        for mod in (dedup, graph, similarity, text)
        for k, v in vars(mod).items()
        if k.endswith("_CACHE") and isinstance(v, dict)
    )


# ------------------------------------------------------------ workloads ----


def store_cycle(run: Run) -> None:
    """Clear the caches, persist the stores, clear, load them, and serve
    SERVE_ROUNDS requests; the first request after the load is checked."""
    from mapreduce_framework_api_spark.operators import artifacts
    from mapreduce_framework_api_spark.session import clear_session_caches

    store_dir = os.path.join(run.work, "stores")
    tr = run.tracer
    clear_session_caches()
    for store in STORES:
        cached = run.artifacts_now()
        with tr.span(f"persist:{store}", "persist") as s:
            run.op(f"persist_{store}", getattr(artifacts, f"persist_{store}"), run.spark, run.fixture, os.path.join(store_dir, store))
        s.attrs["cache_added"] = run.artifacts_now() - cached
    clear_session_caches()
    for store in STORES:
        with tr.span(f"load:{store}", "load"):
            run.op(f"load_{store}", getattr(artifacts, f"load_{store}"), run.spark, run.fixture, os.path.join(store_dir, store))
    for served, order in enumerate(gen.query_orders(STORE_QUERIES, run.rng.randrange(2**32), SERVE_ROUNDS)):
        untimed = run.untimed_s
        with tr.span(f"serve:{served}", "serve") as request:
            for name in order:
                run.query(name, verify=served == 0)
        if run.timing:
            run.ops.append(request.dur - (run.untimed_s - untimed))
    run.unit_info["store_bytes"], run.unit_info["store_files"] = _tree_size(store_dir)


def store_timed(run: Run) -> None:
    run.timed(lambda _n: store_cycle(run))


def mr_job(run: Run, corpus: str, partitions: int, outpath: str) -> None:
    """One word-count job, then (untimed) its output file against the
    generator's expected counts."""
    from mapreduce_framework_api_spark.compat import mapreduce as mr

    tr = run.tracer
    inpath = os.path.join(run.inputs, f"{corpus}.txt")
    expected = os.path.join(run.inputs, f"{corpus}-expected.txt")

    def go():
        with tr.span("mr.start"):
            j = mr.mr_create(mr.wordcount_map, mr.wordcount_reduce, partitions=partitions)
            j.start(run.spark, inpath)
        with tr.span("mr.finish"):
            j.finish(outpath)
        mr.mr_destroy(j)
        return True

    with tr.span("mr.job", "mr.job") as job_span:
        done = run.op("mr_wordcount", go)
    if done is None:
        return
    if run.timing:
        run.ops.append(job_span.dur)
    with run.checking("mr_wordcount"):
        run.attempted += 1
        if not filecmp.cmp(outpath, expected, shallow=False):
            run.failed += 1
            print(f"[perfbench] {outpath} differs from {expected}", file=sys.stderr)


def mr_warm(run: Run) -> None:
    mr_job(run, "warm", MR_WARM_PARTITIONS, os.path.join(run.work, "warm-out.txt"))


def mr_timed(run: Run) -> None:
    run.unit_info["corpus_bytes"] = run.sizes["corpus_bytes"]
    run.timed(lambda n: mr_job(run, "corpus", MR_PARTITIONS, os.path.join(run.work, f"out-{n}.txt")))


# Per workload: the warm-up that ends the set-up, then the timed phase.
WORKLOADS = {
    "artifact-store": (store_cycle, store_timed),
    "mr-wordcount": (mr_warm, mr_timed),
}


def _tree_size(path: str) -> tuple[int, int]:
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def median(xs: list[float]) -> float:
    """Median, or 0 when nothing was measured (every operation failed)."""
    return statistics.median(xs) if xs else 0.0
