"""Metrics of one run.

End-to-end metrics come from untraced runs. Per-layer metrics come from a
traced run; each is given per unit of work (one store cycle, one
word-count job) so that it does not depend on how many units fit in the
run.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

import spans
from check import plan_ops as count_plan_ops
from workloads import STORE_QUERIES, median

MB = 1e6


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(run) -> dict:
    return {
        "setup_s": _m(run.setup_s, "s"),
        "wall_s": _m(median(run.units), "s"),
        "op_p50_s": _m(median(run.ops), "s"),
    }


def per_layer(run) -> tuple[dict, list[dict]]:
    """The per-layer metrics, and the Spark jobs of the timed phase
    outside its checks."""
    tr = run.tracer
    recs = spans.spark_records(run.spark)
    phase = next(s for s in tr.spans if s.name == "phase:timed")
    inside = [s for s in tr.spans if s.start >= phase.start and s.end <= phase.end]
    by_kind = defaultdict(list)
    for s in inside:
        by_kind[s.kind].append(s)
    units = max(1, len(by_kind["unit"]))

    checks = by_kind["check"]

    def program(rec):
        """A Spark record of the timed phase that no check submitted."""
        return spans.within(rec, phase) and not any(spans.within(rec, c) for c in checks)

    jobs = [j for j in recs["jobs"] if program(j) and j.get("completionTime")]
    stages = {s["stageId"]: s for s in recs["stages"] if s.get("status") == "COMPLETE"}
    build_spans = by_kind["build"]

    def jobs_in(span):
        return [j for j in jobs if spans.within(j, span)]

    def self_s(span):
        return span.dur - spans.union_s(
            [(max(j["submissionTime"], span.start), min(j["completionTime"], span.end)) for j in jobs_in(span)]
        )

    exec_jobs = [j for j in jobs if not any(spans.within(j, b) for b in build_spans)]
    exec_stages = [stages[i] for j in exec_jobs for i in j["stageIds"] if i in stages]
    kern = defaultdict(float)
    for e in recs["sql"]:
        if program(e):
            for k, v in spans.python_kernel_metrics(e).items():
                kern[k] += v

    plan_ops = {"Sort": 0, "Exchange": 0}
    for e in recs["sql"]:
        if spans.within(e, phase) and any(spans.within(e, a) for a in by_kind["action"]):
            ops = count_plan_ops(e.get("physicalPlanDescription") or "")
            plan_ops["Sort"] += ops["Sort"]
            plan_ops["Exchange"] += ops["Exchange"] + ops["BroadcastExchange"] + ops["ReusedExchange"]

    queries = by_kind["query"]
    store_q = set(STORE_QUERIES)
    built = sum(s.attrs.get("cache_added", 0) for s in queries + by_kind["persist"])
    reused = sum(1 for s in queries if s.name.split(":", 1)[1] in store_q and s.attrs.get("cache_added", 0) == 0)
    building = {s.qid for s in queries if s.attrs.get("cache_added", 0) > 0}
    q_total = sum(s.dur for s in queries) or float("nan")

    finish = by_kind["mr.finish"]
    # PySpark shuffles pickled batches, so Spark's record counts count
    # batches; the map-side combine shows in the bytes shuffled instead.
    mr_jobs = [j for m in by_kind["mr.job"] for j in jobs_in(m)]
    shuffle_bytes = sum(stages[i]["shuffleWriteBytes"] for j in mr_jobs for i in j["stageIds"] if i in stages)
    corpus_bytes = run.unit_info.get("corpus_bytes", 0) * len(by_kind["mr.job"])

    cpu0, cpu1 = phase.attrs["cpu0"], phase.attrs["cpu1"]
    cpu = {k: cpu1[k] - cpu0[k] - run.check_cpu[k] for k in cpu0}
    store_bytes = run.unit_info.get("store_bytes", 0)
    input_bytes = sum(run.sizes.get("fixture_bytes", {}).values())
    plan_s = sum(s.dur for s in by_kind["plan"])
    extra = phase.attrs["tracer_s"] + plan_s
    start = next(s for s in tr.spans if s.kind == "session.start")
    warm = next(s for s in tr.spans if s.name == "phase:warm")
    warm_checks = sum(s.dur for s in tr.spans if s.kind == "check" and s.start >= warm.start and s.end <= warm.end)
    check_s = sum(s.dur for s in checks)
    per_unit = 1.0 / units

    def total(kind):
        return sum(s.dur for s in by_kind[kind]) * per_unit

    out = {
        "units": (units, "count"),
        "ops": (len(run.ops) * per_unit, "count"),
        "session.start_s": (start.dur, "s"),
        "session.warmup_s": (warm.dur - warm_checks, "s"),
        "build.s": (total("build"), "s"),
        "build.driver_s": (sum(self_s(b) for b in build_spans) * per_unit, "s"),
        "build.jobs": (sum(len(jobs_in(b)) for b in build_spans) * per_unit, "count"),
        "catalyst.plan_s": (plan_s * per_unit, "s"),
        "catalyst.exchanges": (plan_ops["Exchange"] * per_unit, "count"),
        "catalyst.sorts": (plan_ops["Sort"] * per_unit, "count"),
        "exec.action_s": (total("action"), "s"),
        "exec.jobs": (len(exec_jobs) * per_unit, "count"),
        "exec.stages": (len(exec_stages) * per_unit, "count"),
        "exec.tasks": (sum(s["numCompleteTasks"] for s in exec_stages) * per_unit, "count"),
        "exec.cpu_s": (sum(s["executorCpuTime"] for s in exec_stages) / 1e9 * per_unit, "s"),
        "exec.gc_s": (sum(s["jvmGcTime"] for s in exec_stages) / 1e3 * per_unit, "s"),
        "exec.input_mb": (sum(s["inputBytes"] for s in exec_stages) / MB * per_unit, "MB"),
        "exec.shuffle_write_mb": (sum(s["shuffleWriteBytes"] for s in exec_stages) / MB * per_unit, "MB"),
        "exec.shuffle_read_mb": (sum(s["shuffleReadBytes"] for s in exec_stages) / MB * per_unit, "MB"),
        "exec.spill_mb": (sum(s["diskBytesSpilled"] for s in exec_stages) / MB * per_unit, "MB"),
        "kernels.boot_s": (kern["boot_s"] * per_unit, "s"),
        "kernels.run_s": (kern["run_s"] * per_unit, "s"),
        "kernels.sent_mb": (kern["sent_b"] / MB * per_unit, "MB"),
        "artifacts.built": (built * per_unit, "count"),
        "artifacts.reused": (reused * per_unit, "count"),
        "artifacts.build_s": (sum(s.dur for s in build_spans if s.qid in building) * per_unit, "s"),
        "store.persist_s": (total("persist"), "s"),
        "store.load_s": (total("load"), "s"),
        "store.mb": (store_bytes / MB, "MB"),
        "store.files": (run.unit_info.get("store_files", 0), "count"),
        "store.mb_per_input_mb": (store_bytes / input_bytes if store_bytes else 0.0, "ratio"),
        "mr.start_s": (total("mr.start"), "s"),
        "mr.finish_s": (total("mr.finish"), "s"),
        "mr.driver_s": (sum(self_s(f) for f in finish) * per_unit, "s"),
        "mr.shuffle_mb": (shuffle_bytes / MB * per_unit, "MB"),
        "mr.combine_ratio": (shuffle_bytes / corpus_bytes if corpus_bytes else 0.0, "ratio"),
        "mr.throughput_mb_s": (
            run.unit_info.get("corpus_bytes", 0) / MB / median(run.units) if finish else 0.0,
            "MB/s",
        ),
        "proc.jvm_cpu_s": (cpu["jvm_cpu_s"] * per_unit, "s"),
        "proc.python_cpu_s": (cpu["python_cpu_s"] * per_unit, "s"),
        "proc.peak_rss_mb": (spans.peak_rss_mb(run.jvm_pid), "MB"),
        "query.build_share": (sum(s.dur for s in build_spans) / q_total if queries else 0.0, "ratio"),
        "query.plan_share": (plan_s / q_total if queries else 0.0, "ratio"),
        "query.action_share": (sum(s.dur for s in by_kind["action"]) / q_total if queries else 0.0, "ratio"),
        "trace.overhead": (extra / max(phase.dur - check_s - extra, 1e-9), "ratio"),
    }
    return {k: _m(v, u) for k, (v, u) in out.items()}, jobs


def self_times(run, jobs: list[dict]) -> dict:
    """Self time per span kind over the timed phase, checks left out: a
    span's duration minus the part its child spans and Spark jobs cover."""
    phase = next(s for s in run.tracer.spans if s.name == "phase:timed")
    timed = [s for s in run.tracer.spans if s.start >= phase.start and s.end <= phase.end and s.kind != "check"]
    children = defaultdict(list)
    for s in timed:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    for j in jobs:
        owner = spans.innermost(timed, j)
        if owner is not None:
            children[owner.id].append((max(j["submissionTime"], owner.start), min(j["completionTime"], owner.end)))
    out = defaultdict(float)
    for s in timed:
        out[s.kind] += s.dur - spans.union_s(children[s.id])
    out["spark.job"] = sum(j["completionTime"] - j["submissionTime"] for j in jobs)
    return dict(out)


def write_trace(run, metrics: dict, jobs: list[dict], out_dir: str) -> str:
    """Write the run's spans, Spark jobs, self-time summary and metrics."""
    os.makedirs(out_dir, exist_ok=True)
    summary = self_times(run, jobs)
    print("[perfbench] self time by layer (s):", file=sys.stderr)
    for k, v in sorted(summary.items(), key=lambda kv: -kv[1]):
        print(f"[perfbench]   {k:<24} {v:10.3f}", file=sys.stderr)
    path = os.path.join(out_dir, f"trace-{run.workload}-seed{run.seed}.json")
    doc = {
        "workload": run.workload,
        "seed": run.seed,
        "spans": [
            {"id": s.id, "name": s.name, "kind": s.kind, "parent": s.parent, "qid": s.qid, "start": s.start, "end": s.end, **({"attrs": s.attrs} if s.attrs else {})}
            for s in run.tracer.spans
        ],
        "jobs": [
            {k: j.get(k) for k in ("jobId", "submissionTime", "completionTime", "stageIds", "numTasks", "status")}
            for j in jobs
        ],
        "self_time_s": summary,
        "metrics": metrics,
    }
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, default=str)
    return path
