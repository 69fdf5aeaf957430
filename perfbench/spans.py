"""Tracing for the benchmark: spans recorded around the calls into each
layer, Spark's own job/stage/SQL records read back from its status store,
and process CPU read from ``/proc``.

Spans stay in memory. Spark records are read once, when the run ends, and
attributed to spans by time: the benchmark drives one operation at a time,
so a job belongs to the innermost span that contains it.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Spark stamps job and stage times in whole milliseconds.
_SLACK_S = 0.002


@dataclass
class Span:
    id: int
    name: str
    kind: str
    parent: int | None
    qid: str | None
    start: float  # epoch seconds, the clock Spark stamps its records with
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Times every span; keeps them only when ``enabled``.

    Untraced runs use the same spans for their timings, so both modes time
    the same region; a disabled tracer stores nothing and reads no
    counters."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.own_s = 0.0  # time spent reading counters for the trace

    @contextmanager
    def span(self, name: str, kind: str | None = None, qid: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if qid is None and parent is not None:
            qid = parent.qid
        s = Span(len(self.spans), name, kind or name, parent.id if parent else None, qid, time.time(), attrs=attrs)
        if self.enabled:
            self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if kind in ("setup", "phase"):
                print(f"[perfbench] {name} {s.dur:.2f}s", file=sys.stderr)

    @contextmanager
    def overhead(self):
        """Marks time the tracer itself spends, for the overhead figure."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.own_s += time.perf_counter() - t0


# ------------------------------------------------------- Spark records ----


def _jackson(spark):
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
    mapper.registerModule(scala_module)
    return mapper


def _epoch_s(records: list[dict]) -> list[dict]:
    for rec in records:
        for k in ("submissionTime", "completionTime"):
            v = rec.get(k)
            rec[k] = v / 1000.0 if isinstance(v, (int, float)) else None
    return records


def _sql(spark, mapper) -> list[dict]:
    store = spark._jsparkSession.sharedState().statusStore()
    return _epoch_s(json.loads(mapper.writeValueAsString(store.executionsList())))


def spark_records(spark) -> dict:
    """Jobs, stages and SQL executions from Spark's status stores, as plain
    dicts with times in epoch seconds (one JSON round trip per store)."""
    mapper = _jackson(spark)
    core = spark.sparkContext._jsc.sc().statusStore()
    no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
    jobs = json.loads(mapper.writeValueAsString(core.jobsList(None)))
    stages = json.loads(mapper.writeValueAsString(core.stageList(None, False, False, no_quantiles, None)))
    return {"jobs": _epoch_s(jobs), "stages": _epoch_s(stages), "sql": _sql(spark, mapper)}


def sql_executions_between(spark, t0: float, t1: float) -> list[dict]:
    """Root SQL executions submitted within [t0, t1], oldest first."""
    out = [
        e
        for e in _sql(spark, _jackson(spark))
        if e["executionId"] == e.get("rootExecutionId", e["executionId"])
        and e["submissionTime"] is not None
        and t0 - _SLACK_S <= e["submissionTime"] <= t1 + _SLACK_S
    ]
    return sorted(out, key=lambda e: e["executionId"])


def within(rec: dict, span: Span) -> bool:
    t = rec.get("submissionTime")
    return t is not None and span.start - _SLACK_S <= t <= span.end + _SLACK_S


def innermost(candidates: list[Span], rec: dict) -> Span | None:
    """The shortest span that contains a Spark record's submission."""
    inside = [s for s in candidates if within(rec, s)]
    return min(inside, key=lambda s: s.dur) if inside else None


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_UNITS = {
    "ns": 1e-9, "µs": 1e-6, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``"1.2 s"``, ``"3.4 MiB"``, or the
    multi-task form ``"total (min, med, max ...)\\n1.2 s (...)"``, in
    seconds or bytes."""
    line = text.strip().splitlines()[-1] if text else ""
    parts = line.replace(",", "").split()
    if not parts:
        return 0.0
    try:
        value = float(parts[0])
    except ValueError:
        return 0.0
    unit = parts[1] if len(parts) > 1 else ""
    return value * _UNITS.get(unit, 1.0)


def python_kernel_metrics(execution: dict) -> dict[str, float]:
    """Sum of the Arrow Python operators' SQL metrics in one execution."""
    names = {
        "time to start Python workers": "boot_s",
        "time to run Python workers": "run_s",
        "data sent to Python workers": "sent_b",
    }
    values = execution.get("metricValues") or {}
    out = {v: 0.0 for v in names.values()}
    seen = set()
    for m in execution.get("metrics") or []:
        key, acc = names.get(m.get("name")), str(m.get("accumulatorId"))
        if key and acc not in seen and values.get(acc):
            seen.add(acc)
            out[key] += parse_metric(values[acc])
    return out


# ---------------------------------------------------------- processes ----


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    tick = os.sysconf("SC_CLK_TCK")
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / tick


def process_cpu(jvm_pid: int) -> dict[str, float]:
    """CPU seconds of the JVM and of its Python worker processes."""
    table = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st:
                table[int(entry)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _cpu) in table.items():
        children.setdefault(ppid, []).append(pid)
    python = 0.0
    todo = list(children.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        python += table[pid][1]
        todo.extend(children.get(pid, []))
    jvm = table.get(jvm_pid, (0, 0.0))[1]
    return {"jvm_cpu_s": jvm, "python_cpu_s": python}


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this driver process plus the JVM, in MB."""
    import resource

    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    try:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    except OSError:
        pass
    return total_kb / 1024.0
