"""Measurement at the boundaries of the engine's layers, from outside.

Spans are kept in memory and written once at the end of a run. Spark's
own counters come from the live status store (the UI and event log stay
off): jobs are found by the job group the benchmark sets around each
call, or by the streaming query's run id, and their stages are summed.
"""

from __future__ import annotations

import itertools
import os
import time
from contextlib import contextmanager

STAGE_FIELDS = {
    "tasks": "numTasks",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_rows": "inputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "memoryBytesSpilled",
}


class Tracer:
    """Spans with a parent link and counts recorded at the same boundary.
    Disabled, ``span`` only yields, so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    def add(self, name, start, end, parent=None, **counts) -> int:
        sid = next(self._ids)
        self.spans.append(
            {"id": sid, "name": name, "parent": parent, "start": start,
             "end": end, "counts": counts}
        )
        return sid

    @contextmanager
    def span(self, name, **counts):
        """Yields the span record (``None`` when disabled); counts may be
        added to ``record["counts"]`` before the block ends."""
        if not self.enabled:
            yield None
            return
        rec = {"id": next(self._ids), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "counts": counts}
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total ms, and self ms (the span minus
        the part of its interval that its children cover)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        table: dict[str, dict] = {}
        for s in self.spans:
            total = s["end"] - s["start"]
            covered, reach = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, reach, s["start"]), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            row = table.setdefault(s["name"], {"n": 0, "total_ms": 0.0, "self_ms": 0.0})
            row["n"] += 1
            row["total_ms"] += total * 1000
            row["self_ms"] += (total - covered) * 1000
        return table


def process_tree(root_pid: int) -> dict[int, tuple[str, float]]:
    """``root_pid`` and every process below it (this client, the Spark JVM
    it launched, any Python workers): pid -> (state letter, user+system CPU
    seconds, including those of its children that already ended)."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, info = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        info[pid] = (fields[0], sum(int(x) for x in fields[11:15]) / tick)
    tree = {}
    for pid in info:
        p = pid
        while p and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            tree[pid] = info[pid]
    return tree


def tree_cpu_s(root_pid: int) -> float:
    """User+system CPU seconds of a process and all its descendants,
    including descendants that already ended."""
    return sum(cpu for _, cpu in process_tree(root_pid).values())


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def drain_listeners(spark) -> None:
    """Block until the status store has seen every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def jobs_by_group(spark) -> dict[str, list]:
    """Every job in the status store, keyed by job group (or by
    description for jobs without one, e.g. streaming micro-batches)."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out: dict[str, list] = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        out.setdefault(g.get() if g.isDefined() else "", []).append(j)
    return out


def _epoch_s(jdate) -> float:
    return jdate.getTime() / 1000.0


def job_metrics(spark, jobs) -> dict:
    """Summed stage metrics of ``jobs`` plus each job's wall interval."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tot = dict.fromkeys(STAGE_FIELDS, 0)
    tot["jobs"] = len(jobs)
    tot["intervals"] = []
    for j in jobs:
        sub, done = j.submissionTime(), j.completionTime()
        if sub.isDefined() and done.isDefined():
            tot["intervals"].append((_epoch_s(sub.get()), _epoch_s(done.get())))
        stage_ids = j.stageIds()
        for k in range(stage_ids.size()):
            try:
                sd = store.lastStageAttempt(stage_ids.apply(k))
            except Exception:  # a skipped stage may have no attempt
                continue
            for key, attr in STAGE_FIELDS.items():
                tot[key] += int(getattr(sd, attr)())
    return tot


def add_metrics(a: dict, b: dict) -> dict:
    return {k: a[k] + b[k] for k in a}


def plan_phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) from the DataFrame's QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


def count_exchanges(plan_text: str) -> int:
    return sum(1 for line in plan_text.splitlines() if "Exchange" in line)
