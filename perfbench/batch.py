"""Batch workloads: closed-loop passes over a fixed query list.

A pass runs, for each query in order, the three steps of bench.force:
build (``queries()[name](spark, sf_dir)``, the Python construction
including every Spark job it fires), plan (the QueryExecution's executed
plan) and execute (a ``noop`` write). One client, one query at a time.
"""

from __future__ import annotations

import statistics
import time

from layers import (
    add_metrics,
    cached_bytes,
    count_exchanges,
    drain_listeners,
    job_metrics,
    jobs_by_group,
    persisted_rdds,
    plan_phases,
)

# The build_bound workload: most wall time is Spark jobs fired while the
# DataFrame is constructed (iterative PageRank, k-means and k-core loops).
BUILD_BOUND = ["event_pagerank", "emb_kmeans", "part_kcore"]


class BatchRun:
    def __init__(self, spark, queries, names, sf_dir, tracer):
        self.spark, self.queries, self.names = spark, queries, names
        self.sf_dir, self.tracer = sf_dir, tracer
        self.attempted = 0
        self.errors: dict[str, int] = {}
        self.runs: dict[str, int] = {}
        self.last_df: dict = {}
        self.execs: list[dict] = []  # traced query executions

    def _group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    def one_pass(self, tag: str) -> tuple[float, list[tuple[str, float]]]:
        """Wall time of the pass and (query, wall time) of each execution."""
        per_query = []
        traced = self.tracer.enabled
        t_pass = time.perf_counter()
        for name in self.names:
            self.attempted += 1
            self.runs[name] = self.runs.get(name, 0) + 1
            rec = {"tag": tag, "query": name}
            t0 = time.perf_counter()
            try:
                with self.tracer.span("query", query=name, tag=tag) as q:
                    if traced:
                        rec["span"], rec["rdds_before"] = q, persisted_rdds(self.spark)
                    with self.tracer.span("build") as s:
                        if traced:
                            rec["build"] = s
                            self._group(f"{tag}:{name}:build")
                        df = self.queries[name](self.spark, self.sf_dir)
                    with self.tracer.span("plan"):
                        plan = df._jdf.queryExecution().executedPlan()
                    with self.tracer.span("exec") as s:
                        if traced:
                            rec["exec"] = s
                            self._group(f"{tag}:{name}:exec")
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # one failed query must not end the run
                self.errors[name] = self.errors.get(name, 0) + 1
                print(f"# {name} raised {type(e).__name__}: {e}"[:300], flush=True)
                continue
            per_query.append((name, time.perf_counter() - t0))
            self.last_df[name] = df
            if traced:
                self._group("bench:idle")
                rec["phases"] = plan_phases(df)
                rec["exchanges"] = count_exchanges(plan.toString())
                rec["rdds_after"] = persisted_rdds(self.spark)
                rec["cached_bytes"] = cached_bytes(self.spark)
                self.execs.append(rec)
        return time.perf_counter() - t_pass, per_query

    def layer_metrics(self, timed_tags: set[str], cpus: int) -> dict:
        """Per-layer numbers: medians or means per timed query execution."""
        drain_listeners(self.spark)
        jobs = jobs_by_group(self.spark)
        execs = [r for r in self.execs if r["tag"] in timed_tags]
        n = max(1, len(execs))
        ms = lambda s: (s["end"] - s["start"]) * 1000  # noqa: E731
        build_jobs, exe, io = 0, None, {"input_bytes": 0, "input_rows": 0}
        for r in execs:
            for phase in ("build", "exec"):
                m = job_metrics(self.spark, jobs.get(f"{r['tag']}:{r['query']}:{phase}", []))
                for a, b in m.pop("intervals"):
                    self.tracer.add(f"{phase}.job", a, b, parent=r[phase]["id"])
                io = {k: io[k] + m[k] for k in io}
                if phase == "build":
                    build_jobs += m["jobs"]
                else:
                    exe = m if exe is None else add_metrics(exe, m)
        build_ms = [ms(r["build"]) for r in execs]
        exec_ms = [ms(r["exec"]) for r in execs]
        total_ms = sum(ms(r["span"]) for r in execs)
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        return {
            "operators.build_ms": med(build_ms),
            "operators.build_jobs": build_jobs / n,
            "operators.build_share": sum(build_ms) / total_ms if total_ms else 0.0,
            "operators.persisted_rdds_delta": sum(r["rdds_after"] - r["rdds_before"] for r in execs) / n,
            "operators.cached_bytes": max((r["cached_bytes"] for r in execs), default=0),
            "plan.analysis_ms": med([r["phases"]["analysis"] for r in execs]),
            "plan.optimization_ms": med([r["phases"]["optimization"] for r in execs]),
            "plan.planning_ms": med([r["phases"]["planning"] for r in execs]),
            "plan.exchanges": sum(r["exchanges"] for r in execs) / n,
            "exec.ms": med(exec_ms),
            "exec.jobs": exe["jobs"] / n,
            "exec.tasks": exe["tasks"] / n,
            "exec.run_ms": exe["run_ms"] / n,
            "exec.cpu_ms": exe["cpu_ns"] / 1e6 / n,
            "exec.gc_ms": exe["gc_ms"] / n,
            "exec.cpu_util": exe["cpu_ns"] / 1e6 / (sum(exec_ms) * cpus),
            "exec.shuffle_read_bytes": exe["shuffle_read_bytes"] / n,
            "exec.shuffle_write_bytes": exe["shuffle_write_bytes"] / n,
            "exec.spill_bytes": exe["spill_bytes"] / n,
            "io.input_bytes": io["input_bytes"] / n,
            "io.input_rows": io["input_rows"] / n,
        }
