"""Layered benchmark of the engine: one client, closed loop, warm.

    python3 perfbench/run.py --workload {knob_stream,build_bound}
        --seed N --seconds S --trace {0,1}

Inputs are generated from the seed and staged inside this checkout. A run
sets up the session and inputs several times (``setup_s`` is the median),
warms up until two consecutive warm-up segments agree, measures for
``--seconds``, checks every output, and prints one JSON object as its last
line: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The run record (ramp, sample counts, box canary, spans)
goes to ``perfbench/out/``. perfbench/README.md defines every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Two cores for Spark's tasks leave the rest of a 4-core box to the JIT
# compiler, GC, the status listener and the client, which otherwise
# compete with the measured work.
CPUS = min(2, os.cpu_count() or 1)
SF = 0.001
# A warm stream set-up takes about 0.1 s, so it is repeated more often; a
# batch one writes and registers ten tables and takes over a second.
SETUP_REPS = {"knob_stream": 9, "build_bound": 5}
WARMUP_TOL = 0.10  # two consecutive warm-up segments within 10%: plateau
# Warm-up is counted in segments of work (a pass over the query list, or
# TRIGGERS_PER_SEGMENT triggers), not seconds, so a run that reaches no
# plateau stops at the same point of the JIT ramp whatever the box speed.
WARMUP_SEGMENTS = {"knob_stream": (4, 6), "build_bound": (4, 5)}  # (min, max)
TRIGGERS_PER_SEGMENT = 5
FEED_LEAD = 3  # knob files published ahead of the stream
KNOB_FILES, KNOB_AMPLITUDE, KNOB_SPAN_S = 200, 5000, 2.0
WORKLOADS = tuple(WARMUP_SEGMENTS)

E2E = {"setup_s": "s", "op_ms": "ms", "work_per_s": "1/s"}
PER_LAYER = {
    "session.start_s": "s",
    "operators.build_ms": "ms",
    "operators.build_jobs": "count",
    "operators.build_share": "ratio",
    "operators.persisted_rdds_delta": "count",
    "operators.cached_bytes": "bytes",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "plan.exchanges": "count",
    "exec.ms": "ms",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.cpu_util": "ratio",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "io.input_bytes": "bytes",
    "io.input_rows": "count",
    "sources.input_rows": "count",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.fanned_rows": "count",
    "streaming.tasks_per_trigger": "count",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.late_rows_dropped": "count",
    "sinks.call_ms": "ms",
    "sinks.self_ms": "ms",
    "sinks.call_share": "ratio",
    "sinks.jobs": "count",
    "sinks.pushes": "count",
    "sinks.skipped_unchanged": "count",
    "sinks.retries": "count",
    "trace.overhead_frac": "ratio",
}


def canary() -> float:
    """Fixed pure-Python work, timed: how fast this box is right now."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def p90(xs):
    return sorted(xs)[int(0.9 * len(xs))]


def plateau(ramp: list[float]) -> bool:
    return len(ramp) >= 2 and abs(ramp[-1] - ramp[-2]) <= WARMUP_TOL * ramp[-2]


def warm(workload: str, ramp: list[float]) -> bool:
    """Warm-up is over: a plateau after the minimum, or the maximum."""
    lo, hi = WARMUP_SEGMENTS[workload]
    return len(ramp) >= hi or (len(ramp) >= lo and plateau(ramp))


def session(work: str, trace: bool):
    from pubsub_mapreduce_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if trace:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark(
        app_name="perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup(work: str, trace: bool, stage, rec: dict, reps: int):
    """Session start plus staging, ``reps`` times; the last session is
    kept. The first start also launches the JVM."""
    total, start = [], []
    spark = staged = None
    for i in range(reps):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = session(work, trace)
        t1 = time.perf_counter()
        staged = stage(spark, os.path.join(work, f"inputs{i}"))
        total.append(time.perf_counter() - t0)
        start.append(t1 - t0)
    rec["setup_s"], rec["session_start_s"] = total, start
    return spark, staged


# --- batch -----------------------------------------------------------------


def run_batch(args, work: str, rec: dict) -> dict:
    import __spark_entry__ as entry
    from batch import BUILD_BOUND, BatchRun
    from inputs import batch_tables, write_tables
    from layers import Tracer, persisted_rdds, tree_cpu_s
    from pubsub_mapreduce_spark.io import load_tables
    from oracle_check import compare, duck_con

    tables = batch_tables(args.seed, SF)

    def stage(spark, sf_dir):
        write_tables(tables, sf_dir)
        load_tables(spark, sf_dir)
        return sf_dir

    spark, sf_dir = setup(work, args.trace, stage, rec, SETUP_REPS[args.workload])
    rec["persisted_rdds_start"] = persisted_rdds(spark)
    names = BUILD_BOUND
    rec["queries"] = names
    tracer = Tracer(False)
    run = BatchRun(spark, entry.queries(), names, sf_dir, tracer)

    ramp: list[float] = []
    per_pass = []
    while not warm(args.workload, ramp):
        wall, per = run.one_pass(f"w{len(ramp)}")
        ramp.append(wall)
        per_pass.append(dict(per))
    rec["warmup"] = {"unit": "pass", "segments_s": ramp, "plateau": plateau(ramp),
                     "query_s": per_pass}

    def timed(prefix: str) -> dict:
        passes, per_query, by_name = [], [], {}
        t0, cpu0 = time.perf_counter(), tree_cpu_s(os.getpid())
        while not passes or time.perf_counter() - t0 < args.seconds:
            wall, per = run.one_pass(f"{prefix}{len(passes)}")
            passes.append(wall)
            per_query += [s for _, s in per]
            for name, s in per:
                by_name.setdefault(name, []).append(s)
        return {
            "query_s": by_name,
            "query_ms_geomean": 1000 * statistics.geometric_mean(
                [statistics.median(v) for v in by_name.values()]
            ),
            "cpu_ms_per_op": (tree_cpu_s(os.getpid()) - cpu0) * 1000 / len(per_query),
            "pass_s": statistics.median(passes),
            "passes": len(passes),
            "query_s_p50": statistics.median(per_query),
            "query_s_p90": p90(per_query),
            "query_executions": len(per_query),
            "passes_s": passes,
        }

    if args.trace:
        tracer.enabled = True
        rec["traced"] = timed("t")
        tracer.enabled = False
    rec["untraced"] = u = timed("u")

    # outputs: each query's last execution against its DuckDB twin
    oracle, con, bad = entry.oracle_sql(), duck_con(sf_dir), {}
    for name, df in run.last_df.items():
        try:
            compare(df, con, oracle[name], name)
        except AssertionError as e:
            bad[name] = str(e)[:300]
    con.close()
    rec["check_failures"], rec["errors"] = bad, run.errors
    rec["persisted_rdds_end"] = persisted_rdds(spark)
    failed = sum(run.runs[n] if n in bad else run.errors.get(n, 0) for n in names)

    res = {
        "attempted": run.attempted,
        "failed": failed,
        "e2e": {
            "setup_s": statistics.median(rec["setup_s"]),
            "op_ms": u["query_ms_geomean"],
            "work_per_s": len(names) / u["pass_s"],
        },
    }
    if args.trace:
        t = rec["traced"]
        res["layers"] = run.layer_metrics({f"t{i}" for i in range(t["passes"])}, CPUS)
        res["layers"]["trace.overhead_frac"] = t["query_ms_geomean"] / u["query_ms_geomean"] - 1
    rec["tracer"] = tracer
    spark.stop()
    return res


# --- stream ----------------------------------------------------------------


def run_stream(args, work: str, rec: dict) -> dict:
    import stream as S
    from inputs import KnobFeeder, knob_files
    from layers import Tracer, persisted_rdds, tree_cpu_s
    from pubsub_mapreduce_spark.sources.knobs import parse_knob_messages

    files = knob_files(args.seed, KNOB_FILES, KNOB_AMPLITUDE, KNOB_SPAN_S)

    def stage(spark, in_dir):
        feeder = KnobFeeder(files, in_dir, FEED_LEAD)
        feeder.top_up(0)
        return feeder

    spark, feeder = setup(work, args.trace, stage, rec, SETUP_REPS[args.workload])
    rec["persisted_rdds_start"] = persisted_rdds(spark)
    tracer = Tracer(bool(args.trace))
    t0 = time.perf_counter()
    counts = S.build_query(spark, feeder.out_dir)
    build_ms = (time.perf_counter() - t0) * 1000
    sink, log = S.RecordingSink(), S.ProgressLog()
    spark.streams.addListener(log)

    def feed_for(seconds: float) -> None:
        end = time.time() + seconds
        while time.time() < end:
            feeder.top_up(len(S.data_triggers(log.progress)))
            time.sleep(0.05)

    q = S.start(counts, os.path.join(work, "ckpt"), sink)
    try:
        ramp: list[float] = []
        while not warm(args.workload, ramp):
            trig = S.data_triggers(log.progress)
            lo, hi = len(ramp) * TRIGGERS_PER_SEGMENT, (len(ramp) + 1) * TRIGGERS_PER_SEGMENT
            if len(trig) >= hi:
                ramp.append(S.trigger_span(trig[hi - 1])[1] - S.trigger_span(trig[lo])[0])
            else:
                feed_for(0.1)
        rec["warmup"] = {"unit": f"{TRIGGERS_PER_SEGMENT} triggers", "segments_s": ramp,
                         "plateau": plateau(ramp)}
        windows, cpu = {}, {}
        for seg in (["traced"] if args.trace else []) + ["untraced"]:
            a, c0 = time.time(), tree_cpu_s(os.getpid())
            feed_for(args.seconds)
            windows[seg], cpu[seg] = (a, a + args.seconds), tree_cpu_s(os.getpid()) - c0
        # publish nothing more; stop once the last files are drained
        S.await_idle(q, log, feeder.published)
    finally:
        q.stop()
        spark.streams.removeListener(log)
    if q.exception() is not None:
        raise RuntimeError(f"stream query failed: {q.exception()}")

    trig = S.data_triggers(q.recentProgress)
    published = files[: feeder.published]
    problems = S.check(trig, published, sink)
    if len(trig) != len(published):
        problems.append(f"{len(published)} files published, {len(trig)} triggers read one")
    # poison: parsing the published files keeps exactly their non-poison lines
    kept = parse_knob_messages(spark.read.text(feeder.out_dir)).count()
    want = sum(len(f.lines) - f.poison for f in published)
    if kept != want:
        problems.append(f"parse kept {kept} lines, expected {want}")
    rec["check_failures"] = problems
    rec["persisted_rdds_end"] = persisted_rdds(spark)
    rec["files_published"] = feeder.published

    for seg, (a, b) in windows.items():
        sel = [(k, p) for k, p in enumerate(trig) if a <= S.start_s(p) < b]
        if not sel:
            raise RuntimeError(f"no trigger started in the {seg} window")
        te = [p["durationMs"]["triggerExecution"] for _, p in sel]
        wall = S.trigger_span(sel[-1][1])[1] - S.trigger_span(sel[0][1])[0]
        rec[seg] = {
            "cpu_ms_per_op": cpu[seg] * 1000 / len(sel),
            "triggers": len(sel),
            "trigger_ms_p50": statistics.median(te),
            "trigger_ms_p90": p90(te),
            "trigger_ms": te,
            "phase_ms_p50": {ph: statistics.median(p["durationMs"].get(ph, 0) for _, p in sel)
                             for ph in S.PHASES},
            "msgs_per_s": sum(files[k].fanned for k, _ in sel) / wall,
            "wall_s": wall,
            "batch_ids": [p["batchId"] for _, p in sel],
        }
    u = rec["untraced"]
    res = {
        "attempted": len(trig),
        "failed": len(problems),
        "e2e": {
            "setup_s": statistics.median(rec["setup_s"]),
            "op_ms": u["trigger_ms_p50"],
            "work_per_s": u["msgs_per_s"],
        },
    }
    if args.trace:
        t = rec["traced"]
        res["layers"] = S.layer_metrics(spark, trig, set(t["batch_ids"]), sink, files, tracer, CPUS)
        res["layers"]["operators.build_ms"] = build_ms
        res["layers"]["trace.overhead_frac"] = t["trigger_ms_p50"] / u["trigger_ms_p50"] - 1
    rec["tracer"] = tracer
    spark.stop()
    return res


# --- processes -------------------------------------------------------------


def adopt_orphans() -> None:
    """Make this process the child subreaper (Linux prctl 36), so that
    descendants whose parent ends (Python workers of a stopped JVM) are
    re-parented here and can be signalled and waited for."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_processes(grace_s: float = 20.0) -> None:
    """Stop the Spark JVM and every process started under this one, and
    wait until each has ended. The JVM exits on EOF on its stdin; what is
    still alive after ``grace_s`` is killed."""
    from layers import process_tree
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception as e:  # the JVM may already be gone
            print(f"perfbench: stopping Spark: {e}", file=sys.stderr)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(grace_s)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    me, deadline = os.getpid(), time.monotonic() + grace_s
    while True:
        left = {pid: state for pid, (state, _) in process_tree(me).items() if pid != me}
        if not left:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid, state in left.items():
            if state != "Z":
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.05)


def on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


# --- main ------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    try:  # the engine lives beside the benchmark; without it there is nothing to run
        import duckdb
        import pyspark

        import __spark_entry__  # noqa: F401
        import oracle_check  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)

    rec = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": CPUS,
        "nproc": os.cpu_count(),
        "sf": SF,
        "sf_dir": "generated from the seed (perfbench/inputs.py)",
        "versions": {"pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
                     "python": sys.version.split()[0]},
        "canary_before_s": canary(),
    }
    t_run = time.perf_counter()
    adopt_orphans()
    signal.signal(signal.SIGTERM, on_sigterm)
    try:
        runner = run_stream if args.workload == "knob_stream" else run_batch
        res = runner(args, work, rec)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    rec["canary_after_s"] = canary()
    rec["run_s"] = time.perf_counter() - t_run

    tracer = rec.pop("tracer")
    attempted, failed = res["attempted"], res["failed"]
    rec["attempted"], rec["failed"] = attempted, failed
    rec["failed_frac"] = failed / attempted if attempted else 1.0
    rec["e2e"] = res["e2e"]
    if args.trace:
        layers = dict.fromkeys(PER_LAYER, 0)
        layers.update(res["layers"])
        layers["session.start_s"] = statistics.median(rec["session_start_s"])
        rec["layers"] = layers
        rec["self_times"] = tracer.self_times()
        rec["spans"] = tracer.spans
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E.items()}

    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(rec, fh, indent=1, default=str)

    report(rec)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def report(rec: dict) -> None:
    """Human-readable lines before the result: every metric with its unit
    and sample count, plus the workload's own figures."""
    w, u, e = rec["workload"], rec["untraced"], rec["e2e"]
    wu = rec["warmup"]
    if w == "knob_stream":
        n, extra = u["triggers"], [
            f"# msgs_per_s {u['msgs_per_s']:.1f} 1/s (n={u['triggers']} triggers)",
            f"# trigger_ms_p50 {u['trigger_ms_p50']:.1f} ms (n={u['triggers']})",
            f"# trigger_ms_p90 {u['trigger_ms_p90']} ms (n={u['triggers']}, "
            f"{u['triggers'] - int(0.9 * u['triggers']) - 1} beyond it: "
            "below the ten needed, not gated)",
        ]
    else:
        n, extra = u["query_executions"], [
            f"# pass_s {u['pass_s']:.3f} s (n={u['passes']} passes)",
            f"# query_s_p50 {u['query_s_p50']:.3f} s (n={u['query_executions']})",
        ]
    lines = [
        f"# {w} seed={rec['seed']} cpus={rec['cpus']} sf={rec['sf']} "
        f"warmup={len(wu['segments_s'])} x {wu['unit']} plateau={wu['plateau']}",
        f"# setup_s {e['setup_s']:.3f} s (n={len(rec['setup_s'])})",
        f"# op_ms {e['op_ms']:.1f} ms (n={n})",
        f"# work_per_s {e['work_per_s']:.3f} 1/s (n={n})",
        f"# cpu_ms_per_op {u['cpu_ms_per_op']:.1f} ms (n={n}; client + JVM + workers, not gated)",
        *extra,
        f"# failed_frac {rec['failed_frac']:.4f} ({rec['failed']}/{rec['attempted']})",
    ]
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    sys.exit(main())
