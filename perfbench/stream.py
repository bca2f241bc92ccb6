"""The knob stream: the reference topology as one Structured Streaming
query, reading one published knob file per trigger from a backlog the
benchmark keeps a few files ahead.

parse_knob_messages -> snapshot_scale_stream -> fan_out_stream ->
windowed_count_stream -> foreachBatch(DeviceConfigSink), update mode,
checkpointed. The sink is wrapped so each call and each push is timed
and recorded; the wrapper adds no Spark work.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import re
import statistics
import time

from pyspark.sql.streaming import StreamingQueryListener

from pubsub_mapreduce_spark.sources.knobs import parse_knob_messages
from pubsub_mapreduce_spark.streaming.pipeline import (
    fan_out_stream,
    snapshot_scale_stream,
    windowed_count_stream,
)
from pubsub_mapreduce_spark.streaming.sinks import DeviceConfigSink

from layers import add_metrics, drain_listeners, job_metrics, jobs_by_group

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


class RecordingSink:
    """Wraps DeviceConfigSink: times each call, records each push attempt
    with the batch it belongs to."""

    def __init__(self):
        self.calls: dict[int, tuple[float, float]] = {}
        self.pushes: dict[int, str] = {}
        self.attempts = 0
        self._batch = -1
        self.sink = DeviceConfigSink(self._push)

    def _push(self, payload: str) -> None:
        self.attempts += 1
        self.pushes[self._batch] = payload

    def __call__(self, batch_df, batch_id: int) -> None:
        self._batch = batch_id
        t0 = time.time()
        self.sink(batch_df, batch_id)
        self.calls[batch_id] = (t0, time.time())


class ProgressLog(StreamingQueryListener):
    """Progress pushed by Spark after each trigger, so waiting for
    triggers needs no polling of ``recentProgress``."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def build_query(spark, in_dir: str):
    raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(in_dir)
    return windowed_count_stream(fan_out_stream(snapshot_scale_stream(parse_knob_messages(raw))))


def start(counts, ckpt_dir: str, sink: RecordingSink):
    return (
        counts.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt_dir)
        .foreachBatch(sink)
        .start()
    )


def start_s(progress: dict) -> float:
    ts = progress["timestamp"].replace("Z", "+00:00")
    return dt.datetime.fromisoformat(ts).timestamp()


def data_triggers(progress: list[dict]) -> list[dict]:
    """Completed triggers that read input, oldest first. A trigger with
    no input (a watermark-only batch) has no file and no push."""
    return [p for p in progress if p["numInputRows"] > 0]


def trigger_span(p: dict) -> tuple[float, float]:
    t0 = start_s(p)
    return t0, t0 + p["durationMs"]["triggerExecution"] / 1000.0


def decode(payload: str) -> dict:
    return json.loads(base64.b64decode(payload))


def check(triggers: list[dict], files, sink: RecordingSink) -> list[str]:
    """Trigger k read file k. Each must have read every line of its file
    (poison included) and pushed exactly the file's (window, id) counts:
    mps ordered by (id, count), total their sum. A payload equal to the
    previous one is suppressed by the sink (T8), so none is expected."""
    problems = []
    prev = None
    for k, p in enumerate(triggers):
        kf, b = files[k], p["batchId"]
        if p["numInputRows"] != len(kf.lines):
            problems.append(f"batch {b}: read {p['numInputRows']} lines, file has {len(kf.lines)}")
        want = {"mps": [c for _, c in kf.groups], "total": kf.fanned} if kf.groups else None
        got = sink.pushes.get(b)
        if want is None or want == prev:
            if got is not None:
                problems.append(f"batch {b}: unexpected push")
        elif got is None:
            problems.append(f"batch {b}: no push")
        else:
            try:
                doc = decode(got)
            except ValueError as e:
                problems.append(f"batch {b}: payload does not decode: {e}")
                continue
            if set(doc) != {"mps", "total"} or doc != want:
                problems.append(f"batch {b}: pushed {str(doc)[:120]}, expected {str(want)[:120]}")
        if want is not None:
            prev = want
    return problems


def await_idle(query, log: ProgressLog, n_files: int, timeout_s: float = 30.0) -> None:
    """Wait until all ``n_files`` published files are read and the query
    has nothing left to do, so stopping it interrupts no trigger."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if len(data_triggers(log.progress)) >= n_files:
            st = query.status
            if not st["isTriggerActive"] and not st["isDataAvailable"]:
                return
        time.sleep(0.05)
    raise RuntimeError(f"stream did not drain {n_files} files in {timeout_s}s")


BATCH_RE = re.compile(r"batch = (\d+)")


def layer_metrics(spark, triggers, batch_ids, sink, files, tracer, cpus) -> dict:
    """Per-trigger layer numbers over the given triggers. Spans: trigger
    -> its six phases; addBatch -> the sink call -> the micro-batch's
    Spark jobs, which all run inside the sink's ``collect``."""
    drain_listeners(spark)
    by_batch: dict[int, list] = {}
    for jobs in jobs_by_group(spark).values():
        for j in jobs:
            d = j.description()
            m = BATCH_RE.search(d.get()) if d.isDefined() else None
            if m:
                by_batch.setdefault(int(m.group(1)), []).append(j)
    sel = [(k, p) for k, p in enumerate(triggers) if p["batchId"] in batch_ids]
    n = len(sel)
    phase = {ph: [] for ph in PHASES}
    tot = None
    call_ms, self_ms, exec_ms, state_rows, state_mem, late = [], [], [], [], [], 0
    for k, p in sel:
        b = p["batchId"]
        t0, t1 = trigger_span(p)
        tid = tracer.add("trigger", t0, t1, batch=b, rows=p["numInputRows"], fanned=files[k].fanned)
        cursor, add_id = t0, None
        for ph in PHASES:
            d = p["durationMs"].get(ph, 0) / 1000.0
            phase[ph].append(d * 1000)
            sid = tracer.add(f"trigger.{ph}", cursor, cursor + d, parent=tid)
            add_id = sid if ph == "addBatch" else add_id
            cursor += d
        m = job_metrics(spark, by_batch.get(b, []))
        c0, c1 = sink.calls[b]
        call = tracer.add("sink.call", c0, c1, parent=add_id, jobs=m["jobs"], pushed=int(b in sink.pushes))
        covered, reach = 0.0, c0
        for a, z in sorted(m.pop("intervals")):
            tracer.add("exec.job", a, z, parent=call)
            a, z = max(a, reach), min(z, c1)
            if z > a:
                covered, reach = covered + z - a, z
        call_ms.append((c1 - c0) * 1000)
        exec_ms.append(covered * 1000)
        self_ms.append((c1 - c0 - covered) * 1000)
        tot = m if tot is None else add_metrics(tot, m)
        for op in p.get("stateOperators", []):
            state_rows.append(op["numRowsTotal"])
            state_mem.append(op["memoryUsedBytes"])
            late += op.get("numRowsDroppedByWatermark", 0)
    med = statistics.median
    trig_ms = sum(p["durationMs"]["triggerExecution"] for _, p in sel)
    pushed = sum(1 for _, p in sel if p["batchId"] in sink.pushes)
    return {
        "sources.input_rows": sum(p["numInputRows"] for _, p in sel) / n,
        "sources.latest_offset_ms": med(phase["latestOffset"]),
        "sources.get_batch_ms": med(phase["getBatch"]),
        "streaming.query_planning_ms": med(phase["queryPlanning"]),
        "streaming.add_batch_ms": med(phase["addBatch"]),
        "streaming.wal_commit_ms": med(phase["walCommit"]),
        "streaming.commit_offsets_ms": med(phase["commitOffsets"]),
        "streaming.fanned_rows": sum(files[k].fanned for k, _ in sel) / n,
        "streaming.tasks_per_trigger": tot["tasks"] / n,
        "streaming.state_rows": med(state_rows) if state_rows else 0,
        "streaming.state_mem_bytes": med(state_mem) if state_mem else 0,
        "streaming.late_rows_dropped": late,
        "sinks.call_ms": med(call_ms),
        "sinks.self_ms": med(self_ms),
        "sinks.call_share": sum(call_ms) / trig_ms if trig_ms else 0.0,
        "sinks.jobs": tot["jobs"] / n,
        "sinks.pushes": pushed,
        "sinks.skipped_unchanged": sum(1 for k, _ in sel if files[k].groups) - pushed,
        "sinks.retries": sink.attempts - len(sink.pushes),
        "exec.ms": med(exec_ms),
        "exec.jobs": tot["jobs"] / n,
        "exec.tasks": tot["tasks"] / n,
        "exec.run_ms": tot["run_ms"] / n,
        "exec.cpu_ms": tot["cpu_ns"] / 1e6 / n,
        "exec.gc_ms": tot["gc_ms"] / n,
        "exec.cpu_util": tot["cpu_ns"] / 1e6 / (sum(exec_ms) * cpus) if sum(exec_ms) else 0.0,
        "exec.shuffle_read_bytes": tot["shuffle_read_bytes"] / n,
        "exec.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
        "exec.spill_bytes": tot["spill_bytes"] / n,
        "io.input_bytes": tot["input_bytes"] / n,
        "io.input_rows": tot["input_rows"] / n,
    }
