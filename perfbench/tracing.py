"""Spans and per-layer counts for the traced run mode.

Spans are kept in memory and written when the run ends. Each span has
a kind (``operation``, ``build``, ``execute``, ``catalyst.<phase>``,
``microbatch``, ``job``, ``stage``), a start and end in epoch seconds,
the id of the span that caused it, and the operation id shared by all
spans of one operation (``<workload>/<seed>/<key>/<rep>``).

Sources, all read from the benchmark's side of the API:

- ``build`` and ``execute`` wrap the benchmark's own calls;
- Catalyst phases come from ``QueryExecution.tracker().phases()``:
  the built DataFrame's own tracker, and every further query execution
  through a ``QueryExecutionListener``;
- jobs, stages and task metrics come from a Spark event log attached
  for the traced phase only and parsed after it;
- micro-batches and state-store counts come from a
  ``StreamingQueryListener``.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

from metrics import ROCKSDB

#: RocksDB metrics that are sizes, so the max over batches, not a sum.
ROCKSDB_GAUGES = {"rocksdbSstFileSize", "rocksdbPinnedBlocksMemoryUsage"}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    op: str
    parent: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(children.get(s.id, ()), s.start, s.end)
        for s in spans
    }


class Tracer:
    """In-memory span store for one run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name, start, end, op, parent=None, **attrs) -> Span:
        span = Span(len(self.spans), name, start, end, op, parent, attrs)
        self.spans.append(span)
        return span

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": s.id,
                        "name": s.name,
                        "start": s.start,
                        "end": s.end,
                        "self_s": st[s.id],
                        "op": s.op,
                        "parent": s.parent,
                        **({"attrs": s.attrs} if s.attrs else {}),
                    }
                    for s in self.spans
                ],
                f,
            )


# --- Catalyst phases -------------------------------------------------------

_PHASE_RE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")


def parse_phases(text: str) -> list[tuple[str, float, float]]:
    """(phase, start_s, end_s) from a ``tracker().phases()`` string."""
    return [
        (name, int(a) / 1000.0, int(b) / 1000.0)
        for name, a, b in _PHASE_RE.findall(text)
    ]


class QueryExecutionRecorder:
    """py4j ``QueryExecutionListener``: phases of every finished query.

    Callbacks arrive on Spark's listener bus thread, after the action
    that ran the query has returned.
    """

    def __init__(self) -> None:
        self.phases: list[tuple[str, float, float]] = []
        self._lock = threading.Lock()

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (Java API)
        self._record(qe)

    def onFailure(self, funcName, qe, exception):  # noqa: N802 (Java API)
        self._record(qe)

    def _record(self, qe) -> None:
        phases = parse_phases(qe.tracker().phases().toString())
        with self._lock:
            self.phases.extend(phases)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class ProgressRecorder(StreamingQueryListener):
    """Collects every micro-batch progress."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (pyspark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def iso_to_epoch(s: str) -> float:
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


# --- event log ---------------------------------------------------------------

PYTHON_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.total_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "number of output rows": "python.rows_received",
}


def _python_accumulators(plan: dict, out: dict[int, tuple[str, float]]) -> None:
    """accumulatorId -> (metric, scale) for every Python-evaluating node."""
    metrics = plan.get("metrics", [])
    if any(m["name"] == "time to run Python workers" for m in metrics):
        for m in metrics:
            name = PYTHON_METRICS.get(m["name"])
            if name:
                scale = 1e-6 if m.get("metricType") == "nsTiming" else 1.0
                out[int(m["accumulatorId"])] = (name, scale)
    for child in plan.get("children", []):
        _python_accumulators(child, out)


@dataclass
class EventLog:
    jobs: dict[int, dict]
    stages: dict[tuple[int, int], dict]


def read_event_log(path: str) -> EventLog:
    """Jobs, completed stage attempts and per-stage task totals."""
    py_acc: dict[int, tuple[str, float]] = {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[tuple[int, int], dict] = {}

    def stage(sid: int, att: int) -> dict:
        return stages.setdefault(
            (sid, att),
            {"job": stage_job.get(sid), "start": None, "end": None, "m": {}},
        )

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerTaskEnd":
                m = stage(ev["Stage ID"], ev["Stage Attempt ID"])["m"]
                _add_task(m, ev, py_acc)
            elif kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stage(info["Stage ID"], info["Stage Attempt ID"])
                st["job"] = stage_job.get(info["Stage ID"])
                if info.get("Submission Time") and info.get("Completion Time"):
                    st["start"] = info["Submission Time"] / 1000.0
                    st["end"] = info["Completion Time"] / 1000.0
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)
    return EventLog(jobs, stages)


def _add_task(m: dict, ev: dict, py_acc: dict) -> None:
    def add(name, v):
        m[name] = m.get(name, 0) + v

    info = ev.get("Task Info", {})
    add("exec.tasks", 1)
    if info.get("Attempt", 0) > 0:
        add("exec.task_retries", 1)
    tm = ev.get("Task Metrics") or {}
    add("exec.run_ms", tm.get("Executor Run Time", 0))
    add("exec.cpu_ms", tm.get("Executor CPU Time", 0) / 1e6)
    add("exec.gc_ms", tm.get("JVM GC Time", 0))
    inp = tm.get("Input Metrics", {})
    add("scan.bytes", inp.get("Bytes Read", 0))
    add("scan.records", inp.get("Records Read", 0))
    sr = tm.get("Shuffle Read Metrics", {})
    add("shuffle.read_bytes", sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
    add("shuffle.fetch_wait_ms", sr.get("Fetch Wait Time", 0))
    sw = tm.get("Shuffle Write Metrics", {})
    add("shuffle.write_bytes", sw.get("Shuffle Bytes Written", 0))
    add("shuffle.write_ms", sw.get("Shuffle Write Time", 0) / 1e6)
    add("shuffle.records", sw.get("Shuffle Records Written", 0))
    add("spill.memory_bytes", tm.get("Memory Bytes Spilled", 0))
    add("spill.disk_bytes", tm.get("Disk Bytes Spilled", 0))
    for acc in info.get("Accumulables", []):
        hit = py_acc.get(int(acc.get("ID", -1)))
        if hit and "Update" in acc:
            try:
                add(hit[0], float(acc["Update"]) * hit[1])
            except (TypeError, ValueError):
                pass


def find_event_log(directory: str) -> str:
    names = [n for n in os.listdir(directory) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}: {names}")
    return os.path.join(directory, names[0])


# --- per-operation layer metrics ----------------------------------------------

STREAM_DURATIONS = {
    "addBatch": "microbatch.add_batch_ms",
    "queryPlanning": "microbatch.query_planning_ms",
    "walCommit": "microbatch.wal_commit_ms",
    "commitOffsets": "microbatch.commit_offsets_ms",
    "latestOffset": "microbatch.latest_offset_ms",
}

STATE_FIELDS = {
    "numRowsUpdated": "state.rows_updated",
    "numRowsRemoved": "state.rows_removed",
    "allUpdatesTimeMs": "state.update_ms",
    "allRemovalsTimeMs": "state.remove_ms",
    "commitTimeMs": "state.commit_ms",
    "numRowsDroppedByWatermark": "state.rows_dropped_late",
}

def progress_metrics(batches: list[dict]) -> dict[str, float]:
    """microbatch / state / sink counts of one query's progress list."""
    m: dict[str, float] = {"microbatch.count": len(batches)}
    max_event = watermark = None
    for p in batches:
        for k, name in STREAM_DURATIONS.items():
            m[name] = m.get(name, 0) + p.get("durationMs", {}).get(k, 0)
        et = p.get("eventTime") or {}
        if et.get("max"):
            t = iso_to_epoch(et["max"])
            max_event = t if max_event is None else max(max_event, t)
        if et.get("watermark"):
            watermark = iso_to_epoch(et["watermark"])
        m["sink.rows"] = m.get("sink.rows", 0) + (p.get("sink") or {}).get(
            "numOutputRows", 0
        )
        for op in p.get("stateOperators") or []:
            for k, name in STATE_FIELDS.items():
                m[name] = m.get(name, 0) + op.get(k, 0)
            m["state.rows_total"] = max(m.get("state.rows_total", 0), op.get("numRowsTotal", 0))
            m["state.memory_bytes"] = max(
                m.get("state.memory_bytes", 0), op.get("memoryUsedBytes", 0)
            )
            custom = op.get("customMetrics") or {}
            for k in ROCKSDB:
                name = f"state.rocksdb.{k}"
                v = custom.get(k, 0)
                m[name] = max(m.get(name, 0), v) if k in ROCKSDB_GAUGES else m.get(name, 0) + v
    if max_event is not None and watermark is not None:
        m["microbatch.watermark_lag_ms"] = (max_event - watermark) * 1000.0
    return m


def attach_jobs(
    tracer: Tracer, log: EventLog, ops: list[Span]
) -> dict[int, dict[str, float]]:
    """Add job and stage spans under their operation; per-op task totals.

    A job joins the operation whose id is its job group; a job whose
    group names no operation (the streaming engine sets its own) joins
    the operation whose interval holds its submission time, which is
    exact because operations never overlap. Within the operation the
    job's parent is the innermost span that contains its submission
    time (``build``, ``microbatch``, ``execute``), else the operation.
    """
    by_id = {s.op: s for s in ops}
    per_op: dict[int, dict[str, float]] = {s.id: {} for s in ops}
    kids: dict[str, list[Span]] = {}
    for s in tracer.spans:
        if s.name in ("build", "execute", "microbatch"):
            kids.setdefault(s.op, []).append(s)
    job_span: dict[int, Span] = {}
    for jid, job in sorted(log.jobs.items()):
        if job["end"] is None:
            continue
        op = by_id.get(job["group"])
        if op is None:
            op = next((s for s in ops if s.start <= job["start"] <= s.end), None)
        if op is None:
            continue
        holders = [
            k for k in kids.get(op.op, ()) if k.start <= job["start"] <= k.end
        ]
        parent = min(holders, key=lambda k: k.duration) if holders else op
        js = tracer.add("job", job["start"], job["end"], op.op, parent.id, job=jid)
        job_span[jid] = js
        m = per_op[op.id]
        m["exec.jobs"] = m.get("exec.jobs", 0) + 1
        if parent.name == "build":
            m["build.jobs"] = m.get("build.jobs", 0) + 1
    for (sid, att), st in sorted(log.stages.items()):
        js = job_span.get(st["job"])
        if js is None:
            continue
        if st["start"] is not None:
            tracer.add("stage", st["start"], st["end"], js.op, js.id, stage=sid, attempt=att)
        m = per_op[by_id[js.op].id]
        m["exec.stages"] = m.get("exec.stages", 0) + 1
        for k, v in st["m"].items():
            m[k] = m.get(k, 0) + v
    return per_op


def op_layers(
    spans: list[Span], st: dict[int, float], op: Span, counts: dict
) -> dict[str, float]:
    """Additive per-layer numbers of one operation: its task totals,
    span self times by kind, Catalyst phase times and the build split."""
    mine = [s for s in spans if s.op == op.op]
    m = dict(counts)
    for s in mine:
        kind = s.name.split(".")[0]
        m[f"span.{kind}.self_s"] = m.get(f"span.{kind}.self_s", 0.0) + st[s.id]
        if kind == "catalyst":
            m[f"{s.name}_ms"] = m.get(f"{s.name}_ms", 0.0) + s.duration * 1000.0
    for b in (s for s in mine if s.name == "build"):
        m["build.self_s"] = st[b.id]
        jobs = [(s.start, s.end) for s in mine if s.name == "job" and s.parent == b.id]
        m["build.jobs_s"] = covered(jobs, b.start, b.end)
    m["exec.busy_span_s"] = (
        sum(s.duration for s in mine if s.name == "execute") or op.duration
    )
    return m


def pass_totals(per_key_ops: dict[str, list[dict[str, float]]]) -> dict[str, float]:
    """Per-pass layer totals: each key's mean over its operations, summed."""
    out: dict[str, float] = {}
    for ops in per_key_ops.values():
        names = {n for o in ops for n in o}
        for n in names:
            out[n] = out.get(n, 0.0) + statistics.fmean(o.get(n, 0.0) for o in ops)
    return out


class TracedPhase:
    """Tracing switched on around single operations of a running session.

    ``begin`` attaches a fresh event log listener, the query-execution
    listener and the streaming listener; ``end`` waits until Spark's
    listener bus has delivered the operation's events, then detaches
    them again. Operations between a ``end`` and the next ``begin`` run
    untraced, so a traced run can alternate traced and untraced
    executions of the same key. ``finish`` parses the event logs and
    returns the per-operation layer numbers, keyed by workload key.
    """

    def __init__(self, spark, log_dir: str) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.log_dir = log_dir
        self.tracer = Tracer()
        self.ops: list[Span] = []
        self.unattributed: list[float] = []
        self._logs: dict[int, str] = {}
        self._build_phases: dict[int, str] = {}
        sc = spark.sparkContext
        self._jvm, self._jsc = sc._jvm, sc._jsc.sc()
        ensure_callback_server_started(sc._gateway)
        self.qe = QueryExecutionRecorder()
        # one Java proxy for the recorder, so unregister finds what register added
        self._jqe = self._jvm.java.util.Collections.singletonList(self.qe).get(0)
        self.progress = ProgressRecorder()
        self._elog = None
        self._dir = None

    def begin(self, op_id: str) -> None:
        from pathlib import Path

        sc = self.spark.sparkContext
        self._dir = os.path.join(self.log_dir, f"op{len(self.ops)}")
        os.makedirs(self._dir)
        self._elog = self._jvm.org.apache.spark.scheduler.EventLoggingListener(
            sc.applicationId,
            self._jvm.scala.Option.apply(None),
            self._jvm.java.net.URI(Path(self._dir).as_uri()),
            self._jsc.conf(),
            sc._jsc.hadoopConfiguration(),
        )
        self._elog.start()
        self._jsc.addSparkListener(self._elog)
        self.spark._jsparkSession.listenerManager().register(self._jqe)
        self.spark.streams.addListener(self.progress)
        sc.setJobGroup(op_id, op_id)

    def end(self, op_id: str, key: str, t0: float, t1: float) -> Span:
        self.spark.sparkContext.setJobGroup("perfbench-untimed", "untimed")
        self._jsc.listenerBus().waitUntilEmpty()  # the op's events are delivered
        self._jsc.removeSparkListener(self._elog)
        self._elog.stop()
        self.spark._jsparkSession.listenerManager().unregister(self._jqe)
        self.spark.streams.removeListener(self.progress)
        op = self.tracer.add("operation", t0, t1, op_id, key=key)
        self.ops.append(op)
        self._logs[op.id] = self._dir
        return op

    def batch_op(self, op: Span, build_end: float, df) -> None:
        """build and execute spans of a batch operation; the built
        DataFrame's own tracker holds its parsing and analysis."""
        self.tracer.add("build", op.start, build_end, op.op, op.id)
        self.tracer.add("execute", build_end, op.end, op.op, op.id)
        self._build_phases[op.id] = df._jdf.queryExecution().tracker().phases().toString()

    def finish(self, streaming: bool) -> dict[str, list[dict[str, float]]]:
        progress_by_op: dict[int, list[dict]] = {}
        if streaming:
            for op in self.ops:
                mine = [
                    p for p in self.progress.progress
                    if op.start <= iso_to_epoch(p["timestamp"]) <= op.end
                ]
                progress_by_op[op.id] = mine
                for p in mine:
                    a = iso_to_epoch(p["timestamp"])
                    b = a + p.get("durationMs", {}).get("triggerExecution", 0) / 1000.0
                    self.tracer.add("microbatch", a, b, op.op, op.id, batch=p.get("batchId"))
        phases = set(self.qe.phases)
        for text in self._build_phases.values():
            phases.update(parse_phases(text))
        kids: dict[str, list[Span]] = {}
        for s in self.tracer.spans:
            if s.name in ("build", "execute", "microbatch"):
                kids.setdefault(s.op, []).append(s)
        for op in self.ops:
            for name, a, b in sorted(phases):
                if op.start - 0.001 <= a <= op.end:
                    holder = next(
                        (k for k in kids.get(op.op, ()) if k.start - 0.001 <= a <= k.end),
                        op,
                    )
                    self.tracer.add(f"catalyst.{name}", a, max(a, b), op.op, holder.id)
        counts: dict[int, dict[str, float]] = {}
        for op in self.ops:
            log = read_event_log(find_event_log(self._logs[op.id]))
            counts.update(attach_jobs(self.tracer, log, [op]))
        st = self_times(self.tracer.spans)
        per_key: dict[str, list[dict[str, float]]] = {}
        for op in self.ops:
            m = op_layers(self.tracer.spans, st, op, counts[op.id])
            if streaming:
                m.update(progress_metrics(progress_by_op[op.id]))
            per_key.setdefault(op.attrs["key"], []).append(m)
            self.unattributed.append(st[op.id] / op.duration)
        return per_key
