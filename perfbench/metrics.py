"""Metric names, units and the arithmetic that turns timings into them.

``END_TO_END`` and ``PER_LAYER`` are the benchmark's metric schema: a
run with tracing off prints exactly the first, a traced run exactly
the second. BENCHMARK.json lists the same names with the same units.
"""

from __future__ import annotations

import statistics

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "events_per_s": "events/s",
    "peak_rss_mb": "MB",
}

#: Owning modules of the workloads' keys, relative to the package.
MODULES = (
    "llm.dedup",
    "llm.similarity",
    "llm.text",
    "operators.aggregations",
    "operators.cep",
    "operators.joins",
    "operators.tpch",
    "plans.skew",
    "streaming.cep_stream",
    "streaming.windows",
)

SPAN_KINDS = ("operation", "build", "execute", "catalyst", "job", "stage", "microbatch")

ROCKSDB = (
    "rocksdbBytesCopied",
    "rocksdbCommitCheckpointLatency",
    "rocksdbCommitCompactLatency",
    "rocksdbCommitFileSyncLatencyMs",
    "rocksdbCommitFlushLatency",
    "rocksdbFilesCopied",
    "rocksdbFilesReused",
    "rocksdbGetCount",
    "rocksdbPutCount",
    "rocksdbLoadLatencyMs",
    "rocksdbReadBlockCacheHitCount",
    "rocksdbReadBlockCacheMissCount",
    "rocksdbSaveZipFilesLatencyMs",
    "rocksdbSstFileSize",
    "rocksdbTotalBytesRead",
    "rocksdbTotalBytesWritten",
    "rocksdbWriterStallLatencyMs",
    "rocksdbPinnedBlocksMemoryUsage",
)

def _rocksdb_unit(name: str) -> str:
    if "Latency" in name:
        return "ms"
    if "Bytes" in name or name.endswith(("Size", "Usage")):
        return "bytes"
    return "count"


PER_LAYER = {
    "failed_ratio": "ratio",
    "trace_overhead": "ratio",
    "trace.unattributed_max_ratio": "ratio",
    "trace.ops_over_10pct": "count",
    "trace.ops": "count",
    "build.self_s": "s",
    "build.jobs": "count",
    "build.jobs_s": "s",
    "catalyst.parsing_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_retries": "count",
    "exec.task_retry_ratio": "ratio",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.busy_ratio": "ratio",
    "scan.bytes": "bytes",
    "scan.records": "count",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.records": "count",
    "shuffle.write_ms": "ms",
    "shuffle.fetch_wait_ms": "ms",
    "spill.memory_bytes": "bytes",
    "spill.disk_bytes": "bytes",
    "python.boot_ms": "ms",
    "python.init_ms": "ms",
    "python.total_ms": "ms",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "python.rows_received": "count",
    "microbatch.count": "count",
    "microbatch.add_batch_ms": "ms",
    "microbatch.query_planning_ms": "ms",
    "microbatch.wal_commit_ms": "ms",
    "microbatch.commit_offsets_ms": "ms",
    "microbatch.latest_offset_ms": "ms",
    "microbatch.watermark_lag_ms": "ms",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.rows_removed": "count",
    "state.update_ms": "ms",
    "state.remove_ms": "ms",
    "state.commit_ms": "ms",
    "state.memory_bytes": "bytes",
    "state.rows_dropped_late": "count",
    "state.dropped_late_ratio": "ratio",
    **{f"state.rocksdb.{n}": _rocksdb_unit(n) for n in ROCKSDB},
    "sink.rows": "count",
    **{f"span.{k}.self_s": "s" for k in SPAN_KINDS},
    **{f"module.{m}.wall_s": "s" for m in MODULES},
}


def percentile(values: list[float], q: float) -> float:
    """The q-th quantile (0 < q < 1), linear between order statistics."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def wall_seconds(kind: str, walls: dict[str, list[float]], passes: list[float]) -> float:
    """batch: the sum of each key's median; stream: the median pass."""
    if kind == "batch":
        return sum(statistics.median(w) for w in walls.values() if w)
    return statistics.median(passes)


def end_to_end(
    kind: str, measured: dict, setup: float, rss_mb: float, n_events: int,
    input_rows: int,
) -> dict[str, float]:
    walls = measured["walls"]
    pool = [w for ws in walls.values() for w in ws]
    wall = wall_seconds(kind, walls, measured.get("passes", []))
    if kind == "batch":
        rate = input_rows / wall
    else:
        n_keys = len(walls)
        rate = statistics.median(n_events * n_keys / p for p in measured["passes"])
    return {
        "setup_s": setup,
        "wall_s": wall,
        "query_p50_s": percentile(pool, 0.5),
        "query_p90_s": percentile(pool, 0.9),
        "events_per_s": rate,
        "peak_rss_mb": rss_mb,
    }


def per_layer(
    kind: str,
    untraced: dict,
    traced: dict,
    layers: dict[str, float],
    modules: dict[str, str],
    cores: int,
    events_per_pass: int,
    failed_ratio: float,
    unattributed: list[float],
) -> dict[str, float]:
    """Per-layer metrics of a traced run.

    ``unattributed`` is, per traced operation, the share of its wall
    that no child span covers. ``layers`` holds per-pass totals (each
    key's mean over its traced operations, summed over keys), so times
    compare with ``wall_s``.
    Module rollups are the untraced per-key medians summed by owning
    module: they add up to the untraced ``wall_s`` of the batch
    workload, and to the sum of per-key medians of a stream workload.
    """
    m = {name: 0.0 for name in PER_LAYER}
    for name, v in layers.items():
        if name in m:
            m[name] = v
    m["failed_ratio"] = failed_ratio
    m["exec.task_retry_ratio"] = (
        layers.get("exec.task_retries", 0) / layers["exec.tasks"]
        if layers.get("exec.tasks") else 0.0
    )
    busy = layers.get("exec.busy_span_s", 0)
    m["exec.busy_ratio"] = (
        layers.get("exec.run_ms", 0) / 1000.0 / (cores * busy) if busy else 0.0
    )
    if events_per_pass:
        m["state.dropped_late_ratio"] = (
            layers.get("state.rows_dropped_late", 0) / events_per_pass
        )
    m["trace.ops"] = len(unattributed)
    m["trace.unattributed_max_ratio"] = max(unattributed, default=0.0)
    m["trace.ops_over_10pct"] = sum(1 for u in unattributed if u > 0.10)
    untraced_wall = wall_seconds(kind, untraced["walls"], untraced.get("passes", []))
    traced_wall = wall_seconds(kind, traced["walls"], traced.get("passes", []))
    m["trace_overhead"] = traced_wall / untraced_wall
    for key, ws in untraced["walls"].items():
        if not ws:
            continue
        name = f"module.{modules[key]}.wall_s"
        m[name] = m.get(name, 0.0) + statistics.median(ws)
    return m


def result_line(rec: dict, trace: bool) -> dict:
    """The record's last stdout line: exactly the contract's four keys."""
    schema = PER_LAYER if trace else END_TO_END
    values = rec["metrics"]
    return {
        "correct": rec["correct"],
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {
            name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in schema.items()
        },
    }
