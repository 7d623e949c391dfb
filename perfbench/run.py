"""Benchmark of the flink_large_window_spark registry, run from outside it.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One process, one client, closed loop: each operation starts when the
previous one has completed. The session is ``local[<cores>]`` with as
many cores as the process may use. Every key's output is checked
against its DuckDB oracle on the same generated input, untimed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first runs
the same untraced protocol, then repeats the timed part with tracing
on (event log, query-execution and streaming listeners, spans) and
prints the per-layer metrics, including ``trace_overhead``, the traced
wall over the untraced wall. The last stdout line is the result
record; the line before it is the environment. Spans and the full
record are written under ``.perfbench_run/out/`` in the checkout.

See perfbench/README.md for the workloads and the metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # process start, before the heavy imports

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "flink_large_window_spark"
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
DRIVER_MEMORY = "2g"
FAILURES_LISTED = 10  # failures kept in the record

import inputs  # noqa: E402
import metrics  # noqa: E402
import tracing  # noqa: E402
from oracle import compare, duck_connection  # noqa: E402

# Nine of the 38 bench.HEADLINE keys, one or two per owning module,
# with small outputs and fast oracles, so that a run fits the
# benchmark's time budget (see README).
BATCH_KEYS = (
    "agg_hash_grouped",
    "dedup_exact",
    "emb_kmeans_assign",
    "join_skew_salted",
    "pattern_match_recognize",
    "q2_min_cost_supplier",
    "q5_local_supplier",
    "text_tfidf_topterms",
    "window_large_day",
)

WORKLOADS = {
    "batch_headline": {"kind": "batch", "keys": BATCH_KEYS, "sf": "sf0.1"},
    "stream_cep": {
        "kind": "stream",
        "keys": ("pattern_detect_cep_stream", "pattern_detect_oneormore_stream"),
        "sf": "sf0.01",
        "k": 2,
    },
}

MIN_REPS = 3  # timed executions per batch key
MIN_PASSES = 3  # timed passes of a stream workload; the median drops a slow first one


def cores() -> int:
    return len(os.sched_getaffinity(0))


def data_root() -> str:
    """Directory holding the sf* fixture dirs the package reads by default."""
    from flink_large_window_spark.tables import DEFAULT_SF_DIR

    return os.environ.get("PERFBENCH_DATA") or os.path.dirname(DEFAULT_SF_DIR)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def commit() -> str:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() or "unknown"


def start_session(tmp: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{cores()}]")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.local.dir", tmp)
        # The heap is fixed and touched at start, so peak RSS measures the
        # native and Python memory above it instead of when G1 grew the heap.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        )
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from flink_large_window_spark.tables import prep

    return prep(spark)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    """One benchmark process: inputs, session, operations, checks."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.name = workload
        self.spec = WORKLOADS[workload]
        self.kind = self.spec["kind"]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.keys = inputs.key_order(self.spec["keys"], seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.outputs: dict = {}  # key -> checked output (pandas)
        self.input_rows: dict[str, int] = {}  # batch: parquet rows each key reads
        self.input_s = 0.0
        self.n_events = 0
        self.phase = None  # the TracedPhase while tracing

    def attempt(self, what: str, fn):
        """Run one operation; a failure is counted and reported, never lost."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            traceback.print_exception(exc, file=sys.stderr)
            first = str(exc).splitlines()[0] if str(exc) else ""
            self.failures.append(f"{what}: {type(exc).__name__}: {first}")
            return None

    def prepare_inputs(self) -> str:
        sf_dir = os.path.join(data_root(), self.spec["sf"])
        if self.kind == "batch":
            return sf_dir
        t0 = time.perf_counter()
        dst = os.path.join(RUN_DIR, "tmp", "replica")
        self.n_events = inputs.write_events_replica(sf_dir, dst, self.spec["k"], self.seed)
        self.input_s = time.perf_counter() - t0
        return dst

    def run(self) -> dict:
        self.data_dir = self.prepare_inputs()
        spark = start_session(os.path.join(RUN_DIR, "tmp"))
        try:
            from flink_large_window_spark import api

            self.queries = api.queries()
            self.oracles = api.oracle_sql()
            self.spark = spark
            if self.trace:
                self.phase = tracing.TracedPhase(
                    spark, os.path.join(RUN_DIR, "tmp", "eventlog")
                )
            measured = (
                self.measure_batch() if self.kind == "batch" else self.measure_stream()
            )
            layers = None
            if self.phase is not None:
                layers = self.phase.finish(streaming=self.kind == "stream")
                self.phase.tracer.dump(os.path.join(
                    RUN_DIR, "out", f"spans-{self.name}-{self.seed}.json"
                ))
            self.check_outputs()
            rss = vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + (
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            )
            env = self.environment(spark)
        finally:
            stop_session(spark)
        return self.record(measured, layers, rss, env)

    def timed(self, what: str, op, rep: int, walls: dict, key: str) -> bool:
        """One timed execution of op; in a traced run an untraced and a
        traced one, in alternating order. Each wall goes to
        walls[traced][key]. True when every execution succeeded."""
        modes = (False,) if self.phase is None else ((False, True), (True, False))[rep % 2]
        ok = True
        for traced in modes:
            wall = self.attempt(
                f"{what}{' traced' if traced else ''}", lambda: op(traced)
            )
            if wall is None:
                ok = False
            else:
                walls[traced][key].append(wall)
        return ok

    # -- batch: untimed first executions, then one timed block per key --------

    def first_batch(self, key: str):
        """Untimed first execution; its output is the one checked."""
        df = self.queries[key](self.spark, self.data_dir)
        out = df.toPandas()
        self.input_rows[key] = parquet_rows(df.inputFiles())
        return out

    def measure_batch(self) -> dict:
        for key in self.keys:
            self.outputs[key] = self.attempt(f"{key} first", lambda: self.first_batch(key))
        keys = [k for k in self.keys if self.outputs.get(k) is not None]
        share = self.seconds / max(len(keys), 1) * (1 if self.phase is None else 2)
        walls = {False: {k: [] for k in keys}, True: {k: [] for k in keys}}
        first_timed = time.perf_counter()
        for key in keys:
            block0 = time.perf_counter()
            for rep in range(1_000_000):
                ok = self.timed(
                    f"{key} rep {rep}", lambda traced: self.batch_op(key, rep, traced),
                    rep, walls, key,
                )
                done = time.perf_counter() - block0
                if rep + 1 >= MIN_REPS and (
                    not ok or done * (rep + 2) / (rep + 1) > share
                ):
                    break
        return {"walls": walls, "first_timed": first_timed}

    def batch_op(self, key: str, rep: int, traced: bool) -> float:
        fn, spark, sf = self.queries[key], self.spark, self.data_dir
        if not traced:
            t0 = time.perf_counter()
            fn(spark, sf).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        op_id = f"{self.name}/{self.seed}/{key}/{rep}"
        self.phase.begin(op_id)
        t0 = time.time()
        df = fn(spark, sf)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        self.phase.batch_op(self.phase.end(op_id, key, t0, t2), t1, df)
        return t2 - t0

    # -- stream: warm replays, then timed passes over every key ----------------

    def first_stream(self, key: str):
        """Warm replay; its output is the one checked."""
        return self.queries[key](self.spark, self.data_dir).toPandas()

    def measure_stream(self) -> dict:
        for key in self.keys:
            self.outputs[key] = self.attempt(f"{key} first", lambda: self.first_stream(key))
        keys = [k for k in self.keys if self.outputs.get(k) is not None]
        walls = {False: {k: [] for k in keys}, True: {k: [] for k in keys}}
        passes: dict[bool, list[float]] = {False: [], True: []}
        budget = self.seconds * (1 if self.phase is None else 2)
        first_timed = time.perf_counter()
        for rep in range(1_000_000):
            if not keys:
                break
            ok = all([
                self.timed(
                    f"{key} pass {rep}", lambda traced: self.stream_op(key, rep, traced),
                    rep, walls, key,
                )
                for key in keys
            ])
            if ok:
                for traced in passes:
                    if walls[traced][keys[0]]:
                        passes[traced].append(sum(walls[traced][k][-1] for k in keys))
            done = time.perf_counter() - first_timed
            if rep + 1 >= MIN_PASSES and done * (rep + 2) / (rep + 1) > budget:
                break
        if not passes[False]:
            raise RuntimeError("no stream pass completed")
        return {"walls": walls, "passes": passes, "first_timed": first_timed}

    def stream_op(self, key: str, rep: int, traced: bool) -> float:
        fn, spark, d = self.queries[key], self.spark, self.data_dir
        op_id = f"{self.name}/{self.seed}/{key}/{rep}"
        if traced:
            self.phase.begin(op_id)
        t0, c0 = time.time(), time.perf_counter()
        out = fn(spark, d)
        wall = time.perf_counter() - c0
        if traced:
            self.phase.end(op_id, key, t0, t0 + wall)
        rows = out.count()  # untimed: every replay must emit the checked rows
        expect = len(self.outputs[key])
        if rows != expect:
            raise AssertionError(f"replay emitted {rows} rows, warm replay {expect}")
        return wall

    # -- checks and record ----------------------------------------------------

    def check_outputs(self) -> None:
        """Compare every checked output with the key's DuckDB oracle."""
        from flink_large_window_spark.tables import TABLE_NAMES

        con = duck_connection(self.data_dir, TABLE_NAMES)
        try:
            for key in self.keys:
                out = self.outputs.get(key)
                if out is None:
                    continue
                reason = self.attempt(
                    f"{key} oracle",
                    lambda: compare(out, con.execute(self.oracles[key]).df()),
                )
                if reason:
                    self.failures.append(f"{key} oracle: {reason}")
        finally:
            con.close()

    def environment(self, spark) -> dict:
        import pyarrow

        from flink_large_window_spark.streaming.streams import _stream_width

        return {
            "workload": self.name,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
            "nproc": cores(),
            "master": spark.sparkContext.master,
            "spark": spark.version,
            "pyarrow": pyarrow.__version__,
            "python": platform.python_version(),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "stream_width": _stream_width(),
            "driver_memory": DRIVER_MEMORY,
            "sf": self.spec["sf"],
            "k": self.spec.get("k"),
            "events": self.n_events or None,
            "input_s": round(self.input_s, 4),
            "keys": self.keys,
            "commit": commit(),
        }

    def record(self, measured: dict, layers, rss: float, env: dict) -> dict:
        untraced = {
            "walls": measured["walls"][False],
            "passes": measured.get("passes", {}).get(False, []),
        }
        setup = measured["first_timed"] - T_START - self.input_s
        e2e = metrics.end_to_end(
            self.kind, untraced, setup, rss, self.n_events,
            sum(self.input_rows.values()),
        )
        values = e2e
        failed = len(self.failures)
        if layers is not None:
            traced = {
                "walls": measured["walls"][True],
                "passes": measured.get("passes", {}).get(True, []),
            }
            modules = {
                k: self.queries[k].__module__.removeprefix(PACKAGE + ".")
                for k in self.keys
            }
            values = metrics.per_layer(
                self.kind, untraced, traced, tracing.pass_totals(layers), modules,
                cores(), self.n_events * len(self.keys),
                failed / max(self.attempted, 1), self.phase.unattributed,
            )
        return {
            "env": env,
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "failures": self.failures[:FAILURES_LISTED],
            "walls": untraced["walls"],
            "passes": untraced["passes"],
            "end_to_end": e2e,
            "metrics": values,
        }


def parquet_rows(files) -> int:
    """Rows in the parquet files a plan reads, from their footers."""
    import pyarrow.parquet as pq
    from urllib.parse import urlparse

    return sum(pq.ParquetFile(urlparse(f).path).metadata.num_rows for f in files)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package beside {HERE}; nothing to run",
              file=sys.stderr)
        return 2
    tmp = os.path.join(RUN_DIR, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(RUN_DIR, "out"), exist_ok=True)
    # Spark's Python workers import the package too, whatever the cwd.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp  # scratch dirs of the package and of Spark
    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        rec = run.run()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    out = os.path.join(
        RUN_DIR, "out", f"{args.workload}-{args.seed}-trace{args.trace}.json"
    )
    with open(out, "w") as f:
        json.dump(rec, f, indent=1)
    for line in rec["failures"]:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    print(json.dumps({"env": rec["env"]}))
    print(json.dumps(metrics.result_line(rec, trace=bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
