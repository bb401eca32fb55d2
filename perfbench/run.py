"""Benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One process, one SparkSession on
local[<cores>], one closed-loop client.  The run

1. builds (once per checkout) the seeded fixture tables,
2. sets up: imports the package, starts the session and warms up with a
   fixed request stream (one pass over the keys or the poster edits);
   set-up ends at the first timed op,
3. runs the workload's number of whole timed passes, and more if --seconds
   have not yet elapsed,
4. checks every op's output against its DuckDB reference,

and prints, as the last line of standard output, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1.  Details (op counts, tail
percentile, failure reasons, per-layer self times) go to standard error;
the traced run also writes its spans under perfbench/.work/.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from collections import defaultdict  # noqa: E402

import datagen  # noqa: E402
from check import Fingerprint, Outcomes, frame_fingerprint, percentile, tail_percentile  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
PACKAGE = "week3_2_practice_big_data__spark"
DATA_SEED = 42  # the tables are fixed; --seed drives the timed requests
WARMUP_SEED = 0
DEADLINE_S = 170  # hard stop: a run must end within 180 s
PASS_CUTOFF_S = 130  # no new timed pass starts after this
OP_TIMEOUT_S = 60  # an op slower than this counts as failed

# Per-layer metrics summed over each timed pass: name -> unit.
PER_PASS = {
    "exec.jobs": "count", "exec.tasks": "count", "exec.failed_tasks": "count",
    "exec.gc_ms": "ms", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "io.scan_ms": "ms", "io.file_bytes": "bytes", "io.rows": "count",
    "py.total_ms": "ms", "py.boot_ms": "ms", "py.init_ms": "ms",
    "py.bytes_sent": "bytes", "py.bytes_received": "bytes",
    "py.rows_received": "count",
    "stream.batches": "count", "stream.data_batches": "count",
    "stream.trigger_ms": "ms", "stream.state_commit_ms": "ms",
    "stream.state_rows": "count", "stream.input_rows": "count",
}
# Per-layer metrics taken as the median over timed ops.
PER_OP = ("plan.parse_ms", "plan.analysis_ms", "plan.optimization_ms",
          "plan.planning_ms")


def isolate() -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    local = os.path.join(WORK, "local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Measure the engine as it ships: get_spark() sizes the driver heap from
    # SPARK_DRIVER_MEM, so a value inherited from the caller is dropped.
    os.environ.pop("SPARK_DRIVER_MEM", None)


def peak_rss_mb(pid) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for process {pid}")


def jvm_process():
    from pyspark import SparkContext

    return SparkContext._gateway.proc


def stop(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    proc = jvm_process()
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


class Reference:
    """DuckDB reference fingerprints, cached on disk by data and SQL text."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        from week3_2_practice_big_data__spark import TABLES

        self.tag = os.path.basename(data_dir)
        self.cache = os.path.join(WORK, "reference")
        os.makedirs(self.cache, exist_ok=True)
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def fingerprint(self, sql: str) -> Fingerprint:
        key = hashlib.sha256(f"{self.tag}\0{sql}".encode()).hexdigest()
        path = os.path.join(self.cache, key + ".json")
        try:
            with open(path) as f:
                return Fingerprint(**json.load(f))
        except (OSError, ValueError):
            pass
        fp = frame_fingerprint(self.con.execute(sql).fetch_df())
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(fp.__dict__, f)
        os.replace(tmp, path)
        return fp


class Runner:
    """Runs ops of one workload, timing each and, when tracing, reading the
    layer counters around it."""

    def __init__(self, spark, wl, data_dir, tracer, counters, tap) -> None:
        self.spark, self.wl, self.data_dir = spark, wl, data_dir
        self.tracer, self.counters, self.tap = tracer, counters, tap
        self.latency: dict[int, float] = {}
        self.layers: dict[int, dict[str, float]] = defaultdict(dict)
        self.rdds_grew: dict[int, bool] = {}
        self.results = []  # (op, Fingerprint | None, error | None)
        self.check_s = 0.0  # time spent fingerprinting outputs

    def _probe(self, df) -> None:
        """Called by the workload right after its action."""
        if self.tracer.enabled:
            from spans import plan_counters

            with self.tracer.span("trace.read"):
                self.layers[self.tracer.op_id].update(plan_counters(df))

    def _read_counters(self, op_id: int, rdds_before: int) -> None:
        with self.tracer.span("trace.read"):
            c = self.layers[op_id]
            for source in (self.counters.read(), self.tap.counts):
                for k, v in source.items():
                    c[k] = c.get(k, 0) + v
            self.tap.counts.clear()
            self.rdds_grew[op_id] = self.counters.persisted_rdds() > rdds_before

    def run(self, op_id: int, op) -> None:
        self.tracer.op_id = op_id
        tracing = self.tracer.enabled
        rdds_before = self.counters.persisted_rdds() if tracing else 0
        result, error = None, None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", key=op.label):
                result = self.wl.run(self.spark, op, self.data_dir, self.tracer,
                                     self._probe)
                if tracing:
                    self._read_counters(op_id, rdds_before)
        except Exception as e:  # a failing op is counted, not fatal
            error = f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:200]}"
            print(f"op {op.label} failed: {error}", file=sys.stderr)
        latency = time.perf_counter() - t0
        self.latency[op_id] = latency
        if error is None and latency > OP_TIMEOUT_S:
            error = f"timeout after {latency:.1f} s"
        if error is None:
            error = result.problem
        t1 = time.perf_counter()
        fp = frame_fingerprint(result.frame) if error is None else None
        self.check_s += time.perf_counter() - t1
        self.results.append((op, fp, error))

    def check(self, ref: Reference) -> Outcomes:
        """Count every op, failing those that raised, ran out of time or
        whose output differs from the reference."""
        outcomes = Outcomes()
        for op, fp, error in self.results:
            if error is None:
                expected = ref.fingerprint(self.wl.reference_sql(op))
                if fp != expected:
                    error = "output differs from reference"
                    print(f"op {op.label}: {error} ({fp.rows} rows, "
                          f"{expected.rows} expected)", file=sys.stderr)
            outcomes.record(error)
        return outcomes


def layer_metrics(runner: Runner, timed: list[int], n_passes: int) -> dict:
    tracer = runner.tracer
    ids = set(timed)
    sums = defaultdict(float)
    for i in timed:
        for k, v in runner.layers[i].items():
            sums[k] += v
    self_s = tracer.self_times(ids)
    op_total = sum(runner.latency[i] for i in timed)

    def median_of(values, scale=1.0):
        return statistics.median(values) * scale if values else 0.0

    m = {
        "session.import_s": (tracer.durations("session.import", {None})[0], "s"),
        "session.start_s": (tracer.durations("session.start", {None})[0], "s"),
        "build.s": (self_s.get("build", 0.0) / n_passes, "s"),
        "build.share": (self_s.get("build", 0.0) / op_total, "ratio"),
        "exec.s": (self_s.get("action", 0.0) / n_passes, "s"),
    }
    for k, unit in PER_PASS.items():
        m[k] = (sums[k] / n_passes, unit)
    for k in PER_OP:
        m[k] = (median_of([runner.layers[i][k] for i in timed
                           if k in runner.layers[i]]), "ms")
    m["cache.rdds"] = (runner.counters.persisted_rdds(), "count")
    m["cache.miss_ops"] = (sum(runner.rdds_grew.get(i, False) for i in timed), "count")
    m["collect.s"] = (median_of(tracer.durations("action", ids)), "s")
    m["png.encode_ms"] = (median_of(tracer.durations("png.encode", ids), 1e3), "ms")
    m["trace.overhead_s"] = (self_s.get("trace.read", 0.0) / n_passes, "s")
    return m


def measure(args, spark, wl, data_dir, tracer, excluded_s: float):
    """Warm up, time whole passes, check every output.

    Returns the result object (the last stdout line) and the details
    printed on stderr.  `excluded_s` is time spent before the session
    started that is not set-up (table generation).
    """
    from spans import SparkCounters, StreamTap

    counters = tap = None
    if tracer.enabled:
        counters, tap = SparkCounters(spark), StreamTap()
        spark.streams.addListener(tap)
    runner = Runner(spark, wl, data_dir, tracer, counters, tap)

    # Warm-up: `warmup_ops` ops of a request stream that is the same on
    # every run, so that set-up does the same work whatever --seed is.
    warm_rng = random.Random(WARMUP_SEED)
    op_id = 0
    while op_id < wl.warmup_ops:
        for op in wl.pass_ops(warm_rng)[: wl.warmup_ops - op_id]:
            runner.run(op_id, op)
            op_id += 1
    n_warm = op_id
    # Set-up ends at the first timed op; table generation and output
    # checks are not part of it.
    setup_s = time.perf_counter() - T_START - excluded_s - runner.check_s

    rng = random.Random(args.seed)
    passes = []
    t_window = time.perf_counter()
    while True:
        ids = []
        for op in wl.pass_ops(rng):
            runner.run(op_id, op)
            ids.append(op_id)
            op_id += 1
        passes.append(ids)
        if (len(passes) >= wl.timed_passes
                and time.perf_counter() - t_window >= args.seconds):
            break
        # Checks and shutdown still have to fit before the deadline.
        if time.perf_counter() - T_START > PASS_CUTOFF_S:
            break
    rss = peak_rss_mb("self") + peak_rss_mb(jvm_process().pid)
    if tap is not None:
        spark.streams.removeListener(tap)

    outcomes = runner.check(Reference(data_dir))

    timed = [i for ids in passes for i in ids]
    lat = [runner.latency[i] for i in timed]
    pass_s = [sum(runner.latency[i] for i in ids) for ids in passes]
    tail_p = tail_percentile(len(lat))
    detail = {
        "workload": wl.name, "seed": args.seed, "sf": wl.sf,
        "warmup_ops": n_warm, "timed_ops": len(lat), "passes": len(passes),
        "fail_ratio": outcomes.fail_ratio, "failures": outcomes.reasons,
        "tail_percentile": tail_p,
        "op_tail_s": percentile(lat, tail_p) if tail_p else None,
        "check_s": runner.check_s,
        "op_s": lat,
        "warmup_op_s": [runner.latency[i] for i in range(n_warm)],
    }
    if tracer.enabled:
        metrics = layer_metrics(runner, timed, len(passes))
        metrics["peak_rss_mb"] = (rss, "MB")
        detail["self_time_s"] = tracer.self_times(set(timed))
        tracer.write(os.path.join(WORK, f"spans-{wl.name}-{args.seed}.json"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(pass_s), "s"),
            "op_p50_s": (statistics.median(lat), "s"),
        }
    result = {
        "correct": outcomes.failed == 0,
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"{PACKAGE} is not importable from {ROOT}", file=sys.stderr)
        return 2
    isolate()
    watchdog = threading.Timer(DEADLINE_S, os._exit, args=(3,))
    watchdog.daemon = True
    watchdog.start()

    from spans import Tracer

    tracer = Tracer(bool(args.trace))
    with tracer.span("session.import"):
        import week3_2_practice_big_data__spark as engine
        from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()

    t = time.perf_counter()
    data_dir = datagen.ensure_tables(os.path.join(WORK, "data"), wl.sf, DATA_SEED)
    datagen_s = time.perf_counter() - t

    with tracer.span("session.start"):
        spark = engine.get_spark()
        spark.sparkContext.setLogLevel("ERROR")
    try:
        result, detail = measure(args, spark, wl, data_dir, tracer, datagen_s)
    finally:
        stop(spark)
    watchdog.cancel()

    detail["run_s"] = time.perf_counter() - T_START
    print(json.dumps(detail), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
