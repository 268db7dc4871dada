"""Benchmark of the engine: two workloads, each loading one layer.

    python3 perfbench/run.py --workload corpus_build --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Each run is one fresh process with
one Spark JVM at ``local[n]`` (n = min(4, cores)); every file it writes
(inputs, warehouse, checkpoints, Spark scratch) goes under
``.perfbench/tmp-<pid>/`` and is removed at exit. A traced run also
keeps its spans in ``.perfbench/traces/``.

Workloads (METRICS.md maps each per-layer metric to the end-to-end
metric it should move):

* ``corpus_build`` — ``q_*`` keys whose time sits in driver-side eager
  jobs (checkpoints, probes, ``availableNow`` streams).
* ``pipeline_daily`` — seeded daily trip batches through the medallion
  runner into one warehouse: the write path.

An op is one key (build, plan and noop-execute it) or one day (landed
CSV to published gold). The timed phase runs whole passes over the
workload's ops until ``--seconds`` have passed; every pass reads inputs
of its own, so artifact caches keyed by input path start cold in each.
After the timed phase every op's output is checked, outside the timed
region.

The seed generates the trips of ``pipeline_daily``. The tables of
``corpus_build`` come from a fixed data seed, so that their expected
outputs can be kept in ``expected.json``, and its keys run in a fixed
order: permuting them moved the cold costs the first key of a kind pays
(Python workers, codegen) between keys and doubled the run-to-run
spread of ``op_p50_s``.

Output: a summary line, a line of op latencies, then one JSON line with
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics untraced, per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

T_PROCESS = time.perf_counter()

from tracing import job_group  # noqa: E402  (imports pyspark: after the clock starts)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "fordgobike_data_pipeline_spark"

DATA_SEED = 20261017
CORES = min(4, os.cpu_count() or 1)

# corpus_build: keys timed in this order on tables at TABLES_SF, after a
# warm-up of WARM_KEYS on tables at WARM_SF in another directory
CORPUS_KEYS = [
    "q_clean_corpus", "q_triangle_count", "q_dedup_minhash", "q_dup_cluster_sizes",
    "q_er_canonical", "q_stream_stateful",
]
WARM_KEYS = ["q_stream_session"]
TABLES_SF = 0.01
WARM_SF = 0.001
# pipeline_daily: seeded days of trips through the medallion runner
DAYS = 3
TRIPS_PER_DAY = 2000
STATIONS = 120
GOLD_MARTS = [
    "dm_daily_trip_summary", "dm_station_popularity", "dm_popular_routes",
    "dm_user_behavior_summary",
]


# ---------------------------------------------------------------------------
# host context
# ---------------------------------------------------------------------------


def cpu_times() -> list[int]:
    """Aggregate ``cpu`` jiffies from /proc/stat (user … steal)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return [int(x) for x in fields[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return 100.0 * delta[7] / total if total else 0.0


def machine_probe(spark) -> float:
    """Seconds for a fixed synthetic CPU + shuffle job (range → xxhash64 →
    grouped sum), timed once after one untimed run. It reads no input and
    runs no program code: only the host moves it."""
    from pyspark.sql import functions as F

    def one() -> None:
        df = spark.range(0, 4_000_000, 1, CORES * 2)
        df.select(
            (F.col("id") % 200_000).alias("k"),
            F.shiftrightunsigned(F.xxhash64("id"), 40).alias("h"),
        ).groupBy("k").agg(F.sum("h").alias("s")).agg(F.sum("s")).collect()

    one()
    t0 = time.perf_counter()
    one()
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# run state
# ---------------------------------------------------------------------------


@dataclass
class Op:
    id: str
    key: str
    seconds: float = 0.0
    error: str | None = None
    output: object = None  # output frame or warehouse, kept for the check
    windows: list = field(default_factory=list)  # (phase, start, end) epoch s


@dataclass
class Pass:
    ops: list[Op]
    start: float  # epoch s
    wall: float
    landed_bytes: int


def percentile_tail(values: list[float]) -> tuple[float, float] | None:
    """(value, percentile) at the highest percentile that leaves at least
    ten ops beyond it; None below 20 ops."""
    n = len(values)
    if n < 20:
        return None
    return sorted(values)[n - 11], 100.0 * (n - 10) / n


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, tmp: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.tmp = trace, tmp
        self.spark = None
        self.session_start_s = 0.0
        self.tracer = None
        self.listener = None
        self._landings = 0

    # -- session -----------------------------------------------------------

    def start_session(self, event_log: str | None = None):
        from fordgobike_data_pipeline_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "spark-warehouse"),
            # SparkSession.builder keeps options between sessions: set it either way
            "spark.eventLog.enabled": str(bool(event_log)).lower(),
        }
        if event_log:
            os.makedirs(event_log)
            conf.update({"spark.eventLog.dir": event_log,
                         "spark.eventLog.rolling.enabled": "false",
                         "spark.eventLog.compress": "false"})
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        elapsed = time.perf_counter() - t0
        if self.listener is not None:
            self.spark.streams.addListener(self.listener)
        return elapsed

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- phases ------------------------------------------------------------

    def phase(self, op: Op, name: str, span_name: str, fn):
        sc = self.spark.sparkContext
        sc.setJobGroup(job_group(op.id, name), op.key)
        span = self.tracer.open(span_name) if self.tracer and self.tracer.enabled else None
        if span is not None:
            self.tracer.phase_span = span.id
        start = time.time()
        try:
            return fn()
        finally:
            op.windows.append((name, start, time.time()))
            if span is not None:
                self.tracer.close(span)
                self.tracer.phase_span = None
            sc.setLocalProperty("spark.jobGroup.id", None)

    def run_op(self, op: Op, body) -> None:
        if self.tracer is not None:
            self.tracer.op = op.id
        span = self.tracer.open("op") if self.tracer and self.tracer.enabled else None
        t0 = time.perf_counter()
        try:
            body(op)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, the run goes on
            op.error = f"{type(exc).__name__}: {exc}"[:300]
        op.seconds = time.perf_counter() - t0
        if span is not None:
            self.tracer.close(span)
        if self.tracer is not None:
            self.tracer.op = None

    # -- corpus_build --------------------------------------------------------

    def land_tables(self, sf: float) -> str:
        from datagen import write_tables

        self._landings += 1
        out = os.path.join(self.tmp, f"tables-{self._landings}")
        write_tables(out, sf, DATA_SEED)
        return out

    def query_body(self, fn, sf_dir: str):
        def body(op: Op) -> None:
            df = self.phase(op, "build", "harness.build", lambda: fn(self.spark, sf_dir))
            self.phase(op, "plan", "spark.plan",
                       lambda: df._jdf.queryExecution().executedPlan())
            self.phase(op, "exec", "spark.exec",
                       lambda: df.write.format("noop").mode("overwrite").save())
            op.output = df

        return body

    def corpus_setup(self):
        from checks import load_expected
        from fordgobike_data_pipeline_spark import harness

        self.expected = load_expected()
        queries = harness.all_queries()
        warm_dir = self.land_tables(WARM_SF)
        first_dir = self.land_tables(TABLES_SF)
        for key in WARM_KEYS:
            op = Op(f"warm:{key}", key)
            self.run_op(op, self.query_body(queries[key], warm_dir))
            if op.error:
                raise RuntimeError(f"warm-up {key} failed: {op.error}")
        dirs = iter([first_dir])

        def run_pass(p: int) -> Pass:
            sf_dir = next(dirs, None) or self.land_tables(TABLES_SF)
            start, t0 = time.time(), time.perf_counter()
            ops = []
            for key in CORPUS_KEYS:
                op = Op(f"{p}:{key}", key)
                self.run_op(op, self.query_body(queries[key], sf_dir))
                ops.append(op)
            return Pass(ops, start, time.perf_counter() - t0, tree_bytes(sf_dir))

        return run_pass

    def corpus_check(self, passes: list[Pass]) -> None:
        from checks import digest, mismatch

        expected = self.expected["keys"]
        for ps in passes:
            for op in ps.ops:
                if op.error is None:
                    self.spark.sparkContext.setJobGroup(job_group(op.id, "check"), op.key)
                    try:
                        op.error = mismatch(digest(op.output), expected.get(op.key))
                    except Exception as exc:  # noqa: BLE001
                        op.error = f"check raised {type(exc).__name__}: {exc}"[:300]
                op.output = None

    # -- pipeline_daily ----------------------------------------------------

    def pipeline_setup(self):
        """Land the seeded days, then warm up with the clean reference run:
        every landed day as one batch into a warehouse of its own, whose
        gold marts the check compares against."""
        from datagen import write_locations, write_trip_days
        from fordgobike_data_pipeline_spark.plans import runner
        from fordgobike_data_pipeline_spark.sources import csv_source

        land = os.path.join(self.tmp, "landing")
        geo_path = os.path.join(self.tmp, "locations.parquet")
        write_locations(geo_path, STATIONS)
        day_dirs = write_trip_days(land, DAYS, TRIPS_PER_DAY, STATIONS, self.seed)
        landed_bytes = tree_bytes(land)

        def day_body(wh, day_dir: str, batch_id: int):
            def body(op: Op) -> None:
                def run() -> None:
                    trips = csv_source.read_trips_csv(self.spark, day_dir)
                    geo = self.spark.read.parquet(geo_path)
                    runner.run_pipeline(self.spark, wh, trips, geo, batch_id=batch_id)

                self.phase(op, "run", "plans.run_pipeline", run)

            return body

        self.clean_wh = runner.Warehouse(os.path.join(self.tmp, "wh-clean"))
        warm = Op("warm:clean", "clean")
        self.run_op(warm, day_body(self.clean_wh, os.path.join(land, "day*"), 0))
        if warm.error:
            raise RuntimeError(f"clean reference run failed: {warm.error}")

        def run_pass(p: int) -> Pass:
            self._landings += 1
            wh = runner.Warehouse(os.path.join(self.tmp, f"wh-{self._landings}"))
            start, t0 = time.time(), time.perf_counter()
            ops = []
            for d, day_dir in enumerate(day_dirs):
                op = Op(f"{p}:day{d:02d}", f"day{d:02d}")
                op.output = wh
                self.run_op(op, day_body(wh, day_dir, d))
                ops.append(op)
            return Pass(ops, start, time.perf_counter() - t0, landed_bytes)

        return run_pass

    def pipeline_check(self, passes: list[Pass]) -> None:
        """After the last day: fact rows equal trips landed, ``trip_id`` is
        unique, and each gold mart equals the clean reference run's. A
        failed check fails every op of the pass, since no single day can
        be blamed for it."""
        from checks import digest
        from pyspark.sql import functions as F

        sc = self.spark.sparkContext
        sc.setJobGroup(job_group("check", "pipeline"), "output check")
        clean = {m: digest(self.clean_wh.read(self.spark, "gold", m)) for m in GOLD_MARTS}
        landed = DAYS * TRIPS_PER_DAY
        for ps in passes:
            wh = ps.ops[-1].output
            problems = []
            try:
                fact = wh.read(self.spark, "silver", "fact_trips")
                row = fact.agg(F.count(F.lit(1)).alias("n"),
                               F.countDistinct("trip_id").alias("ids")).first()
                if row["n"] != landed:
                    problems.append(f"fact rows {row['n']} != landed {landed}")
                if row["ids"] != row["n"]:
                    problems.append(f"trip_id not unique: {row['ids']} ids, {row['n']} rows")
                problems += [f"{m} differs from the clean run" for m in GOLD_MARTS
                             if digest(wh.read(self.spark, "gold", m)) != clean[m]]
            except Exception as exc:  # noqa: BLE001 — a failed check is counted
                problems.append(f"check raised {type(exc).__name__}: {exc}"[:300])
            for op in ps.ops:
                op.output = None
                if problems and op.error is None:
                    op.error = "; ".join(problems)
        sc.setLocalProperty("spark.jobGroup.id", None)

    # -- timed phase ---------------------------------------------------------

    def timed_passes(self, run_pass) -> list[Pass]:
        passes: list[Pass] = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < self.seconds:
            passes.append(run_pass(len(passes)))
        return passes

    def setup(self):
        """(run_pass, check) of this workload."""
        setup, check = WORKLOADS[self.workload]
        return setup(self), functools.partial(check, self)


# workload name -> (set-up returning run_pass(p) -> Pass, output check)
WORKLOADS = {
    "corpus_build": (Bench.corpus_setup, Bench.corpus_check),
    "pipeline_daily": (Bench.pipeline_setup, Bench.pipeline_check),
}


def summarize(workload: str, passes: list[Pass], setup_s: float, steal: float, probe: float):
    ops = [op for ps in passes for op in ps.ops]
    lat = [op.seconds for op in ops]
    failed = sum(op.error is not None for op in ops)
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": statistics.median(ps.wall for ps in passes), "unit": "s"},
        "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
    }
    tail = percentile_tail(lat)
    tail_txt = (f"op_tail_s={tail[0]:.4f} s (p{tail[1]:.1f} of {len(lat)} ops)"
                if tail else f"op_tail_s=n/a (needs 20 ops, have {len(lat)})")
    line = (
        f"perfbench {workload}: ops={len(ops)} passes={len(passes)} cores={CORES} "
        f"setup_s={setup_s:.4f} s wall_s={metrics['wall_s']['value']:.4f} s "
        f"op_p50_s={metrics['op_p50_s']['value']:.4f} s (median of {len(lat)} ops) "
        f"{tail_txt} op_fail_ratio={failed / len(ops):.4f} ({failed}/{len(ops)}) "
        f"host.steal_pct={steal:.2f} % host.probe_s={probe:.4f} s"
    )
    per_op = " ".join(f"{op.key}={op.seconds:.3f}" for op in ops)
    return metrics, f"{line}\nperfbench op seconds: {per_op}", len(ops), failed


def run(args, tmp: str, t_start: float, untraced_wall: float | None):
    """Set up, run the timed passes, check them; return (metrics, lines,
    attempted, failed). With ``untraced_wall`` the run is traced."""
    bench = Bench(args.workload, args.seed, args.seconds, untraced_wall is not None, tmp)
    event_log = None
    if bench.trace:
        from tracing import StreamListener, Tracer

        bench.tracer = Tracer()
        bench.tracer.install()  # before the harness modules import load_tables
        bench.listener = StreamListener(bench.tracer)
        event_log = os.path.join(tmp, "eventlog")
    bench.session_start_s = bench.start_session(event_log)
    try:
        run_pass, check = bench.setup()
        setup_s = time.perf_counter() - t_start
        if bench.tracer is not None:
            bench.tracer.enabled = True
        cpu0 = cpu_times()
        passes = bench.timed_passes(run_pass)
        steal = steal_pct(cpu0, cpu_times())
        if bench.tracer is not None:
            bench.tracer.enabled = False
        check(passes)
        probe = machine_probe(bench.spark)
    finally:
        bench.stop_session()  # also closes the event log
    metrics, line, attempted, failed = summarize(args.workload, passes, setup_s, steal, probe)
    if not bench.trace:
        return metrics, [line], attempted, failed
    from layers import layer_metrics

    metrics, per_op = layer_metrics(bench, passes, event_log, steal, probe, untraced_wall)
    return metrics, [line, write_trace(args.workload, args.seed, bench.tracer, per_op, metrics)], \
        attempted, failed


def untraced_wall_s(args) -> float:
    """``wall_s`` of an untraced run with the same arguments, run first in
    a child process, so that the traced run can state its overhead."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    lines = out.strip().splitlines()
    print(f"untraced run: {lines[0]}", file=sys.stderr)
    return json.loads(lines[-1])["metrics"]["wall_s"]["value"]


def write_trace(workload: str, seed: int, tracer, per_op: dict, metrics: dict) -> str:
    out_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{workload}-seed{seed}.json")
    with open(path, "w") as fh:
        json.dump({
            "workload": workload, "seed": seed, "metrics": metrics, "per_op": per_op,
            "spans": [s.__dict__ for s in tracer.spans],
        }, fh, indent=1)
    return (f"perfbench trace: {len(tracer.spans)} spans, per-op counts -> "
            f"{os.path.relpath(path, ROOT)}")


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def hermetic_env() -> str:
    """Make a fresh temp root ``.perfbench/tmp-<pid>`` and point every
    file this process and its JVM write there; return it."""
    tmp = os.path.join(ROOT, ".perfbench", f"tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYTHONDONTWRITEBYTECODE": "1",
        # every JVM, the spark-submit launcher too: no files outside tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    sys.path[:0] = [ROOT, HERE]
    tempfile.tempdir = tmp
    return tmp


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG}/ not found next to perfbench/", file=sys.stderr)
        return 2

    untraced_wall = untraced_wall_s(args) if args.trace else None
    t_start = T_PROCESS if not args.trace else time.perf_counter()
    tmp = hermetic_env()
    try:
        metrics, lines, attempted, failed = run(args, tmp, t_start, untraced_wall)
    finally:
        shutdown_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
