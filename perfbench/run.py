"""Run one benchmark workload in one process and print its metrics.

    python3 perfbench/run.py --workload etl_olap --seed 1 --seconds 8 --trace 0

One client, closed loop, one query at a time, on ``local[nproc]``:

1. set-up: build the session through ``engine.session.get_spark``, warm
   the ``bench.py`` lanes the workload's keys use, stage the streaming
   fixtures, and run one untimed pass over the workload's keys;
2. timed passes until ``--seconds`` have elapsed and the workload's
   minimum number of passes has run. Each key is the
   registry call (*build*) followed by a ``noop`` sink write (*exec*);
   the seed sets the key order of every pass;
3. each key's output is checked against its DuckDB oracle, or against
   the digest recorded in ``reference.json`` when it has none.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced timed passes and prints the per-layer metrics
(see ``layers.py``), including ``trace.overhead_s``, the difference
between the two kinds of pass.

Every run starts from the same on-disk state: ``.perfbench/run/`` in
the checkout is wiped first, and all of Spark's and the engine's
scratch files are kept inside it. The last line of stdout is one JSON
object; a full record (box, settings, key orders, per-key numbers) and
the spans go to ``.perfbench/results/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench", "run")
RESULTS_DIR = os.path.join(ROOT, ".perfbench", "results")
DATA_DIR = os.path.join(HERE, "data")
# Spark driver heap: well under a 4-core box's RAM (get_spark defaults to 24g).
DRIVER_MEM = "2g"

sys.path.insert(0, HERE)

import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# The metrics BENCHMARK.json gates on. query_tail_s, fail_ratio and
# wrong_results are printed too: the tail sits near the median at the
# sample counts a run affords, and the other two are 0 on a good run.
END_TO_END = {
    "setup_s": "s", "pass_s": "s", "query_p50_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "session.lane_warm_s": "s",
    "build.s": "s", "build.self_s": "s", "build.jobs": "count",
    "build.jobs_first": "count",
    "exec.s": "s", "exec.self_s": "s", "exec.jobs": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.idle_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.busy_frac": "ratio",
    "shuffle.read_bytes": "bytes", "shuffle.write_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "io.input_bytes": "bytes", "io.output_bytes": "bytes", "io.stage_s": "s",
    "python.worker_cpu_s": "s", "python.driver_cpu_s": "s", "jvm.cpu_s": "s",
    "cache.bytes": "bytes", "cache.rdds": "count",
    "stream.batches": "count", "stream.trigger_ms": "ms",
    "stream.commit_ms": "ms", "stream.state_rows": "count",
    "stream.state_commit_ms": "ms",
    "trace.overhead_s": "s",
}
TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, int, int]:
    """(value, percentile, n): the highest sample with at least
    ``TAIL_BEYOND`` samples above it, and the whole percentile that
    sample sits at. Needs more than ``TAIL_BEYOND`` samples."""
    n = len(samples)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples: a tail needs more than {TAIL_BEYOND}")
    rank = n - TAIL_BEYOND  # 1-based rank from the bottom
    return sorted(samples)[rank - 1], (100 * rank) // n, n


def hd_median(samples: list[float]) -> float:
    """Harrell-Davis estimate of the median: the mean of all order
    statistics, the i-th of n weighted by the probability a
    Beta((n+1)/2, (n+1)/2) variable falls in ((i-1)/n, i/n]. The sample
    median is one or two samples, so it jumps when the keys that sit in
    the middle of a run change places; this estimate moves smoothly and
    spreads less over runs (the estimator BenchmarkDotNet reports)."""
    x = sorted(samples)
    n = len(x)
    a = (n + 1) / 2
    log_beta = 2 * math.lgamma(a) - math.lgamma(2 * a)

    def density(t: float) -> float:
        if t <= 0.0 or t >= 1.0:
            return 1.0 if a == 1 else 0.0
        return math.exp((a - 1) * math.log(t * (1 - t)) - log_beta)

    steps = 64  # Simpson's rule over each interval; even
    h = 1 / (n * steps)
    weights = [
        h / 3 * sum((1 if j in (0, steps) else 4 if j % 2 else 2) * density(i / n + j * h)
                    for j in range(steps + 1))
        for i in range(n)
    ]
    return sum(w * v for w, v in zip(weights, x)) / sum(weights)


# ------------------------------------------------------------ environment


def pin_environment() -> dict:
    """Pin the box settings every run uses, before the JVM starts."""
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(RUN_DIR, sub))
    os.makedirs(RESULTS_DIR, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["ENGINE_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "spark-local")
    os.environ["TMPDIR"] = os.path.join(RUN_DIR, "tmp")
    # C1 only: with C2 a run this short never stops recompiling, so
    # timed passes kept speeding up and the compiler competed with the
    # executor threads for the cores. Serial GC: G1 grows the heap by
    # measured pause times, so the JVM's peak RSS followed host speed
    # (900 or 1470 MB on identical runs); serial GC sizes it by occupancy.
    # C1 alone gets a 48 MB code cache, which a session running many
    # keys at sf0.1 filled, after which the JVM stopped compiling; 240 MB
    # is the tiered default.
    jvm_tmp = f"-Djava.io.tmpdir={os.path.join(RUN_DIR, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_SUBMIT_OPTS"] = (f"{jvm_tmp} -XX:TieredStopAtLevel=1 "
                                       "-XX:ReservedCodeCacheSize=240m -XX:+UseSerialGC")
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_tmp  # the JVM that assembles the command
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return {"nproc": nproc}


ENGINE_TMP = os.path.join(RUN_DIR, "engine-tmp")


class _RemappedShutil:
    """``shutil`` as ``engine.streaming`` sees it: ``rmtree`` deletes
    the remapped path, so each stream query still removes its own
    checkpoint."""

    def __init__(self, remap) -> None:
        self._remap = remap

    def __getattr__(self, name):
        return getattr(shutil, name)

    def rmtree(self, path, *args, **kwargs):
        return shutil.rmtree(self._remap(path), *args, **kwargs)


def confine_engine_scratch() -> None:
    """Keep the engine's scratch files inside this checkout.

    The engine writes streaming slices, checkpoints, sink outputs and
    the warehouse under one hard-coded ``.tmp`` directory. Redirect
    that prefix, wherever it reaches Spark, the engine's own module
    constants or the stream checkpoint cleanup, to ``ENGINE_TMP``."""
    import engine.io_queries as io_queries
    import engine.streaming as streaming
    from pyspark.sql import SparkSession
    from pyspark.sql.streaming import DataStreamWriter

    old = streaming._TMP.rsplit("/", 1)[0]

    def remap(value):
        if isinstance(value, str) and (value == old or value.startswith(old + "/")):
            return ENGINE_TMP + value[len(old):]
        return value

    streaming._TMP = remap(streaming._TMP)
    io_queries._TMP = remap(io_queries._TMP)
    streaming.shutil = _RemappedShutil(remap)
    option, config = DataStreamWriter.option, SparkSession.Builder.config
    DataStreamWriter.option = lambda self, key, value: option(self, key, remap(value))
    SparkSession.Builder.config = (
        lambda self, key=None, value=None, conf=None, *, map=None:
        config(self, key, remap(value), conf, map=map)
    )


def box_record(spark, nproc: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    h = hashlib.sha256()
    engine_dir = os.path.join(ROOT, "engine")
    for name in sorted(os.listdir(engine_dir)):
        if name.endswith(".py"):
            with open(os.path.join(engine_dir, name), "rb") as fh:
                h.update(name.encode() + fh.read())
    return {
        "nproc": nproc,
        "ram_gib": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "jvm_opts": os.environ["SPARK_SUBMIT_OPTS"].replace(ROOT, "."),
        "env": {k: v for k, v in sorted(os.environ.items())
                if k.startswith(("SPARK_GRAFT_", "ENGINE_"))},
        "git_commit": commit,
        "engine_sha256": h.hexdigest(),
    }


# ------------------------------------------------------------------ runner


class Runner:
    """One session, one workload, one query at a time."""

    def __init__(self, spark, queries, sf_dir: str, tracer: layers.Tracer,
                 jvm_pid: int) -> None:
        self.spark = spark
        self.queries = queries
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.cpu = layers.ProcessCpu(jvm_pid)
        self.listener = None
        self.untraced = layers.Tracer(False)
        self.last_df: dict = {}  # key -> DataFrame of its latest successful run
        self.attempted = 0
        self.failures: list[dict] = []

    def lanes(self, names: tuple[str, ...]) -> None:
        """The lane warm-ups ``bench.py`` does before its timed loop,
        limited to the lanes the workload's keys use."""
        spark, sf_dir = self.spark, self.sf_dir

        def mllib() -> None:
            from pyspark.ml.clustering import KMeans
            from pyspark.ml.linalg import Vectors

            KMeans(k=2, seed=1, maxIter=2).fit(spark.createDataFrame(
                [(Vectors.dense([float(i), float(i % 3)]),) for i in range(12)], ["features"]))

        warm = {
            "relational": lambda: self._noop(self.queries["q_agg_group"](spark, sf_dir)),
            "python_arrow": lambda: self._noop(
                spark.range(64).repartition(4).mapInPandas(lambda it: it, "id long")),
            "mllib": mllib,
        }
        for name in names:
            sid = self.tracer.open(f"session.lane_warm.{name}")
            warm[name]()
            self.tracer.close(sid)

    @staticmethod
    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def run_pass(self, order: list[str], traced: bool) -> tuple[float, list[dict]]:
        """Run every key once; (wall seconds, per-key records)."""
        if traced and self.listener is None:
            self.listener = layers.stream_listener()
            self.spark.streams.addListener(self.listener)
        elif not traced and self.listener is not None:
            self.spark.streams.removeListener(self.listener)
            self.listener = None
        sid = self.tracer.open("pass") if traced else None
        t0 = time.perf_counter()
        records = [self._run_key(k, traced) for k in order]
        wall = time.perf_counter() - t0
        self.tracer.close(sid)
        return wall, records

    def _run_key(self, key: str, traced: bool) -> dict:
        rec: dict = {"key": key}
        tr = self.tracer if traced else self.untraced
        if traced:
            cpu0 = self.cpu.sample()
            n_progress = len(self.listener.progress)
            j0 = layers.next_job_id(self.spark)
        self.attempted += 1
        key_span = tr.open("key", key)
        t0 = time.perf_counter()
        try:
            b = tr.open("build", key)
            df = self.queries[key](self.spark, self.sf_dir)
            tr.close(b)
            t1 = time.perf_counter()
            j1 = layers.next_job_id(self.spark) if traced else 0
            e = tr.open("exec", key)
            self._noop(df)
            tr.close(e)
        except Exception as exc:  # noqa: BLE001 — a failing key is reported, not fatal
            tr.close_to(key_span, error=True)
            self.failures.append({"key": key, "error": f"{type(exc).__name__}: {exc}"[:500],
                                  "traceback": traceback.format_exc()[-2000:]})
            rec["error"] = True
            return rec
        t2 = time.perf_counter()
        tr.close(key_span)
        self.last_df[key] = df
        rec.update(build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0)
        if traced:
            self._attribute(rec, cpu0, n_progress, j0, j1, b, e)
        return rec

    def _attribute(self, rec, cpu0, n_progress, j0, j1, build_span, exec_span) -> None:
        """Per-layer counters of one traced key, attributed by job range."""
        j2 = layers.next_job_id(self.spark)
        layers.drain_listeners(self.spark)
        cpu1 = self.cpu.sample()
        spans = self.tracer.spans
        for phase, (a, z), span in (("build", (j0, j1), build_span), ("exec", (j1, j2), exec_span)):
            work = layers.spark_work(self.spark, a, z)
            for start, end in work.pop("job_intervals"):
                self.tracer.add("job", start, end, span, rec["key"])
            rec[f"{phase}_self_s"] = layers.uncovered(
                spans[span], [c for c in spans if c.parent == span])
            rec[f"{phase}_jobs"] = work["jobs"]
            for k, v in work.items():
                if k != "jobs":
                    rec[k] = rec.get(k, 0) + v
        rec["idle_s"] = rec["build_self_s"] + rec["exec_self_s"]
        for k in ("driver", "jvm", "worker"):
            rec[f"{k}_cpu_s"] = cpu1[k] - cpu0[k]
        rec["cache_bytes"], rec["cache_rdds"] = layers.cached_storage(self.spark)
        stream = layers.fold_progress(self.listener.progress[n_progress:])
        rec.update({f"stream_{k}": v for k, v in stream.items()})


def timed_passes(runner: Runner, rng: random.Random, keys: list[str], min_passes: int,
                 seconds: float, traced: bool) -> tuple[list[list[str]], list[dict]]:
    """Passes until ``seconds`` have elapsed and at least ``min_passes``
    (and two, so that a traced run, which alternates untraced and
    traced passes, has one of each) have run."""
    orders, passes = [], []
    t0 = time.perf_counter()
    while True:
        if len(passes) >= max(min_passes, 2) and time.perf_counter() - t0 >= seconds:
            return orders, passes
        kind = traced and len(passes) % 2 == 1
        order = rng.sample(keys, len(keys))
        wall, records = runner.run_pass(order, kind)
        orders.append(order)
        passes.append({"traced": kind, "wall_s": wall, "records": records})


# ----------------------------------------------------------------- metrics


def end_to_end(setup_s: float, passes: list[dict], peak_mb: float) -> tuple[dict, dict]:
    walls = [p["wall_s"] for p in passes if not p["traced"]]
    samples = [r["wall_s"] for p in passes if not p["traced"]
               for r in p["records"] if "wall_s" in r]
    value, pct, n = tail(samples)
    metrics = {
        "setup_s": setup_s,
        "pass_s": statistics.median(walls),
        "query_p50_s": hd_median(samples),
        "peak_rss_mb": peak_mb,
    }
    return metrics, {"query_tail_s": value, "query_tail_percentile": pct,
                     "query_samples": n, "timed_passes": len(walls)}


def per_layer(setup: dict, first_pass: list[dict], passes: list[dict], nproc: int) -> tuple[dict, dict]:
    """Workload totals per traced pass (median over traced passes) and
    per-key medians."""
    traced = [p for p in passes if p["traced"]]

    def total(records: list[dict], field: str) -> float:
        return sum(r.get(field, 0) for r in records if "wall_s" in r)

    fields = {
        "build.s": "build_s", "build.self_s": "build_self_s", "build.jobs": "build_jobs",
        "exec.s": "exec_s", "exec.self_s": "exec_self_s", "exec.jobs": "exec_jobs",
        "sched.stages": "stages", "sched.tasks": "tasks", "sched.idle_s": "idle_s",
        "executor.run_s": "run_s", "executor.cpu_s": "cpu_s", "executor.gc_s": "gc_s",
        "shuffle.read_bytes": "shuffle_read_bytes",
        "shuffle.write_bytes": "shuffle_write_bytes",
        "shuffle.spill_bytes": "spill_bytes",
        "io.input_bytes": "input_bytes", "io.output_bytes": "output_bytes",
        "python.worker_cpu_s": "worker_cpu_s", "python.driver_cpu_s": "driver_cpu_s",
        "jvm.cpu_s": "jvm_cpu_s",
        "cache.bytes": "cache_bytes", "cache.rdds": "cache_rdds",
        "stream.batches": "stream_batches", "stream.trigger_ms": "stream_trigger_ms",
        "stream.commit_ms": "stream_commit_ms", "stream.state_rows": "stream_state_rows",
        "stream.state_commit_ms": "stream_state_commit_ms",
    }
    m = {name: statistics.median(total(p["records"], f) for p in traced)
         for name, f in fields.items()}
    # cache.* is what is held after a key: the pass's peak, not a sum
    for name, f in (("cache.bytes", "cache_bytes"), ("cache.rdds", "cache_rdds")):
        m[name] = statistics.median(max((r.get(f, 0) for r in p["records"]), default=0)
                                    for p in traced)
    m["sched.jobs"] = m["build.jobs"] + m["exec.jobs"]
    wall = statistics.median(p["wall_s"] for p in traced)
    m["executor.busy_frac"] = m["executor.run_s"] / (wall * nproc)
    m["build.jobs_first"] = total(first_pass, "build_jobs")
    m.update(setup)
    m["trace.overhead_s"] = wall - statistics.median(p["wall_s"] for p in passes if not p["traced"])

    keys = sorted({r["key"] for p in traced for r in p["records"]})
    per_key = {}
    for k in keys:
        recs = [r for p in traced for r in p["records"] if r["key"] == k and "wall_s" in r]
        if recs:
            per_key[k] = {f: statistics.median(r.get(f, 0) for r in recs)
                          for f in ("wall_s", "build_s", "exec_s", "build_jobs", "exec_jobs",
                                    "stages", "tasks", "idle_s", "run_s", "cpu_s", "gc_s",
                                    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                                    "input_bytes", "output_bytes", "worker_cpu_s",
                                    "driver_cpu_s", "jvm_cpu_s", "cache_bytes", "cache_rdds",
                                    "stream_batches", "stream_trigger_ms")}
        first = [r for r in first_pass if r["key"] == k]
        if first and k in per_key:
            per_key[k]["build_jobs_first"] = first[0].get("build_jobs", 0)
    return m, per_key


# -------------------------------------------------------------------- main


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", help="fixture directory under perfbench/data "
                    "(default: the workload's own)")
    return ap.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    workers = layers.descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in workers:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "engine", "registry.py")):
        print(f"perfbench: no engine/ next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    scale = args.scale or wl.scale
    sf_dir = os.path.join(DATA_DIR, scale)
    if not os.path.isfile(os.path.join(sf_dir, "events.parquet")):
        print(f"perfbench: no fixture at {sf_dir}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    load_start = os.getloadavg()
    steal_start = layers.steal_seconds()
    pinned = pin_environment()

    sys.path.insert(0, ROOT)
    from engine.registry import all_oracles, all_queries
    from engine.session import get_spark
    from engine.streaming import _stage

    import verify
    from tools.check import assert_scale_knobs_unset, duck_con

    assert_scale_knobs_unset("a benchmark run")
    confine_engine_scratch()
    tracer = layers.Tracer(traced)
    setup = {}

    sid = tracer.open("session.start")
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}")
    setup["session.start_s"] = time.perf_counter() - t
    tracer.close(sid)
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        queries = all_queries()
        runner = Runner(spark, queries, sf_dir, tracer, jvm_pid)

        sid = tracer.open("session.lane_warm")
        t = time.perf_counter()
        runner.lanes(wl.lanes)
        setup["session.lane_warm_s"] = time.perf_counter() - t
        tracer.close(sid)

        sid = tracer.open("io.stage")
        t = time.perf_counter()
        for variant in ("plain", "sentinel", "late"):
            _stage(sf_dir, variant)
        setup["io.stage_s"] = time.perf_counter() - t
        tracer.close(sid)

        rng = random.Random(args.seed)
        keys = list(wl.keys)
        first_order = rng.sample(keys, len(keys))
        _, first_pass = runner.run_pass(first_order, traced)
        setup_s = time.perf_counter() - T_PROCESS
        steal_timed = layers.steal_seconds()

        orders, passes = timed_passes(runner, rng, keys, wl.min_passes, args.seconds, traced)
        steal = {"setup_s": steal_timed - steal_start,
                 "timed_s": layers.steal_seconds() - steal_timed}
        peak = runner.cpu.peak_rss_mb()
        peak_mb = peak["driver"] + peak["jvm"] + peak["workers"]

        con = duck_con(sf_dir)
        con.execute("SET enable_progress_bar = false")
        oracles = all_oracles()
        reference = verify.load_reference(scale)
        wrong: dict[str, str] = {}
        sid = tracer.open("check")
        t = time.perf_counter()
        for key in keys:
            # collect the DataFrame the last timed pass built, so the check
            # sees the state the timed passes left behind without paying
            # for the build again
            if key not in runner.last_df:
                wrong[key] = "no successful run to check"
                continue
            runner.attempted += 1
            try:
                why = verify.check_key(spark, con, key, lambda s, d, df=runner.last_df[key]: df,
                                       oracles.get(key), sf_dir, reference)
            except Exception as exc:  # noqa: BLE001 — reported as a wrong result
                runner.failures.append({"key": key, "error": f"check: {type(exc).__name__}: {exc}"[:500]})
                why = "check raised"
            if why is not None:
                wrong[key] = why
        check_s = time.perf_counter() - t
        tracer.close(sid)
        con.close()
        box = box_record(spark, pinned["nproc"])
    finally:
        stop_spark(spark)

    e2e, tail_info = ({}, {}) if traced else end_to_end(setup_s, passes, peak_mb)
    failed = len(runner.failures)
    record = {
        "workload": wl.name, "scale": scale, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "keys": keys, "load_avg_start": load_start,
        "cpu_steal": steal, "box": box,
        "key_order": {"untimed": first_order, "timed": orders},
        "untimed_key_wall_s": {r["key"]: r.get("wall_s") for r in first_pass},
        "end_to_end": e2e, **tail_info,
        "fail_ratio": failed / runner.attempted, "wrong_results": len(wrong),
        "wrong": wrong, "failures": runner.failures, "setup": setup,
        "check_s": check_s, "peak_rss_mb": peak,
        "passes": [{"traced": p["traced"], "wall_s": p["wall_s"],
                    "key_wall_s": {r["key"]: r.get("wall_s") for r in p["records"]}}
                   for p in passes],
    }
    if traced:
        layer_metrics, per_key = per_layer(setup, first_pass, passes, pinned["nproc"])
        record.update(per_layer=layer_metrics, per_key=per_key,
                      self_time_s=layers.self_times(tracer.spans))
        metrics = {n: (layer_metrics[n], u) for n, u in PER_LAYER.items()}
    else:
        metrics = {n: (e2e[n], u) for n, u in END_TO_END.items()}
    stem = os.path.join(RESULTS_DIR, f"{wl.name}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if traced:
        tracer.write(stem + "-spans.jsonl")

    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    if not traced:
        print(f"query_tail_s = {tail_info['query_tail_s']:.6g} s "
              f"(p{tail_info['query_tail_percentile']} of n={tail_info['query_samples']} queries)")
    print(f"fail_ratio = {record['fail_ratio']:.6g} ratio")
    print(f"wrong_results = {len(wrong)} count")
    for f in runner.failures:
        print(f"failed: {f['key']}: {f['error']}", file=sys.stderr)
    for k, why in wrong.items():
        print(f"wrong: {k}: {why}", file=sys.stderr)
    print(json.dumps({
        "correct": not wrong,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
