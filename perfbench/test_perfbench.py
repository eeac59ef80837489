"""Self-test of the benchmark itself, at sf0.001.

    python3 -m pytest perfbench -q

Covers the tail rule, the Harrell-Davis median, span self time, the
stream-progress fold, job-ID range attribution (and why job groups are
not used for it), stream checkpoints written and removed inside the run
directory, the output check counting a deliberately wrong result, and
the metric names and units against ``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import layers
import run
from layers import Span

SF = os.path.join(run.DATA_DIR, "sf0.001")


def test_tail_is_highest_sample_with_ten_beyond() -> None:
    assert run.tail([float(i) for i in range(1, 21)]) == (10.0, 50, 20)
    assert run.tail([float(i) for i in range(40, 0, -1)]) == (30.0, 75, 40)
    assert run.tail([5.0] * 11) == (5.0, 9, 11)
    with pytest.raises(ValueError):
        run.tail([1.0] * 10)


def test_hd_median() -> None:
    assert run.hd_median([5.0]) == pytest.approx(5.0)
    assert run.hd_median([3.0, 1.0, 2.0, 5.0, 4.0]) == pytest.approx(3.0)
    # symmetric about 0.5, and every sample weighs in: two halves far
    # apart give their midpoint, not one of the two middle samples
    assert run.hd_median([0.0] * 6 + [1.0] * 6) == pytest.approx(0.5)
    assert 0.0 < run.hd_median([0.0] * 7 + [1.0] * 6) < 0.5


def test_self_time_subtracts_covered_child_time() -> None:
    spans = [
        Span("build", 0.0, 10.0, None, "k"),
        Span("job", 1.0, 3.0, 0, "k"),
        Span("job", 2.0, 4.0, 0, "k"),  # overlaps the first job
        Span("job", 9.0, 12.0, 0, "k"),  # runs past its parent's end
    ]
    selfs = layers.self_times(spans)
    assert selfs["build"] == pytest.approx(10.0 - 3.0 - 1.0)
    assert selfs["job"] == pytest.approx(2.0 + 2.0 + 3.0)


def test_fold_progress() -> None:
    progress = [
        {"durationMs": {"triggerExecution": 100, "walCommit": 5, "commitOffsets": 7},
         "stateOperators": [{"numRowsTotal": 3, "commitTimeMs": 2},
                            {"numRowsTotal": 4, "commitTimeMs": 1}]},
        {"durationMs": {"triggerExecution": 50}, "stateOperators": [{"numRowsTotal": 5}]},
    ]
    assert layers.fold_progress(progress) == {
        "batches": 2, "trigger_ms": 150, "commit_ms": 12, "state_rows": 7,
        "state_commit_ms": 3,
    }
    assert layers.fold_progress([])["batches"] == 0


def test_metric_names_and_units_match_benchmark_json() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    for w in spec["workloads"]:
        assert run.WORKLOADS[w["name"]].why == w["why"]


# A subprocess run wipes the scratch directory, so it goes before the
# in-process session below is started.
def test_traced_run_prints_every_per_layer_metric() -> None:
    out = subprocess.run(
        [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", "etl_olap",
         "--scale", "sf0.001", "--seed", "0", "--seconds", "1", "--trace", "1"],
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert {n: m["unit"] for n, m in result["metrics"].items()} == run.PER_LAYER


# ------------------------------------------------------------ with Spark


@pytest.fixture(scope="module")
def spark():
    run.pin_environment()
    sys.path.insert(0, run.ROOT)
    run.confine_engine_scratch()
    from engine.session import get_spark

    session = get_spark("perfbench-selftest")
    yield session
    run.stop_spark(session)


def test_job_range_matches_job_group_for_batch_work(spark) -> None:
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    df = spark.range(1000).repartition(3).groupBy((F.col("id") % 7).alias("z")).count()
    a = layers.next_job_id(spark)
    sc.setJobGroup("selftest-batch", "range attribution")
    try:
        df.collect()
        spark.range(100).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    b = layers.next_job_id(spark)
    df.collect()  # may reuse the first collect's shuffle as a skipped stage
    c = layers.next_job_id(spark)
    layers.drain_listeners(spark)
    assert set(sc.statusTracker().getJobIdsForGroup("selftest-batch")) == set(range(a, b))
    first, second, both = (layers.spark_work(spark, x, y) for x, y in ((a, b), (b, c), (a, c)))
    assert first["jobs"] == b - a >= 2
    assert first["stages"] >= first["jobs"] and first["tasks"] >= first["stages"]
    # a stage is counted in the range that ran it, never again where it is reused
    for field in ("jobs", "stages", "tasks", "shuffle_write_bytes"):
        assert first[field] + second[field] == both[field], field


def test_stream_jobs_escape_the_callers_job_group(spark) -> None:
    from engine.registry import all_queries

    runner = run.Runner(spark, all_queries(), SF, layers.Tracer(True),
                        spark.sparkContext._gateway.proc.pid)
    spark.sparkContext.setJobGroup("selftest-stream", "stream attribution")
    try:
        _, (rec,) = runner.run_pass(["q_stream_tumbling"], traced=True)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        runner.run_pass([], traced=False)  # removes the listener
    in_group = spark.sparkContext.statusTracker().getJobIdsForGroup("selftest-stream")
    assert rec["stream_batches"] >= 1
    assert rec["build_jobs"] + rec["exec_jobs"] > len(in_group)


def test_stream_checkpoints_are_removed_inside_the_run_dir(spark) -> None:
    from engine.registry import all_queries

    ckpt = os.path.join(run.ENGINE_TMP, "ckpt")
    runner = run.Runner(spark, all_queries(), SF, layers.Tracer(False),
                        spark.sparkContext._gateway.proc.pid)
    _, (rec,) = runner.run_pass(["q_stream_tumbling"], traced=False)
    assert "error" not in rec
    # the stream wrote its checkpoint under the run dir and deleted it there
    assert os.path.isdir(ckpt) and os.listdir(ckpt) == []


def test_wrong_result_is_counted(spark) -> None:
    import verify
    from engine.registry import all_oracles, all_queries
    from tools.check import duck_con

    queries, oracles = all_queries(), all_oracles()
    key = "q_agg_group"
    con = duck_con(SF)
    right = queries[key]

    def wrong(s, sf_dir):
        df = right(s, sf_dir)
        return df.union(df.limit(1))

    assert verify.check_key(spark, con, key, right, oracles[key], SF, {}) is None
    assert verify.check_key(spark, con, key, wrong, oracles[key], SF, {}) is not None
    rows, sha = verify.digest(right(spark, SF).toPandas())
    good = {key: {"rows": rows, "sha256": sha}}
    bad = {key: {"rows": rows, "sha256": "0" * 64}}
    assert verify.check_key(spark, con, key, right, None, SF, good) is None
    assert verify.check_key(spark, con, key, right, None, SF, bad) is not None
    assert verify.check_key(spark, con, key, right, None, SF, {}) is not None
