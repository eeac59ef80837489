"""One warmed-session loop over registered keys, in three modes.

    python tools/sweep.py cold [ROUND] [sf_dir] [key ...]
    python tools/sweep.py warm [-n N] [ROUND] [sf_dir] [key ...]
    python tools/sweep.py plan TAG before|after [sf_dir] [key ...]

- ``cold``: after the lane warm-ups, one timed noop-sink run per key. It
  catches first-execution/compile regressions.
- ``warm``: after the lane warm-ups, one untimed run per key, then the
  min of N timed runs (default 2, the protocol of the committed
  ``BENCH_FULL_WARM_r*.json``). Warm walls hold up under host-side
  contention that inflates cold sweeps 1.4-4x.
- ``plan``: writes each key's ``df.explain("formatted")`` to
  ``plans/TAG/<key>_<stage>.txt``, the text a user would see, so a plan
  claim can be backed by a committed file. No lane warm-ups: their
  queries would shift the expression IDs in the text.

Keys default to every registered key, in sorted order; sf_dir defaults
to $SPARK_GRAFT_SF_DIR, else sf0.1. A key that raises is recorded under
``errors`` and the sweep goes on. Each key's jobs run in Spark job group
``<key>``, so an event-log or UI reader can attribute stages to keys.

cold/warm print one line per key, then, with ROUND, write
``BENCH_FULL[_WARM]_r{ROUND}.json`` at the repo root and diff it against
the previous round's snapshot of the same mode (tools/bench_diff.py);
without ROUND they print the snapshot as one JSON line.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from engine.registry import all_queries  # noqa: E402
from engine.session import get_spark  # noqa: E402
from tools.bench_diff import print_diff  # noqa: E402
from tools.check import assert_scale_knobs_unset  # noqa: E402

MODES = ("cold", "warm", "plan")


def warm_lanes(spark, queries, sf_dir: str) -> None:
    """Same untimed lane warm-ups as bench.py: JVM/codegen, python
    daemon + Arrow pool, MLlib/BLAS, Python DataSource worker, and
    the streaming replay staging."""
    queries["q_agg_group"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.range(64).repartition(4).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.linalg import Vectors

    mldf = spark.createDataFrame(
        [(Vectors.dense([float(i), float(i % 3)]),) for i in range(12)],
        ["features"],
    )
    KMeans(k=2, seed=1, maxIter=2).fit(mldf)
    queries["q_source_python"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    from engine.streaming import _stage

    _stage(sf_dir, "plain")
    _stage(sf_dir, "sentinel")
    _stage(sf_dir, "late")


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def sweep(spark, queries, keys, sf_dir: str, mode: str, n: int = 2,
          plan_dir: str = "", stage: str = "") -> tuple[dict, dict]:
    """Run ``mode`` over ``keys`` in ``spark``; returns (results, errors).

    results[key] is the wall in seconds (cold: one run; warm: min of n
    timed runs after an untimed one) or, in plan mode, the path of the
    plan file written to plan_dir; errors[key] is the first line of
    what the key raised."""
    sc = spark.sparkContext
    results: dict = {}
    errors: dict[str, str] = {}

    def run(key: str) -> float:
        # ONE execution sink for both protocols: warm and cold must
        # measure the same thing
        t0 = time.perf_counter()
        queries[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for i, key in enumerate(keys):
        sc.setJobGroup(key, f"sweep {mode}")
        try:
            if mode == "plan":
                text = plan_text(queries[key](spark, sf_dir))
                path = os.path.join(plan_dir, f"{key}_{stage}.txt")
                with open(path, "w") as fh:
                    fh.write(text)
                results[key] = path
            elif mode == "warm":
                run(key)
                results[key] = round(min(run(key) for _ in range(n)), 3)
            else:
                results[key] = round(run(key), 3)
        except Exception as exc:  # noqa: BLE001 — record and keep sweeping
            # one bad key must not kill the snapshot (this caught the
            # q_stats_anova sf0.1 long overflow on the first run)
            first = (str(exc).splitlines() or [""])[0][:200]
            errors[key] = f"{type(exc).__name__}: {first}"
        shown = f"ERROR {errors[key]}" if key in errors else results[key]
        print(f"[{i + 1:3d}/{len(keys)}] {key}: {shown}", flush=True)
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    return results, errors


def main(argv: list[str]) -> None:
    # start-of-run load stamp: taken before any Spark work so it
    # reflects the box, not this sweep's own load
    load_start = os.getloadavg() if hasattr(os, "getloadavg") else None
    if not argv or argv[0] not in MODES:
        raise SystemExit(__doc__)
    mode, args = argv[0], argv[1:]
    n, rnd = 2, 0
    if mode == "warm" and args[:1] == ["-n"]:
        n, args = int(args[1]), args[2:]
        if n < 1:
            raise SystemExit("-n must be at least 1")
    if mode == "plan":
        if len(args) < 2 or args[1] not in ("before", "after"):
            raise SystemExit("plan mode needs TAG before|after")
        (tag, stage), args = args[:2], args[2:]
    elif args and args[0].isdigit():
        rnd, args = int(args[0]), args[1:]
    # a leading existing-directory arg is the sf_dir; every OTHER arg
    # must be a registered key, so a key colliding with a local dir
    # name is not silently dropped and a mistyped sf_dir is named
    if args and os.path.isdir(args[0]):
        sf_dir, keys = args[0], args[1:]
    else:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        keys = args
    queries = all_queries()
    unknown = [k for k in keys if k not in queries]
    if unknown:
        hint = ""
        if args and args[0] == unknown[0]:
            hint = (f"; {args[0]!r} is not an existing directory either — "
                    "if it was meant as sf_dir, check the path")
        raise SystemExit(f"unknown keys (not in all_queries()): {unknown}{hint}")
    keys = keys or sorted(queries)
    assert_scale_knobs_unset("a registry sweep")
    spark = get_spark(f"sweep-{mode}")

    if mode == "plan":
        plan_dir = os.path.join(ROOT, "plans", tag)
        os.makedirs(plan_dir, exist_ok=True)
        _, errors = sweep(spark, queries, keys, sf_dir, mode,
                          plan_dir=plan_dir, stage=stage)
        if errors:
            print(f"{len(errors)} key(s) raised: {sorted(errors)}")
        return

    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    warm_lanes(spark, queries, sf_dir)
    times, errors = sweep(spark, queries, keys, sf_dir, mode, n)
    # load_avg_start is 1/5/15-min BEFORE any Spark work (the stamp
    # that adjudicates box contention); load_avg is the END stamp,
    # kept for artifact continuity
    load = os.getloadavg() if hasattr(os, "getloadavg") else None
    out = {
        "metric": "full_registry_warm_total" if mode == "warm" else "full_registry_total",
        "protocol": f"warm-best-of-{n}" if mode == "warm" else "cold-single-shot",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "n_keys": len(times),
        "n_errors": len(errors),
        "errors": errors,
        "sf": sf,
        "queries": times,
        "load_avg_start": (
            [round(x, 2) for x in load_start] if load_start else None
        ),
        "load_avg": [round(x, 2) for x in load] if load else None,
    }
    if not rnd:
        print(json.dumps(out, sort_keys=True))
        return
    stem = "BENCH_FULL_WARM" if mode == "warm" else "BENCH_FULL"
    path = os.path.join(ROOT, f"{stem}_r{rnd:02d}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"\nwrote {path}: {out['value']}s over {out['n_keys']} keys")

    # movers against the latest earlier round of the same mode (warm
    # diffs only against warm)
    prior = next((p for r in range(rnd - 1, 0, -1) if os.path.exists(
        p := os.path.join(ROOT, f"{stem}_r{r:02d}.json"))), None)
    if prior:
        print()
        print_diff(prior, path)


if __name__ == "__main__":
    main(sys.argv[1:])
