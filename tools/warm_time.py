"""Targeted warm per-key timing: one shared warmed session, per key one
untimed warm execution then N timed noop-sink runs, reporting the min —
the SCALING.md warm-protocol rule (the only protocol citable when the
host canary reads cold-sick). Usage:

    python tools/warm_time.py [-n 3] [sf_dir] key [key ...]

Prints one JSON line {key: best_sec, ...} plus per-run walls to stderr.
Jobs are labelled (guide §1.5) so a UI/event-log reader can attribute
stages to keys.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from engine.registry import all_queries  # noqa: E402
from engine.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    n = 3
    if args and args[0] == "-n":
        n = int(args[1])
        args = args[2:]
    # ADVICE r16: a leading existing-directory arg is the sf_dir; every
    # OTHER arg must be a registered key — the old isdir filter silently
    # dropped a key colliding with a local dir name and let a mistyped
    # sf_dir crash later as a KeyError.
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
    spark = get_spark("warm_time")
    # same untimed lane warmups as bench.py
    queries["q_agg_group"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.range(64).repartition(4).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    out: dict[str, float] = {}
    for key in keys:
        walls = []
        for i in range(n + 1):
            spark.sparkContext.setJobDescription(f"warm_time:{key}:{i}")
            t0 = time.perf_counter()
            queries[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[key] = min(walls[1:])  # first execution is the untimed warm
        print(f"[warm] {key}: {walls} -> best {out[key]}", file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "n_timed": n, "best": out}))


if __name__ == "__main__":
    main()
