"""Record the row count and digest of every workload key that has no
DuckDB oracle, into ``reference.json``.

    python3 perfbench/record_reference.py

Run it only when a key's output is meant to change; the digests are
what the benchmark's output check compares against.
"""

from __future__ import annotations

import json
import os
import sys

import run


def main() -> int:
    run.pin_environment()
    sys.path.insert(0, run.ROOT)
    from engine.registry import all_oracles, all_queries
    from engine.session import get_spark

    import verify

    run.confine_engine_scratch()
    spark = get_spark("perfbench-reference")
    try:
        queries, oracles = all_queries(), all_oracles()
        out: dict[str, dict] = {}
        for wl in run.WORKLOADS.values():
            sf_dir = os.path.join(run.DATA_DIR, wl.scale)
            for key in wl.keys:
                if key not in oracles:
                    rows, sha = verify.digest(queries[key](spark, sf_dir).toPandas())
                    out.setdefault(wl.scale, {})[key] = {"rows": rows, "sha256": sha}
                    print(f"{wl.scale} {key}: {rows} rows {sha[:12]}")
    finally:
        run.stop_spark(spark)
    with open(verify.REFERENCE, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
