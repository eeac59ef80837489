"""SparkSession builder tuned for this engine (SURVEY.md §7 step 0).

One SparkSession per process. The driver harness constructs its own
session for ``queries()``; :func:`tune` applies the runtime-settable
confs we rely on to any session we are handed, while :func:`get_spark`
builds a fully configured local session for tests/bench.

Scale notes (100 TB design intent):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast-join demotion/promotion are all decided from runtime stats,
  so the same logical plans survive a 1000-executor deployment.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; AQE
  coalesces down. On a real cluster this would be set ~2-3x total cores.
- Arrow transfer on: every pandas-UDF boundary is Arrow-batched.

Python workers: :func:`get_spark` starts them through
``engine/pyworker/pyspark_graft_worker.py`` (``spark.python.worker.module``,
with that directory alone on the workers' ``PYTHONPATH``; ``engine/``
itself would shadow stdlib ``io``). The module runs ``pyspark.worker``
unchanged, but on Python < 3.12 it stops the per-task re-parse of
``pyspark.zip``'s central directory that ``importlib.invalidate_caches()``
causes there; an archive that changed on disk is still re-read. On 3.12+ it is a no-op.
Both confs are builder-time, so a session built elsewhere and handed to
:func:`tune` (the external driver's) keeps PySpark's default worker.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# Holds only pyspark_graft_worker.py: the Python workers' extra path entry.
WORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pyworker")

# Runtime-settable confs (safe to apply to an externally built session).
RUNTIME_CONF = {
    # Deterministic timestamp semantics vs the DuckDB oracle: fixture
    # parquet timestamps are tz-naive; interpret them as UTC everywhere.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Pre-AQE upper bound, fixed at 32 whatever local[N] the session runs
    # (1x cores on a 32-core box, 8x on a 4-core one); AQE coalesces small
    # stages further.
    "spark.sql.shuffle.partitions": "32",
    # Runtime bloom-filter semi-join reduction: on a selective build
    # side, the probe-side scan filters rows BEFORE the shuffle — at
    # 100 TB this is the difference between shuffling the whole fact
    # table and shuffling the ~matching slice (explicit: the default
    # has flipped across Spark minors).
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # events.parquet carries TIMESTAMP(NANOS), which Spark's vectorized
    # reader rejects; engine.io reads the raw int64 nanos and converts.
    # Applied session-wide (uniform + visible) rather than flipped as a
    # read-time side effect inside one loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Confs correctness depends on: a silent failure here would surface as
# bogus oracle diffs, so these must verify after set (fail loud).
_REQUIRED = ("spark.sql.session.timeZone",)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent).

    Best-effort for perf confs (warn on failure); hard-verified for the
    confs the DuckDB differential comparison depends on (timezone) —
    a session that cannot take those would produce wrong-looking
    'correctness' diffs, which must be an error, not a mystery."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:  # noqa: BLE001
            if k in _REQUIRED:
                raise RuntimeError(f"cannot set required conf {k}={v}: {e}") from e
            warnings.warn(f"engine.session.tune: could not set {k}={v}: {e}", stacklevel=2)
    for k in _REQUIRED:
        got = spark.conf.get(k, None)
        if got != RUNTIME_CONF[k]:
            raise RuntimeError(
                f"required conf {k} is {got!r}, expected {RUNTIME_CONF[k]!r} — "
                "oracle comparisons would silently diverge"
            )
    return spark


def get_spark(app_name: str = "engine") -> SparkSession:
    """Build (or fetch) the shared local SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("ENGINE_DRIVER_MEM", "24g"))
        .config("spark.sql.warehouse.dir", "/root/repo/.tmp/spark-warehouse")
        .config("spark.ui.enabled", "false")
        # Console progress writes \r-partial lines that splice into
        # check.py's per-key [OK]/[FAIL] output and break log grepping
        # (VERDICT r12 "process findings" #2: an [OK]-line count of 411
        # for a 427-pass sweep). Driver-console cosmetic only — not in
        # RUNTIME_CONF because it is builder-time, and the external
        # driver's own session is out of scope.
        .config("spark.ui.showConsoleProgress", "false")
        # Python worker entry point (module docstring): same worker, no
        # per-task re-read of pyspark.zip on Python < 3.12.
        .config("spark.python.worker.module", "pyspark_graft_worker")
        .config("spark.executorEnv.PYTHONPATH", WORKER_DIR)
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
