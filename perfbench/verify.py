"""Output checks run after the timed passes.

A key with a DuckDB oracle is compared with it by ``tools.check``'s
public comparison (row count, column names, complex and decimal column
guards, order-insensitive values). A key without an oracle is compared
with the row count and result digest recorded in ``reference.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pandas as pd

_path = list(sys.path)
from tools.check import check_one, normalize  # noqa: E402
sys.path[:] = _path  # tools.check puts its own fixed repo path first

REFERENCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "reference.json")


def digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """(rows, sha256) of a result, independent of row and column order.
    Floats are written to 9 significant digits so that the order in
    which Spark sums partial aggregates cannot change the digest."""

    def cell(v) -> str:
        if isinstance(v, float):
            return f"{v + 0.0:.9g}"
        if isinstance(v, tuple):
            return "(" + ",".join(cell(x) for x in v) + ")"
        return repr(v)

    norm = normalize(pdf)
    h = hashlib.sha256(",".join(norm.columns).encode())
    for row in norm.itertuples(index=False, name=None):
        h.update(("\n" + "|".join(cell(v) for v in row)).encode())
    return len(norm), h.hexdigest()


def load_reference(scale: str) -> dict:
    with open(REFERENCE) as fh:
        return json.load(fh).get(scale, {})


def check_key(spark, con, key: str, fn, oracle: str | None, sf_dir: str,
              reference: dict) -> str | None:
    """None when the key's output is right, else why it is wrong."""
    if oracle is not None:
        ok, msg = check_one(spark, con, key, fn, oracle, sf_dir)
        return None if ok else msg
    if key not in reference:
        return "no oracle and no recorded reference"
    rows, sha = digest(fn(spark, sf_dir).toPandas())
    want = reference[key]
    if rows != want["rows"] or sha != want["sha256"]:
        return f"rows={rows} sha256={sha[:12]} want rows={want['rows']} sha256={want['sha256'][:12]}"
    return None
