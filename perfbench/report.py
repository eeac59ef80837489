"""Summarise result records written by ``run.py`` as Markdown.

    python3 perfbench/report.py [results_dir ...]   # default .perfbench/results

For untraced runs, each end-to-end metric per workload and directory:
median, first and third quartile over runs, and the spread
(Q3 - Q1) / median that ``BENCHMARK.json``'s bounds are judged
against, and the CPU steal time of the runs' timed passes. Given
several directories (sets of runs of the same code), it also compares
each later set's medians with the first's against the bounds. For traced runs,
the per-layer totals per pass and a per-key table.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

import run

KEY_COLUMNS = (
    ("wall_s", "wall s", "{:.2f}"), ("build_s", "build s", "{:.2f}"),
    ("build_jobs_first", "build jobs 1st", "{:.0f}"), ("build_jobs", "build jobs", "{:.0f}"),
    ("exec_jobs", "exec jobs", "{:.0f}"), ("stages", "stages", "{:.0f}"),
    ("tasks", "tasks", "{:.0f}"), ("idle_s", "idle s", "{:.2f}"),
    ("cpu_s", "exec cpu s", "{:.2f}"), ("shuffle_write_bytes", "shuffle w kB", "{:.0f}"),
    ("input_bytes", "in kB", "{:.0f}"), ("output_bytes", "out kB", "{:.0f}"),
    ("worker_cpu_s", "py worker s", "{:.2f}"), ("jvm_cpu_s", "jvm cpu s", "{:.2f}"),
    ("cache_bytes", "cache kB", "{:.0f}"), ("stream_batches", "batches", "{:.0f}"),
)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def end_to_end_table(records: list[dict]) -> list[str]:
    lines = ["| workload | metric | runs | median | Q1 | Q3 | spread |",
             "| --- | --- | ---: | ---: | ---: | ---: | ---: |"]
    for wl in sorted({r["workload"] for r in records}):
        runs = [r for r in records if r["workload"] == wl]
        for name, unit in run.END_TO_END.items():
            q1, med, q3 = quartiles([r["end_to_end"][name] for r in runs])
            lines.append(f"| {wl} | {name} ({unit}) | {len(runs)} | {med:.4g} | "
                         f"{q1:.4g} | {q3:.4g} | {(q3 - q1) / med:.3f} |")
        q1, med, q3 = quartiles([r["query_tail_s"] for r in runs])
        tails = sorted({(r["query_tail_percentile"], r["query_samples"]) for r in runs})
        lines.append(f"| {wl} | query_tail_s (s, not gated; "
                     + ", ".join(f"p{p} of n={n}" for p, n in tails)
                     + f") | {len(runs)} | {med:.4g} | {q1:.4g} | {q3:.4g} | {(q3 - q1) / med:.3f} |")
        steal = sorted(r["cpu_steal"]["timed_s"] for r in runs)
        lines.append(f"| {wl} | CPU steal in timed passes (s, host) | {len(runs)} | "
                     f"{statistics.median(steal):.3g} | min {steal[0]:.3g} | max {steal[-1]:.3g} | |")
    return lines


def compare_table(first: list[dict], second: list[dict]) -> list[str]:
    """Second set's median against the first's, and both spreads,
    against each metric's bound in ``BENCHMARK.json``."""
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    lines = ["| workload | metric | bound | median, set 1 | median, this set | change | "
             "spread, set 1 | spread, this set |",
             "| --- | --- | ---: | ---: | ---: | ---: | ---: | ---: |"]
    for wl in sorted({r["workload"] for r in first} & {r["workload"] for r in second}):
        a = [r for r in first if r["workload"] == wl]
        b = [r for r in second if r["workload"] == wl]
        for name in run.END_TO_END:
            qa, qb = (quartiles([r["end_to_end"][name] for r in x]) for x in (a, b))
            lines.append(f"| {wl} | {name} | {bounds[name]} | {qa[1]:.4g} | {qb[1]:.4g} | "
                         f"{(qb[1] - qa[1]) / qa[1]:+.3f} | {(qa[2] - qa[0]) / qa[1]:.3f} | "
                         f"{(qb[2] - qb[0]) / qb[1]:.3f} |")
    return lines


def per_layer_tables(record: dict) -> list[str]:
    lines = [f"### {record['workload']} (traced, seed {record['seed']})", "",
             "| metric | value | unit |", "| --- | ---: | --- |"]
    for name, unit in run.PER_LAYER.items():
        lines.append(f"| {name} | {record['per_layer'][name]:.4g} | {unit} |")
    lines += ["", "| key | " + " | ".join(c[1] for c in KEY_COLUMNS) + " |",
              "| --- |" + " ---: |" * len(KEY_COLUMNS)]
    for key, row in sorted(record["per_key"].items()):
        cells = []
        for field, label, fmt in KEY_COLUMNS:
            v = row.get(field, 0)
            cells.append(fmt.format(v / 1000 if "kB" in label else v))
        lines.append(f"| {key} | " + " | ".join(cells) + " |")
    return lines + [""]


def main(argv: list[str]) -> int:
    sets = []
    for results in argv or [run.RESULTS_DIR]:
        records = []
        for path in sorted(glob.glob(os.path.join(results, "*.json"))):
            with open(path) as fh:
                records.append(json.load(fh))
        sets.append((results, records))
    out = []
    untraced = [(d, [r for r in rs if not r["trace"]]) for d, rs in sets]
    untraced = [(d, rs) for d, rs in untraced if rs]
    if untraced:
        out += ["## End to end", ""]
        for d, rs in untraced:
            seeds = sorted(r["seed"] for r in rs)
            out += [f"### `{d}` (seeds {seeds[0]}-{seeds[-1]})", ""]
            out += end_to_end_table(rs) + [""]
        for i, (_, rs) in enumerate(untraced[1:], 2):
            out += [f"### Set {i} against set 1", ""]
            out += compare_table(untraced[0][1], rs) + [""]
    traced = [r for _, rs in sets for r in rs if r["trace"]]
    if traced:
        out += ["## Per layer", ""]
        for r in sorted(traced, key=lambda r: (r["workload"], r["seed"])):
            out += per_layer_tables(r)
    print("\n".join(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
