"""Unit guards for the bench adjudication tooling (no Spark needed).

The bench artifacts are round-over-round evidence; these tests pin the
r13 tooling contracts: protocol-mismatch detection in bench_diff
(ADVICE r12 — the CLI could silently diff warm vs cold walls),
zero-time anomaly reporting (a key that collapsed to ~0 s must be a
reported line, not an invisible skip), and the canary-verdict
embedding path that bench.py / tools/bench_full.py rely on.
"""

from __future__ import annotations

import json

import pytest

from tools import warm_time
from tools.bench_diff import movers, print_diff
from tools.host_canary import subprocess_verdict


def test_movers_reports_zero_time_anomalies():
    old = {"a": 2.0, "b": 0.0, "c": 1.0}
    new = {"a": 0.0, "b": 3.0, "c": 5.0}
    mv, anomalies = movers(old, new)
    # c moved 1.0 -> 5.0 (>2x, >0.5s); a and b each have a zero side
    assert [k for k, _, _ in mv] == ["c"]
    assert sorted(k for k, _, _ in anomalies) == ["a", "b"]


def test_movers_thresholds_unchanged():
    # ratio-only (2.5x but 0.3s abs) and delta-only (1.5x, 2s abs)
    # moves stay excluded — the r10/r11 hand-table thresholds
    old = {"r": 0.2, "d": 4.0}
    new = {"r": 0.5, "d": 6.0}
    mv, anomalies = movers(old, new)
    assert mv == [] and anomalies == []


def _artifact(tmp_path, name: str, protocol: str | None, queries: dict):
    d = {"value": round(sum(queries.values()), 3), "queries": queries}
    if protocol is not None:
        d["protocol"] = protocol
    p = tmp_path / name
    p.write_text(json.dumps(d))
    return str(p)


def test_print_diff_flags_protocol_mismatch(tmp_path, capsys):
    a = _artifact(tmp_path, "a.json", "cold-single-shot", {"k": 1.0})
    b = _artifact(tmp_path, "b.json", "warm-best-of-2", {"k": 1.1})
    ok = print_diff(a, b)
    assert not ok
    assert "protocol mismatch" in capsys.readouterr().out


def test_print_diff_missing_protocol_reads_as_cold(tmp_path, capsys):
    # pre-r12 artifacts carry no 'protocol' field: they are cold
    # single-shots, so they must compare cleanly against new cold runs
    a = _artifact(tmp_path, "a.json", None, {"k": 1.0})
    b = _artifact(tmp_path, "b.json", "cold-single-shot", {"k": 1.1})
    assert print_diff(a, b)
    assert "protocol mismatch" not in capsys.readouterr().out


def test_subprocess_verdict_accepts_recorded_json(tmp_path, monkeypatch):
    # the SPARK_GRAFT_CANARY_JSON arm: a just-recorded canary verdict
    # WITH provenance is embedded as-is, skipping the ~35 s re-run
    verdict = {
        "canary_schema": 2,
        "recorded_utc": "2026-08-16T14:00:00Z",
        "healthy": True,
        "walls": {"q_text_tfidf": 0.7},
    }
    p = tmp_path / "canary.json"
    p.write_text(json.dumps(verdict))
    monkeypatch.setenv("SPARK_GRAFT_CANARY_JSON", str(p))
    assert subprocess_verdict() == verdict


def test_subprocess_verdict_flags_missing_provenance(tmp_path, monkeypatch):
    # ADVICE r13: a pre-recorded verdict without canary_schema /
    # recorded_utc could be arbitrarily stale or from an older
    # protocol — it must be flagged in the embedded copy, not passed
    # off as a fresh schema-2 verdict (and must not raise: the bench
    # run must survive)
    verdict = {"healthy": True, "walls": {"q_text_tfidf": 0.7}}
    p = tmp_path / "canary.json"
    p.write_text(json.dumps(verdict))
    monkeypatch.setenv("SPARK_GRAFT_CANARY_JSON", str(p))
    out = subprocess_verdict()
    assert out["healthy"] is True
    assert "canary_schema" in out["provenance_warning"]
    assert "recorded_utc" in out["provenance_warning"]


def test_run_canary_verdict_carries_provenance_fields():
    # the canary stamps its own provenance (no Spark needed: check
    # the constants and the field wiring via a source-free contract —
    # run_canary itself needs a session, so pin the schema constant
    # and the subprocess passthrough of a schema-2 verdict instead)
    from tools import host_canary

    assert host_canary._SCHEMA_VERSION == 2


def test_subprocess_verdict_never_raises(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CANARY_JSON", str(tmp_path / "missing.json"))
    out = subprocess_verdict()
    assert "error" in out


def test_print_diff_surfaces_embedded_canary(tmp_path, capsys):
    # VERDICT r13 task 7: the diff header prints each artifact's
    # embedded host_canary verdict so every future diff is self-
    # adjudicating; artifacts without the field print '(none)'
    a = _artifact(tmp_path, "a.json", "cold-single-shot", {"k": 1.0})
    bq = {"value": 1.1, "queries": {"k": 1.1}, "protocol": "cold-single-shot",
          "host_canary": {"canary_schema": 2, "recorded_utc": "2026-08-16T14:39:00Z",
                          "healthy": False, "warm_healthy": True}}
    bp = tmp_path / "b.json"
    bp.write_text(json.dumps(bq))
    print_diff(a, str(bp))
    out = capsys.readouterr().out
    assert "canary: (none)" in out
    assert "healthy=False warm_healthy=True recorded=2026-08-16T14:39:00Z" in out


def test_warm_time_names_a_mistyped_sf_dir(monkeypatch):
    # a leading arg that is neither a directory nor a key may be a
    # mistyped sf_dir: the error says so instead of only "unknown key"
    monkeypatch.setattr("sys.argv", ["warm_time.py", "/no/such/sf0.1", "q_agg_group"])
    with pytest.raises(SystemExit, match="not an existing directory"):
        warm_time.main()
