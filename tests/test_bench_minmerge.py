"""scripts/bench_minmerge.py: per-query minimum across full bench
records, with "errors" rebuilt from the merged query set and a refusal
to merge runs that attempted different queries."""

from __future__ import annotations

import json
import os
import subprocess
import sys

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "bench_minmerge.py"
)


def _record(queries, errors=None, value=None):
    rec = {"metric": "headline_queries_total", "sf": 0.1, "cpus": 4,
           "queries": queries, "value": value if value is not None else sum(queries.values())}
    if errors:
        rec["errors"] = errors
    return rec


def _merge(tmp_path, *runs):
    paths = []
    for i, run in enumerate(runs):
        p = tmp_path / f"run{i}.json"
        p.write_text(json.dumps(run) + "\n")
        paths.append(str(p))
    out = tmp_path / "merged.json"
    proc = subprocess.run([sys.executable, SCRIPT, str(out), *paths],
                          capture_output=True, text=True)
    merged = json.loads(out.read_text()) if proc.returncode == 0 else None
    return proc, merged


def test_query_timed_in_an_earlier_run_is_not_an_error(tmp_path):
    proc, merged = _merge(
        tmp_path,
        _record({"a": 1.0, "b": 2.0}),
        _record({"a": 0.5}, errors={"b": "Boom: last run only"}),
    )
    assert proc.returncode == 0, proc.stderr
    assert merged["queries"] == {"a": 0.5, "b": 2.0}
    assert "errors" not in merged
    assert merged["value"] == 2.5
    assert merged["min_of"] == {"n_runs": 2, "run_totals": [3.0, 0.5]}


def test_query_failing_in_every_run_stays_an_error(tmp_path):
    proc, merged = _merge(
        tmp_path,
        _record({"a": 1.0}, errors={"b": "Boom: first"}),
        _record({"a": 0.9}, errors={"b": "Boom: newest"}),
    )
    assert proc.returncode == 0, proc.stderr
    assert merged["queries"] == {"a": 0.9}
    assert merged["errors"] == {"b": "Boom: newest"}


def test_runs_over_different_query_sets_are_refused(tmp_path):
    proc, merged = _merge(
        tmp_path,
        _record({"a": 1.0, "b": 2.0}),
        _record({"a": 0.5}),
    )
    assert proc.returncode != 0 and merged is None
    assert "different query sets" in proc.stderr and "'b'" in proc.stderr
    assert not (tmp_path / "merged.json").exists()
