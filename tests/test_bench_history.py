"""Bench regression gate on exact work counters.

bench.py records, per slot, the minimum number of Spark jobs, stages
and Python-worker tasks over its trials. Those counts come from the
status store, not a clock, so two runs of the same code at the same sf
and core count repeat them exactly, whatever else the host is doing.
The gate fails when the newest counted entry in bench_history.jsonl
ran more of any of them on any slot than the previous counted entry at
the same sf and core count.
A deliberate increase is accepted by recording a fresh entry after it.
Entries written before counting began carry no counts and are skipped.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from bench import count_regressions, load_history, previous_counts  # noqa: E402

HISTORY = os.path.join(ROOT, "bench_history.jsonl")


def _latest_regressions(path: str) -> dict | None:
    """Count regressions of the newest counted entry against the
    previous one at its sf and core count; None when there is no such
    pair yet."""
    counted = [e for e in load_history(path) if e.get("counts")]
    if not counted:
        return None
    latest = counted[-1]
    prior = previous_counts(counted[:-1], latest["sf"], latest["cpus"])
    if prior is None:
        return None
    missing = sorted(set(prior) - set(latest["counts"]))
    assert not missing, f"slots dropped from the count gate: {missing}"
    return count_regressions(prior, latest["counts"])


def test_latest_bench_within_regression_budget():
    bad = _latest_regressions(HISTORY)
    if bad is None:
        pytest.skip("fewer than two counted bench runs at one sf and core count")
    assert not bad, f"Spark job/stage/Python-task counts rose: {bad}"


def test_planted_extra_shuffle_fails_gate(tmp_path):
    """One extra shuffle in one slot (one more job, one more stage)
    fails the gate, and so does one extra Python task; identical counts
    pass; entries without counts, or at another core count, are not
    compared against."""
    counts = {
        "join_inner_equi": {"jobs": 3, "stages": 4, "python_tasks": 0},
        "window_rank": {"jobs": 2, "stages": 3, "python_tasks": 2},
    }
    planted = dict(
        counts, window_rank={"jobs": 3, "stages": 4, "python_tasks": 2}
    )
    forked = dict(
        counts, join_inner_equi={"jobs": 3, "stages": 4, "python_tasks": 1}
    )
    old = {"ts": 1.0, "sf": 0.1, "queries": {"window_rank": 1.0}}

    def gate(*entries):
        path = tmp_path / "history.jsonl"
        path.write_text("".join(json.dumps(e) + "\n" for e in entries))
        return _latest_regressions(str(path))

    def entry(cpus, c):
        return {"sf": 0.1, "cpus": cpus, "counts": c}

    assert gate(old, entry(4, counts), entry(4, counts)) == {}
    assert gate(old, entry(4, counts), entry(4, planted)) == {
        "window_rank": {"jobs": [2, 3], "stages": [3, 4]}
    }
    assert gate(entry(4, counts), entry(4, forked)) == {
        "join_inner_equi": {"python_tasks": [0, 1]}
    }
    # a fresh entry after a deliberate increase is the new baseline
    assert gate(entry(4, counts), entry(4, planted), entry(4, planted)) == {}
    # no like-for-like prior: nothing to compare
    assert gate(old, entry(32, counts), entry(4, planted)) is None
    with pytest.raises(AssertionError, match="dropped"):
        gate(entry(4, counts), entry(4, {"window_rank": counts["window_rank"]}))
