"""bench.py's artifact record carries its provenance: commit, CPUs and
a UTC timestamp beside the measured times."""

from __future__ import annotations

import re
import subprocess
from datetime import datetime, timezone

import bench


def test_record_carries_provenance():
    rec = bench._record({"q1": 1.25, "q2": 2.5}, 0.1, {"pyloop_sec": 0.2}, 4)
    assert rec["metric"] == "headline_queries_total_wall"
    assert rec["value"] == 3.75 and rec["unit"] == "sec"
    assert rec["queries"] == {"q1": 1.25, "q2": 2.5}
    assert rec["sf"] == 0.1 and rec["calibration"] == {"pyloop_sec": 0.2}
    assert rec["cpus"] == 4
    assert rec["commit"] is None or re.fullmatch(r"[0-9a-f]{40}", rec["commit"])
    stamp = datetime.fromisoformat(rec["timestamp"])
    assert stamp.tzinfo is not None and stamp.utcoffset().total_seconds() == 0
    assert abs((datetime.now(timezone.utc) - stamp).total_seconds()) < 60


def test_record_commit_is_null_without_git(monkeypatch):
    def no_git(*args, **kwargs):
        raise FileNotFoundError("git")

    monkeypatch.setattr(subprocess, "run", no_git)
    assert bench._record({}, 0.01, {}, 2)["commit"] is None
