"""The end-to-end estimators over timed passes."""

from __future__ import annotations

from types import SimpleNamespace

from perfbench.run import best_of_passes


def _rec(name, lat):
    return {"op": SimpleNamespace(name=name), "lat": lat}


def test_best_of_passes_takes_each_operation_at_its_least():
    passes = [
        {"recs": [_rec("a", 1.0), _rec("b", 3.0)]},
        # a slow spell hit "a" in this pass, and "b" in the first
        {"recs": [_rec("a", 2.0), _rec("b", 2.5)]},
    ]
    assert best_of_passes(passes, lambda r: r["lat"]) == 3.5
    assert best_of_passes(passes[:1], lambda r: r["lat"]) == 4.0
