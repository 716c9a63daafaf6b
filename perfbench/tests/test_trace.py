"""Span arithmetic, the tail-percentile rule and wrapper installation."""

from __future__ import annotations

import subprocess
import sys
import textwrap

import pytest

from perfbench.trace import Span, Tracer, self_times, tail_percentile, top_level


def _span(sid, name, start, end, parent=None, main=True):
    return Span(sid, name, start, end, parent, op=0, main=main)


def test_self_times_partition_the_top_level_span():
    spans = [
        _span(0, "bench.op", 0.0, 10.0),
        _span(1, "queries.build", 0.0, 4.0, parent=0),
        _span(2, "catalog.table", 0.5, 1.5, parent=1),
        _span(3, "catalog.table", 2.0, 2.5, parent=1),
        _span(4, "spark.execute", 4.0, 9.5, parent=0),
        # another thread's span overlaps the client's and is left out
        _span(5, "streaming.sink_batch", 5.0, 7.0, parent=None, main=False),
    ]
    st = self_times(spans)
    assert st == pytest.approx(
        {"bench": 0.5, "queries": 2.5, "catalog": 1.5, "spark": 5.5}
    )
    assert sum(st.values()) == pytest.approx(sum(s.dur for s in top_level(spans)))
    assert [s.sid for s in top_level(spans)] == [0]


def test_tracer_records_parents_and_skips_when_disabled():
    t = Tracer()
    with t.span("bench.op"):
        with t.span("catalog.table"):
            pass
    t.enabled = False
    with t.span("bench.op"):
        pass
    assert [(s.name, s.parent) for s in t.spans] == [("catalog.table", 0), ("bench.op", None)]


@pytest.mark.parametrize(
    "n, want_value, want_pct",
    [
        (100, 90.0, 90.0),  # 10 samples (91..100) beyond p90
        (40, 30.0, 75.0),
        (21, 11.0, 100.0 * 11 / 21),
        (20, 20.0, 100.0),  # no percentile above p50 has ten beyond: max
        (3, 3.0, 100.0),
    ],
)
def test_tail_percentile_rule(n, want_value, want_pct):
    samples = [float(i) for i in range(n, 0, -1)]  # order must not matter
    value, pct, count = tail_percentile(samples)
    assert (value, pct, count) == (want_value, pytest.approx(want_pct), n)
    if pct < 100.0:
        assert sum(x > value for x in samples) == 10


def test_wrappers_installed_before_load_all_are_seen_by_query_modules():
    code = textwrap.dedent(
        """
        from perfbench.trace import Tracer
        t = Tracer()
        names = t.install()
        import arrow_spark.catalog as cat
        import arrow_spark.sources.tpchgen as gen
        from arrow_spark.queries import load_all
        load_all()
        import arrow_spark.queries.tpch as tpch
        import arrow_spark.operators.kcore as kcore
        assert "catalog.table" in names
        for fn in (cat.table, gen.table, tpch.table, kcore.ckpt_reset_stats):
            assert getattr(fn, "__wrapped_by_perfbench__", False), fn
        print("ok")
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300
    )
    assert out.stdout.strip().endswith("ok"), out.stderr[-2000:]
