"""Tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest ftbench/test_helpers.py -q
"""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
from stats import covered_length, median, percentile, self_time  # noqa: E402
from tracing import Tracer  # noqa: E402


def test_percentile_interpolates_between_ranks():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 0) == 1
    assert percentile(xs, 100) == 5
    assert percentile(xs, 50) == 3
    assert percentile(xs, 25) == 2
    assert percentile([1, 2], 50) == 1.5
    assert percentile([10, 20, 30, 40], 90) == pytest.approx(37.0)
    assert median([7]) == 7


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1], 101)


def test_self_time_subtracts_the_union_of_children():
    # children overlap each other and one runs past the parent's end
    kids = [(1.0, 3.0), (2.0, 5.0), (7.0, 8.0), (9.5, 12.0)]
    assert covered_length(kids, 0.0, 10.0) == pytest.approx(4.0 + 1.0 + 0.5)
    assert self_time(0.0, 10.0, kids) == pytest.approx(4.5)
    assert self_time(0.0, 2.0, []) == 2.0


def test_tracer_nests_spans_and_records_nothing_when_off():
    tr = Tracer(enabled=False)
    with tr.span("a") as s:
        assert s is None
    assert tr.spans == []
    tr.enabled = True
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == 0 and outer.parent is None
    selfs = tr.self_times()
    assert selfs[0] == pytest.approx((outer.end - outer.start) - (inner.end - inner.start))
    assert selfs[1] == pytest.approx(inner.end - inner.start)


def _term_dict_hits(queries, looked_up: set) -> list[tuple[int, int]]:
    """(hits, lookups) per query against a term-dictionary cache that
    starts as `looked_up` and keeps every term it sees — the behaviour of
    `LoadedIndex._lookup` when every term is in the index."""
    out = []
    for q in queries:
        terms = list(dict.fromkeys(w.lstrip("-") for w in q.text.split()))
        hits = sum(t in looked_up for t in terms)
        looked_up.update(terms)
        out.append((hits, len(terms)))
    return out


def _synthetic_df():
    df = {f"h{i}": 100 + i for i in range(20)}
    df.update({f"m{i}": 10 + i % 90 for i in range(400)})
    df.update({f"r{i}": 2 + i % 8 for i in range(400)})
    return df


@pytest.mark.parametrize("seed", [0, 7, 12345])
def test_term_dict_hit_ratio_is_the_same_in_every_16_query_window(seed):
    plan = inputs.plan_terms(_synthetic_df(), seed)
    stream = inputs.query_stream(plan, seed, cycles=8)
    per_query = _term_dict_hits(stream, set(plan.pool))
    n = len(inputs.CYCLE)
    ratios = set()
    for lo in range(len(stream) - n + 1):
        hits = sum(h for h, _ in per_query[lo:lo + n])
        looks = sum(t for _, t in per_query[lo:lo + n])
        ratios.add((hits, looks))
    assert len(ratios) == 1
    (hits, looks), = ratios
    assert looks - hits == inputs.FRESH_PER_CYCLE  # both sides of the cache are used
    assert 0 < hits < looks


def test_query_stream_is_seeded_and_fresh_terms_never_repeat():
    df = _synthetic_df()
    a = inputs.query_stream(inputs.plan_terms(df, 3), 3, cycles=4)
    b = inputs.query_stream(inputs.plan_terms(df, 3), 3, cycles=4)
    c = inputs.query_stream(inputs.plan_terms(df, 4), 4, cycles=4)
    assert a == b
    assert [q.text for q in a] != [q.text for q in c]
    assert [(q.mode, q.k) for q in a] == [(q.mode, q.k) for q in c]
    fresh = [q.fresh for q in a if q.fresh]
    assert len(fresh) == len(set(fresh)) == 4 * inputs.FRESH_PER_CYCLE
    # each (mode, k) class fills a batch of 32 from 8 cycles
    for klass in {(m, k) for _, m, k, _, _ in inputs.CYCLE}:
        assert sum(1 for _, m, k, _, _ in inputs.CYCLE if (m, k) == klass) * 8 == 32


def test_query_stream_refuses_to_reuse_fresh_terms():
    plan = inputs.plan_terms(_synthetic_df(), 1)
    cycles = math.ceil(len(plan.fresh) / inputs.FRESH_PER_CYCLE) + 1
    with pytest.raises(ValueError):
        inputs.query_stream(plan, 1, cycles)


def test_scale_is_the_reference_over_the_median_calibration(monkeypatch):
    workloads = pytest.importorskip("workloads")
    times = iter([9.9, 9.9, 0.2, 0.5, 0.3])  # two untimed warm-up runs first
    monkeypatch.setattr(workloads, "calibration_s", lambda spark: next(times))
    ctx = workloads.Ctx(
        spark=None, work="", seed=0, seconds=1.0, trace=False, corpus=None, plan=None,
        tracer=Tracer(False),
    )
    ctx.start_measuring()
    for _ in range(3):
        ctx.calibrate()
    assert ctx.calib == [0.2, 0.5, 0.3]
    assert ctx.scale() == pytest.approx(workloads.CALIB_REF_S / 0.3)


def test_traced_runs_do_not_calibrate(monkeypatch):
    workloads = pytest.importorskip("workloads")
    monkeypatch.setattr(workloads, "calibration_s", lambda spark: pytest.fail("calibrated"))
    ctx = workloads.Ctx(
        spark=None, work="", seed=0, seconds=1.0, trace=True, corpus=None, plan=None,
        tracer=Tracer(False),
    )
    ctx.start_measuring()
    ctx.calibrate()
    assert ctx.calib == []
