"""Spark-free self-tests of the benchmark's measurement helpers.

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import corpus, harness, oracle


def test_tail_percentile_keeps_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    pct, value = harness.tail_percentile(samples)
    assert (pct, value) == (90.0, 90.0)
    assert sum(1 for s in samples if s > value) == 10


def test_tail_percentile_needs_more_than_ten_samples():
    assert harness.tail_percentile([1.0] * 10) is None
    pct, value = harness.tail_percentile([float(i) for i in range(11)])
    assert value == 0.0 and pct == pytest.approx(100 / 11)


def _span(i, name, start, end, parent=None):
    return harness.Span(i, name, start, end, parent, request=0)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, "call", 0, 100),
        _span(1, "a", 10, 40, parent=0),
        _span(2, "b", 30, 50, parent=0),  # overlaps a: union is 10..50
        _span(3, "c", 90, 120, parent=0),  # runs past its parent: clipped
        _span(4, "a.inner", 15, 20, parent=1),
    ]
    st = harness.self_times(spans)
    assert st[0] == pytest.approx(100 - 40 - 10)
    assert st[1] == pytest.approx(30 - 5)
    assert st[4] == pytest.approx(5)


def test_tracer_records_nesting_and_is_free_when_disabled():
    t = harness.Tracer(enabled=True)
    with t.span("outer", request=7):
        with t.span("inner", request=7):
            pass
    inner, outer = t.spans
    assert (inner.name, inner.parent, inner.request) == ("inner", outer.span_id, 7)
    assert outer.parent is None and outer.start_ms <= inner.start_ms
    off = harness.Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def _write_log(tmp_path, events):
    (tmp_path / "local-1700000000000").write_text(
        "".join(json.dumps(e) + "\n" for e in events)
    )
    return str(tmp_path)


def _job(jid, submit, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": submit, "Stage IDs": stages}


def _task(stage, launch, finish, run, ok=True, shuffle=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {"Executor Run Time": run,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}},
    }


def test_jobs_attribute_to_span_open_at_submission(tmp_path):
    """A speculative job submitted inside a call is that call's even when
    it finishes after the call returned; nesting picks the innermost."""
    spans = [
        _span(0, "hybrid.batch", 1000, 2000),
        _span(1, "wand.lexical_batch", 1100, 1300, parent=0),
        _span(2, "hybrid.batch", 3000, 3500),
    ]
    log = _write_log(tmp_path, [
        _job(1, 1150, [10]),  # inside the nested span
        _task(10, 1160, 1290, 100, shuffle=64),
        _job(2, 1900, [11]),  # submitted late in span 0, runs past its end
        _task(11, 1950, 2600, 500),
        _job(3, 2500, [12]),  # between spans: unattributed
        _task(12, 2500, 2600, 90, ok=False),
        _job(4, 3100, [13, 14]),
        _task(13, 3100, 3200, 80),
        _task(14, 3150, 3300, 120, ok=False),
    ])
    jobs, tasks = harness.read_event_log(log)
    assert harness.attribute_jobs(spans, jobs) == {1: 1, 2: 0, 4: 2}
    c = harness.spark_counters(spans, jobs, tasks)
    assert (c[1].jobs, c[1].tasks, c[1].exec_run_ms, c[1].shuffle_bytes) == (1, 1, 100, 64)
    assert (c[0].jobs, c[0].tasks, c[0].exec_run_ms) == (1, 1, 500)
    # span 0's only task covers 1950..2000 of its window
    assert c[0].driver_gap_ms == pytest.approx(1000 - 50)
    assert (c[2].jobs, c[2].tasks, c[2].task_failures) == (1, 2, 1)
    assert c[2].driver_gap_ms == pytest.approx(500 - 200)


def test_union_clips_and_merges():
    assert harness.union_ms([(0, 10), (5, 15), (20, 30)], 0, 100) == 25
    assert harness.union_ms([(0, 10), (5, 15)], 8, 12) == 4
    assert harness.union_ms([], 0, 10) == 0


def test_generator_is_seeded_and_tokenizer_safe():
    import numpy as np

    a = corpus.pseudo_words(np.random.default_rng(3), 500)
    b = corpus.pseudo_words(np.random.default_rng(3), 500)
    assert a == b and len(set(a)) == 500
    assert all(w.isascii() and w.isalpha() and w.islower() for w in a)
    assert len({w[:2] for w in a}) > 40  # spread over many prefix buckets
    rng = np.random.default_rng(1)
    t = corpus.typo(rng, a[0], set(a))
    assert t[:2] == a[0][:2] and t not in a
    assert sum(x != y for x, y in zip(t, a[0])) == 1 and len(t) == len(a[0])


def test_same_topk_allows_ties_at_the_cut_only():
    want = [(1, 3.0), (2, 2.0), (3, 1.0), (4, 1.0)]
    assert oracle.same_topk([(1, 3.0), (2, 2.0), (5, 1.0), (3, 1.0)], want)
    assert not oracle.same_topk([(1, 3.0), (9, 2.0), (3, 1.0), (4, 1.0)], want)
    assert not oracle.same_topk([(1, 3.0), (2, 2.0), (3, 1.0)], want)


def test_steal_pct():
    assert harness.steal_pct((10, 1000), (30, 2000)) == pytest.approx(2.0)
    assert harness.steal_pct((0, 5), (0, 5)) == 0.0
    steal, total = harness.cpu_times()
    assert total > 0 and steal >= 0


if __name__ == "__main__":
    raise SystemExit(pytest.main([os.path.abspath(__file__), "-q"]))
