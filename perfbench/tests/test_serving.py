"""Due-time latency, generator-lag and backlog accounting; the stage chain
against its reference reply."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from perfbench.serving import (
    Digest,
    Ledger,
    Tokenize,
    expected_reply,
    max_rps,
    poisson_offsets,
)


def test_latency_counts_from_due_time_not_send_time():
    led = Ledger()
    # request 0 was due at 0.0 but the generator stalled until 0.3;
    # request 1 was sent on time; one micro-batch answers both at 0.5
    led.due.update({0: 0.0, 1: 0.1})
    led.sent.update({0: 0.3, 1: 0.1})
    led.record_reply(0, 0.5, 3, "a")
    led.record_reply(1, 0.5, 3, "b")
    assert led.latencies_ms([0, 1]) == pytest.approx([500.0, 400.0])
    assert led.gen_lag_ms_max([0, 1]) == pytest.approx(300.0)


def test_duplicate_reply_is_counted_and_keeps_first():
    led = Ledger()
    led.due[7] = led.sent[7] = 0.0
    led.record_reply(7, 1.0, 2, "x")
    led.record_reply(7, 2.0, 2, "x")
    assert led.duplicates == 1
    assert led.latencies_ms([7]) == pytest.approx([1000.0])


def test_unanswered_requests_have_no_latency():
    led = Ledger()
    led.due[1] = led.sent[1] = 0.0
    stats = led.step_stats([1])
    assert stats["completed"] == 0 and stats["p50_ms"] == 0.0


def _steady(rate: float, secs: float, serve_rate: float) -> Ledger:
    """Requests sent at ``rate`` for ``secs``; served FIFO at ``serve_rate``
    after a 0.2 s pipeline delay."""
    led = Ledger()
    n = int(rate * secs)
    free = 0.0
    for i in range(n):
        t = i / rate
        led.due[i] = led.sent[i] = t
        free = max(free, t + 0.2) + 1 / serve_rate
        led.record_reply(i, free, 1, "d")
    return led


def test_backlog_flat_when_sustainable_and_growing_when_not():
    ok = _steady(100.0, 10.0, serve_rate=400.0)
    assert abs(ok.backlog_slope(range(1000))) < 5.0
    over = _steady(100.0, 10.0, serve_rate=50.0)
    assert over.backlog_slope(range(1000)) == pytest.approx(50.0, rel=0.1)


def test_step_stats_reports_supported_tail():
    led = _steady(100.0, 10.0, serve_rate=400.0)
    stats = led.step_stats(range(1000))
    assert stats["tail_pct"] == 99
    assert stats["p50_ms"] <= stats["tail_ms"]


def _st(tail_ms: float, completed: float = 100.0) -> dict:
    return {"n": 100.0, "completed": completed, "tail_ms": tail_ms}


def test_max_rps_stops_at_the_first_failing_step():
    assert max_rps([(400, _st(900)), (1200, _st(1500)), (1600, _st(1900))], 2000) == 1600
    # a later step that passes again does not count: the staircase stopped
    assert max_rps([(400, _st(900)), (1200, _st(2500)), (1600, _st(1900))], 2000) == 400
    assert max_rps([(400, _st(900)), (1200, _st(900, completed=99))], 2000) == 400
    # no supported tail (too few samples) is not a pass
    assert max_rps([(400, _st(0.0))], 2000) == 0.0


def test_poisson_offsets_are_seeded_and_have_the_rate():
    a = poisson_offsets(200.0, 4000, random.Random(3))
    assert a == poisson_offsets(200.0, 4000, random.Random(3))
    assert a == sorted(a)
    assert a[-1] / len(a) == pytest.approx(1 / 200.0, rel=0.05)


def test_stage_chain_matches_reference_reply():
    texts = ["Stream  frame Caption", "a", "x y z w"]
    batch = pd.DataFrame({"id": [1, 2, 3], "text": texts})
    out = Digest().process_data(Tokenize().process_data(batch))
    got = list(zip(out["n_tokens"], out["digest"]))
    assert got == [expected_reply(t) for t in texts]
