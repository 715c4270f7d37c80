"""Spans and the self-time ledger: layers cover the pass exactly."""

from dataclasses import dataclass, field

import pytest

from perfbench.tracing import UNATTRIBUTED, Span, Tracer, ledger


@dataclass
class FakeStage:
    start: float
    end: float
    layer_shares: dict = field(default_factory=dict)


def _tracer(spans):
    t = Tracer("r", enabled=True)
    for i, (name, start, end, parent) in enumerate(spans):
        t.spans.append(Span(i, name, start, end, parent, "r"))
    return t


def test_span_nesting_and_disabled_tracer():
    t = Tracer("r", enabled=True)
    with t.span("pass") as root:
        with t.span("stages.run_extraction") as child:
            pass
    assert child.parent == root.id and root.parent is None
    assert root.start <= child.start <= child.end <= root.end
    off = Tracer("r", enabled=False)
    with off.span("pass") as sp:
        assert sp is None
    assert off.spans == []


def test_ledger_covers_the_pass_and_splits_overlapping_stages():
    t = _tracer(
        [
            ("pass", 0.0, 10.0, None),
            ("stages.run_extraction", 0.5, 1.0, 0),
            ("sink.noop", 1.0, 9.0, 0),
        ]
    )
    stages = [
        FakeStage(2.0, 6.0, {"dedup": 1.0}),
        FakeStage(4.0, 8.0, {"stages": 0.75, "dedup": 0.25}),
    ]
    out = ledger(t, t.spans[0], stages)
    assert sum(out.values()) == pytest.approx(10.0)
    assert out[UNATTRIBUTED] == pytest.approx(1.5)  # 0-0.5 and 9-10
    assert out["stages"] == pytest.approx(0.5 + 2 * 0.75 / 2 + 2 * 0.75)
    assert out["dedup"] == pytest.approx(2 + 2 * 0.5 + 2 * 0.25 / 2 + 2 * 0.25)
    assert out["sink"] == pytest.approx(2.0)  # 1-2 and 8-9: no stage running


def test_spans_from_another_thread_hang_off_the_default_parent():
    import threading

    t = Tracer("r", enabled=True)
    with t.span("streaming.stream_extraction") as sp:
        t.default_parent = sp.id

        def batch():
            with t.span("checkpoint.commit"):
                pass

        th = threading.Thread(target=batch)
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    commit = [s for s in t.spans if s.name == "checkpoint.commit"][0]
    assert commit.parent == sp.id
