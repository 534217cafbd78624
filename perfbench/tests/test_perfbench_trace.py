"""Self-time arithmetic and the counter helpers."""

import time

import pytest

from perfbench import metrics, sparkstats, tracing
from perfbench.tracing import Span, self_counter, self_times


def _span(i, name, forced, inputs=(), parent=0, flow="f"):
    s = Span(i, name, flow, parent, 0.0)
    s.forced_s, s.inputs = forced, list(inputs)
    return s


def _chain():
    # flow root <- detect <- model <- rebin <- sources
    return [
        _span(0, "flow.f", 2.6, [4], parent=None),
        _span(1, "sources", 1.0),
        _span(2, "rebin", 1.8, [1]),
        _span(3, "models.poisson_lc", 2.5, [2]),
        _span(4, "detect", 2.55, [3]),
    ]


def test_self_time_is_forced_minus_input_forced():
    st = self_times(_chain())
    assert st[1] == pytest.approx(1.0)
    assert st[2] == pytest.approx(0.8)
    assert st[3] == pytest.approx(0.7)
    assert st[4] == pytest.approx(0.05)
    assert st[0] == pytest.approx(0.05)


def test_self_times_sum_to_the_flow_forced_time():
    spans = _chain()
    st = self_times(spans)
    assert sum(st.values()) == pytest.approx(spans[0].forced_s)
    dicts = [{"flow": s.flow, "parent": s.parent, "forced_s": s.forced_s,
              "self_s": st[s.id], "returns_df": True} for s in spans]
    sums = metrics.flow_sums(dicts)["f"]
    assert sums["self_sum_s"] == pytest.approx(sums["flow_forced_s"])


def test_two_inputs_are_both_subtracted():
    spans = [
        _span(0, "cli.curate", 3.0, [3], parent=None),
        _span(1, "sources", 0.5),
        _span(2, "sources", 0.25),
        _span(3, "extras.curate", 2.0, [1, 2]),
    ]
    st = self_times(spans)
    assert st[3] == pytest.approx(1.25)
    assert sum(st.values()) == pytest.approx(3.0)


class _Frame:
    """Stands in for a DataFrame: forcing it takes ``force_s``."""

    def __init__(self, force_s):
        self.force_s = force_s


class _Spark:
    class sparkContext:  # noqa: N801
        @staticmethod
        def setJobGroup(*_):  # noqa: N802
            pass

        @staticmethod
        def setLocalProperty(*_):  # noqa: N802
            pass


def test_cli_flow_time_is_its_wall_less_tracer_work(monkeypatch):
    # a CLI flow (returns None) calls two layers and writes its output;
    # its forced time excludes the tracer's forces, its layers' outputs
    # are not its inputs, and the trace reports the layers' self times
    # next to it
    monkeypatch.setattr(tracing, "_is_df", lambda x: isinstance(x, _Frame))
    monkeypatch.setattr(tracing, "_force", lambda df: time.sleep(df.force_s))
    monkeypatch.setattr(sparkstats, "group_stats", lambda *_: {})
    monkeypatch.setattr(sparkstats, "exchanges", lambda df: 0)
    tr = tracing.Tracer(_Spark(), "r", "own")

    def load():
        time.sleep(0.05)
        return _Frame(0.2)

    def model(df):
        time.sleep(0.05)
        return _Frame(0.3)

    load_t = tr.wrap(load, "models.a")
    model_t = tr.wrap(model, "models.b")

    def cli():
        model_t(load_t())
        time.sleep(0.1)  # the output write

    root = tr.flow("cli_x", "cli.x", cli)
    assert root.inputs == []
    assert root.call_s == pytest.approx(0.7, abs=0.05)
    assert root.forced_s == pytest.approx(0.2, abs=0.03)
    st = self_times(tr.spans)
    assert st[root.id] == root.forced_s
    dicts = [{"flow": s.flow, "parent": s.parent, "forced_s": s.forced_s,
              "self_s": st[s.id], "returns_df": s.returns_df} for s in tr.spans]
    sums = metrics.flow_sums(dicts)["cli_x"]
    assert sums["flow_forced_s"] == root.forced_s
    # load 0.2 + model (0.3 - 0.2)
    assert sums["self_sum_s"] == pytest.approx(0.3, abs=0.03)


def test_self_counter_subtracts_input_forced_counters():
    a, b = _span(1, "sources", 1.0), _span(2, "rebin", 2.0, [1])
    a.call, a.force = {"jobs": 1}, {"jobs": 2}
    b.call, b.force = {"jobs": 1}, {"jobs": 4}
    by_id = {1: a, 2: b}
    assert self_counter(b, by_id, "jobs") == 3
    assert self_counter(a, by_id, "jobs") == 3


@pytest.mark.parametrize("text,value", [
    ("1.7 s", 1.7),
    ("899 ms", 0.899),
    ("9.5 KiB", 9.5 * 1024),
    ("1,234", 1234.0),
    ("total (min, med, max (stageId: taskId))\n2.1 s (0.1 s, 0.5 s, 1.0 s (stage 3.0: task 7))", 2.1),
])
def test_parse_metric(text, value):
    assert sparkstats.parse_metric(text) == pytest.approx(value)


def test_covered_seconds_merges_overlaps_and_clips():
    iv = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.0, 12.0)]
    assert sparkstats.covered_seconds(iv, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 1.0)
    assert sparkstats.covered_seconds([], 0.0, 10.0) == 0.0


def test_tail_percentile_needs_ten_samples_beyond():
    assert metrics.tail_percentile(range(10)) is None
    p, v = metrics.tail_percentile(range(1, 21))
    assert v == 10 and p == pytest.approx(50.0)
