"""Every emitted metric is well named and declared in BENCHMARK.json."""

import json
import os

from perfbench import metrics, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_names_are_well_formed():
    for name in [*metrics.END_TO_END, *metrics.PER_LAYER]:
        assert metrics.NAME.match(name), name


def test_emitted_metrics_are_declared_with_their_units():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == metrics.PER_LAYER


def test_workloads_are_declared():
    assert [w["name"] for w in _bench()["workloads"]] == list(workloads.WORKLOADS)


def _fake_result():
    spark = {k: 1.0 for k in metrics.SPARK}
    warm = [{"wall_s": w, "flows": {"cli_dedup": w / 2, "tpch_q21_blame_supplier": w / 2},
             "spark": spark} for w in (4.0, 5.0, 6.0)]
    span = {"name": "extras.lsh_candidate_pairs", "flow": "cli_dedup", "parent": 0,
            "self_s": 0.5, "call_s": 0.1, "forced_s": 1.0, "jobs": 3, "python_s": 0.0,
            "shuffle_bytes": 10.0, "exchanges": 2, "rows": None, "pairs": [3, 4]}
    return {
        "t_session": 5.0, "t_first_action": 7.0,
        "env": {"jvm_peak_rss_mb": 1000.0},
        "cold": {"wall_s": 20.0, "spark": spark},
        "warm": warm,
        "traced": {"wall_s": 9.0, "spans": [span]},
        "cross": {"wall_s": 2.0, "spans": [dict(span, name="rebin", rows=7, self_s=0.25)]},
    }


def test_per_layer_emits_exactly_the_declared_metrics():
    out = metrics.per_layer(_fake_result(), 0.0, 123)
    assert set(out) == set(metrics.PER_LAYER)
    assert out["extras.lsh_candidate_pairs.yield"] == 0.75
    assert out["spark.trace_overhead_s"] == 4.0
    assert out["cli.dedup.s"] == 2.5
    # a layer the workload never calls is read from the other workload's flows
    assert out["rebin.s"] == 0.25 and out["rebin.rows_out"] == 7


def test_end_to_end_emits_exactly_the_declared_metrics():
    out = metrics.end_to_end(_fake_result(), 0.0)
    assert set(out) == set(metrics.END_TO_END)
    assert out == {"setup_s": 7.0, "cold_pass_s": 20.0, "pass_s": 5.0}
