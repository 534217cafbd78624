"""Metric names, units and the arithmetic that turns one worker result
into them.

End-to-end metrics come from untraced runs; per-layer metrics from the
traced run (see tracing.py for spans and self times).
"""

from __future__ import annotations

import re
import statistics

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
}

MODELS = ("poisson_lc",)
EXTRAS = ("minhash_signatures", "lsh_candidate_pairs", "duplicate_clusters")
TPCH = ("q21",)
CLI = ("analyze", "dedup")
SPARK = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "failed_tasks": "count", "shuffle_bytes": "B", "spill_bytes": "B",
    "executor_cpu_s": "s", "gc_s": "s", "busy_frac": "ratio",
    "driver_s": "s", "python_start_s": "s", "python_s": "s",
}


def per_layer_units() -> dict[str, str]:
    u = {
        "session.start_s": "s", "session.first_action_s": "s",
        "session.jvm_peak_rss_mb": "MB",
        "sources.s": "s", "sources.rows": "count",
        "rebin.s": "s", "rebin.rows_out": "count", "rebin.shuffle_bytes": "B",
        "detect.s": "s", "detect.rows_out": "count",
        "extras.lsh_candidate_pairs.yield": "ratio",
        "cli.output_bytes": "B",
    }
    for m in MODELS:
        u.update({f"models.{m}.s": "s", f"models.{m}.jobs": "count",
                  f"models.{m}.exchanges": "count", f"models.{m}.python_s": "s"})
    for f in EXTRAS:
        u.update({f"extras.{f}.s": "s", f"extras.{f}.call_s": "s",
                  f"extras.{f}.jobs": "count"})
    for q in TPCH:
        u.update({f"tpch.{q}.s": "s", f"tpch.{q}.jobs": "count",
                  f"tpch.{q}.shuffle_bytes": "B"})
    for c in CLI:
        u[f"cli.{c}.s"] = "s"
    for k, unit in SPARK.items():
        u[f"spark.{k}"] = unit
    u["spark.trace_overhead_s"] = "s"
    return u


PER_LAYER = per_layer_units()


def tail_percentile(values) -> tuple[float, float] | None:
    """(p, value): the highest percentile with at least ten samples
    beyond it, or None when there are too few samples for any."""
    vals = sorted(values)
    n = len(vals)
    k = n - 10  # index of the highest order statistic with 10 above it
    if k < 1:
        return None
    return (100.0 * k / n, vals[k - 1])


def summary(values) -> dict:
    """Median, sample count and the tail percentile of a timing."""
    d = {"median": statistics.median(values), "n": len(values)}
    tail = tail_percentile(values)
    if tail:
        d["tail_pct"], d["tail"] = tail
    return d


def end_to_end(res: dict, t_spawn: float) -> dict[str, float]:
    return {
        "setup_s": res["t_first_action"] - t_spawn,
        "cold_pass_s": res["cold"]["wall_s"],
        "pass_s": statistics.median(p["wall_s"] for p in res["warm"]),
    }


def _spans(res: dict, name: str) -> list[dict]:
    """The traced spans of one layer: from the workload's own flows, or,
    for a layer they never call, from the other workload's flows on the
    small instance (so no metric is a constant 0)."""
    own = [s for s in res["traced"]["spans"] if s["name"] == name]
    return own or [s for s in res["cross"]["spans"] if s["name"] == name]


def per_layer(res: dict, t_spawn: float, cli_bytes: int) -> dict[str, float]:
    """Every PER_LAYER metric, from one traced run's result."""
    out = {
        "session.start_s": res["t_session"] - t_spawn,
        "session.first_action_s": res["t_first_action"] - res["t_session"],
        "session.jvm_peak_rss_mb": res["env"]["jvm_peak_rss_mb"],
        "cli.output_bytes": float(cli_bytes),
    }
    for layer, rows in (("sources", "sources.rows"), ("rebin", "rebin.rows_out"),
                        ("detect", "detect.rows_out")):
        spans = _spans(res, layer)
        out[f"{layer}.s"] = sum(s["self_s"] for s in spans)
        out[rows] = float(sum(s["rows"] or 0 for s in spans))
    out["rebin.shuffle_bytes"] = float(sum(s["shuffle_bytes"] for s in _spans(res, "rebin")))
    for m in MODELS:
        spans = _spans(res, f"models.{m}")
        for k in ("jobs", "exchanges", "python_s"):
            out[f"models.{m}.{k}"] = float(sum(s[k] for s in spans))
        out[f"models.{m}.s"] = sum(s["self_s"] for s in spans)
    for f in EXTRAS:
        spans = _spans(res, f"extras.{f}")
        out[f"extras.{f}.s"] = sum(s["self_s"] for s in spans)
        out[f"extras.{f}.call_s"] = sum(s["call_s"] for s in spans)
        out[f"extras.{f}.jobs"] = float(sum(s["jobs"] for s in spans))
    pairs = [s["pairs"] for s in _spans(res, "extras.lsh_candidate_pairs") if s["pairs"]]
    total = sum(p[1] for p in pairs)
    out["extras.lsh_candidate_pairs.yield"] = sum(p[0] for p in pairs) / total if total else 0.0
    for q in TPCH:
        spans = _spans(res, f"tpch.{q}")
        out[f"tpch.{q}.s"] = sum(s["self_s"] for s in spans)
        out[f"tpch.{q}.jobs"] = float(sum(s["jobs"] for s in spans))
        out[f"tpch.{q}.shuffle_bytes"] = float(sum(s["shuffle_bytes"] for s in spans))
    warm = res["warm"]
    for c in CLI:
        flow = f"cli_{c}"
        if flow in warm[0]["flows"]:
            out[f"cli.{c}.s"] = statistics.median(p["flows"][flow] for p in warm)
        else:  # traced time of the other workload's CLI flow
            out[f"cli.{c}.s"] = sum(s["forced_s"] for s in _spans(res, f"cli.{c}"))
    for k in SPARK:
        out[f"spark.{k}"] = float(statistics.median(p["spark"][k] for p in warm))
    # warm passes reuse the Python workers: their start is a cold-pass cost
    out["spark.python_start_s"] = float(res["cold"]["spark"]["python_start_s"])
    warm_s = statistics.median(p["wall_s"] for p in warm)
    out["spark.trace_overhead_s"] = res["traced"]["wall_s"] - warm_s
    return out


def flow_sums(spans) -> dict[str, dict[str, float]]:
    """Per flow: the flow's forced time next to the sum of its layers'
    self times. A registry flow's root returns a DataFrame and counts as
    a layer, so the two are equal when every layer output is consumed
    exactly once; a CLI flow's root is the flow itself, and the gap is
    the time none of its layers accounts for."""
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        d = out.setdefault(s["flow"], {"flow_forced_s": 0.0, "self_sum_s": 0.0})
        if s["parent"] is None:
            d["flow_forced_s"] = s["forced_s"]
            if not s["returns_df"]:
                continue
        d["self_sum_s"] += s["self_s"]
    return out
