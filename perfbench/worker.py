"""One measured Spark session, in a fresh process started by run.py.

Order: session set-up and first action, the cold pass, warm passes for
the requested seconds (at least MIN_WARM_PASSES), then -- traced runs
only -- one pass with layer spans and one over the other workload's
flows on a small instance (workloads.CROSS_INPUTS), and last the
registry flows once more on the oracle check instance, with their rows
collected for run.py to compare outside every timed region. Results go
to the JSON file named in the config.

Usage: python3 perfbench/worker.py <config.json>
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

T_IMPORT = time.time()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import oracle, sparkstats, workloads  # noqa: E402

MIN_WARM_PASSES = 2


class Runner:
    def __init__(self, spark, cfg: dict):
        from gnip_trend_detection_spark import cli, queries
        from gnip_trend_detection_spark.session import release_cached

        self.spark = spark
        self.cfg = cfg
        self.flows = workloads.WORKLOADS[cfg["workload"]]
        self._cli, self._queries, self._release = cli, queries, release_cached
        self.errors: list[str] = []
        self.attempted = 0

    def run_flow(self, flow: str, in_dir: str, out_root: str, sink: bool = True):
        """Run one flow. A CLI flow writes its output and returns None; a
        registry flow returns its DataFrame, written to the noop sink
        first when ``sink``."""
        if flow in workloads.CLI_ORACLE:
            rc = self._cli.main(workloads.cli_argv(flow, in_dir, f"{out_root}/{flow}"))
            if rc != 0:
                raise RuntimeError(f"{flow}: cli exit code {rc}")
            return None
        df = self._queries.ALL[flow](self.spark, in_dir)
        if sink:
            df.write.format("noop").mode("overwrite").save()
        return df

    def one_pass(self, tag: str, groups: bool = False) -> dict:
        """Every flow once, releasing cached and checkpointed blocks after
        each. With ``groups`` each flow runs under its own job group."""
        sc = self.spark.sparkContext
        times, names = {}, []
        t0 = time.time()
        for flow in self.flows:
            if groups:
                g = f"plain/{tag}/{flow}"
                sc.setJobGroup(g, flow)
                names.append(g)
            t = time.time()
            self.attempted += 1
            try:
                self.run_flow(flow, self.cfg["in_dir"], self.cfg["out_dir"])
            except Exception:
                self.errors.append(f"{tag} {flow}: {traceback.format_exc(limit=3)}")
            times[flow] = time.time() - t
            self._release(self.spark)
        wall = time.time() - t0
        out = {"tag": tag, "wall_s": wall, "start": t0, "flows": times}
        if groups:
            sc.setLocalProperty("spark.jobGroup.id", None)
            out["spark"] = pass_counters(self.spark, names, t0, t0 + wall)
        return out

    def traced_pass(self, tag: str, flows, in_dir: str, out_dir: str) -> dict:
        from perfbench import tracing

        t0 = time.time()
        with tracing.Tracer(self.spark, self.cfg["run_id"], tag) as tr:
            for flow in flows:
                self.attempted += 1
                try:
                    tr.flow(flow, root_layer(flow), lambda f=flow: self.run_flow(
                        f, in_dir, out_dir, sink=False))
                except Exception:
                    self.errors.append(f"traced {flow}: {traceback.format_exc(limit=3)}")
                self._release(self.spark)
        wall = time.time() - t0
        return {"wall_s": wall, "spans": [span_dict(s, tr) for s in tr.spans]}

    def check(self) -> dict:
        """Outputs for the oracle check: a CLI flow's output is the one
        its last pass over the timed instance wrote; a registry flow runs
        once more on the check instance and its rows are collected."""
        out = {}
        for flow in self.flows:
            if flow in workloads.CLI_ORACLE:
                out[flow] = {"path": f"{self.cfg['out_dir']}/{flow}"}
                continue
            self.attempted += 1
            try:
                df = self.run_flow(flow, self.cfg["check_dir"], self.cfg["check_out"],
                                   sink=False)
                cols = sorted(df.columns)
                rows = [[oracle.canon(r[c]) for c in cols] for r in df.collect()]
                out[flow] = {"columns": cols, "rows": rows}
            except Exception:
                self.errors.append(f"check {flow}: {traceback.format_exc(limit=3)}")
            self._release(self.spark)
        return out


def root_layer(flow: str) -> str:
    if flow.startswith("cli_"):
        return "cli." + flow[4:]
    if flow.startswith("tpch_"):
        return "tpch." + flow.split("_")[1]
    return "flow." + flow


def span_dict(span, tracer) -> dict:
    from perfbench import tracing

    by_id = {s.id: s for s in tracer.spans}
    d = {
        "id": span.id, "name": span.name, "flow": span.flow,
        "parent": span.parent, "run_id": tracer.run_id,
        "start": span.start, "end": span.end, "call_s": span.call_s,
        "forced_s": span.forced_s, "trace_s": span.trace_s,
        "returns_df": span.returns_df, "inputs": span.inputs,
        "self_s": tracing.self_times(tracer.spans)[span.id],
        "exchanges": (span.exchanges - sum(by_id[i].exchanges for i in span.inputs)
                      if span.returns_df else None),
        "rows": span.rows, "pairs": span.pairs,
    }
    for key in ("jobs", "stages", "tasks", "shuffle_bytes", "python_s",
                "python_start_s", "executor_run_s"):
        d[key] = tracing.self_counter(span, by_id, key)
    return d


def pass_counters(spark, groups, lo: float, hi: float) -> dict:
    """Spark counters of one pass, plus busy_frac (executor run time over
    wall x cores) and driver_s (wall not covered by any Spark job)."""
    c = sparkstats.group_stats(spark, groups)
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
    wall = hi - lo
    covered = sparkstats.covered_seconds(c.pop("intervals"), lo, hi)
    c["busy_frac"] = c["executor_run_s"] / (wall * cores) if wall > 0 else 0.0
    c["driver_s"] = wall - covered
    return c


def main(cfg_path: str) -> int:
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    res: dict = {"t_import": T_IMPORT}
    from gnip_trend_detection_spark.session import get_spark

    spark = get_spark()
    res["t_session"] = time.time()
    spark.range(1).count()
    res["t_first_action"] = time.time()
    try:
        runner = Runner(spark, cfg)
        trace = cfg["trace"]
        res["cold"] = runner.one_pass("cold", groups=trace)
        warm = []
        t0 = time.time()
        while len(warm) < MIN_WARM_PASSES or time.time() - t0 < cfg["seconds"]:
            warm.append(runner.one_pass(f"warm{len(warm)}", groups=trace))
        res["warm"] = warm
        if trace:
            res["traced"] = runner.traced_pass("own", runner.flows, cfg["in_dir"],
                                               cfg["out_dir"])
            res["cross"] = runner.traced_pass("cross", cfg["cross_flows"],
                                              cfg["cross_dir"], f"{cfg['out_dir']}-cross")
        res["t_check"] = time.time()
        res["check"] = runner.check()
        res["errors"] = runner.errors
        res["attempted"] = runner.attempted
        res["env"] = {
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "spark": spark.version,
            "jvm_peak_rss_mb": sparkstats.jvm_peak_rss_mb(spark),
        }
    finally:
        spark.stop()
    res["t_done"] = time.time()
    with open(cfg["result"], "w") as fh:
        json.dump(res, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
