"""Benchmark entry point.

    python3 perfbench/run.py --workload trend --seed 1 --seconds 6 --trace 0

Generates the workload's inputs from --seed under .perfbench/ in the
checkout, starts one fresh Spark process (worker.py) with
SPARK_GRAFT_CPUS set to the host's CPU count and every other session
default left as the program sets it, checks every flow's output
against its DuckDB oracle, and prints one JSON line last: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. A result file
with a provenance block (and, traced, a span file) is kept under
.perfbench/results/.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen, metrics, oracle, workloads  # noqa: E402

PACKAGE = "gnip_trend_detection_spark"
WORKER_TIMEOUT_S = 150


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _ram_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _source_id() -> dict:
    """git SHA when the checkout is a repository, and always a hash of
    the package sources, so artifacts from a plain copy still identify
    the code."""
    out = {}
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            out["git_sha"] = r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    out["source_sha256"] = h.hexdigest()
    return out


def _host_probe_s() -> float:
    """Seconds for a fixed pure-Python loop: a host-speed reading taken
    in every run, so artifacts from a slower or busier host show it."""
    t = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    return time.perf_counter() - t


def provenance(args, run_id: str, env: dict | None, probe_s: float) -> dict:
    import duckdb
    import pyspark

    env = env or {}
    return {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "host": platform.node(), "nproc": _nproc(), "ram_mb": round(_ram_mb()),
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "spark": env.get("spark"), "java": env.get("java"),
        "duckdb": duckdb.__version__, "host_probe_s": probe_s, "time_utc": time.strftime(
            "%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        **_source_id(),
    }


def _generate(workload: str, parts: dict, out_dir: str, seed: int) -> dict:
    info = gen.generate(parts, out_dir, seed)
    if "cli_analyze" in workloads.WORKLOADS[workload]:
        with open(os.path.join(out_dir, "analyze.cfg"), "w") as fh:
            fh.write(workloads.ANALYZE_CFG)
    return info


def prepare(workload: str, seed: int, in_dir: str, check_dir: str) -> dict:
    return {"timed": _generate(workload, workloads.INPUTS[workload], in_dir, seed),
            "check": _generate(workload, workloads.CHECK_INPUTS[workload],
                               check_dir, seed)}


def oracle_sql(inputs: dict) -> dict:
    """The repo's oracle SQL over the generated inputs. Its Poisson CI
    table holds integer nu up to ``oracles.CI_MAX_NU``, which fits the
    fixture; past it a lookup misses and the oracle reads eta 0 where
    the engine computes eta. So the table is extended, from the same
    ``poisson_math``, to the largest 2-minute count generated."""
    from gnip_trend_detection_spark import oracles

    need = max((p.get("trend", {}).get("max_bin_count", 0) for p in inputs.values()),
               default=0)
    if need > oracles.CI_MAX_NU:
        oracles.CI_MAX_NU = need
        oracles.ci_width_values.cache_clear()
    return oracles.build()


def expected_rows(workload: str, inputs: dict, in_dir: str, check_dir: str,
                  tmp: str) -> dict:
    """Oracle rows per flow, computed before Spark starts: CLI flows are
    checked on the timed instance (their written output), registry flows
    on the check instance."""
    sql = oracle_sql(inputs)
    out = {}
    for d, cli in ((in_dir, True), (check_dir, False)):
        con = oracle.connect(d, tmp)
        try:
            for f in workloads.WORKLOADS[workload]:
                if (f in workloads.CLI_ORACLE) == cli:
                    out[f] = oracle.duck_rows(con, workloads.expected_sql(f, sql, d))
        finally:
            con.close()
    return out


def check(checked: dict, expected: dict, tmp: str) -> list[str]:
    """Mismatch reasons; a flow with no collected output is a mismatch."""
    bad = []
    con = oracle.connect(tmp, tmp)
    try:
        for flow, (want_cols, want_rows) in expected.items():
            got = checked.get(flow)
            if got is None:
                bad.append(f"{flow}: no output")
                continue
            if "path" in got:
                got_cols, got_rows = oracle.duck_rows(
                    con, workloads.actual_sql(flow, got["path"]))
            else:
                got_cols, got_rows = got["columns"], oracle.from_json(got["rows"])
            why = oracle.compare(flow, got_cols, got_rows, want_cols, want_rows)
            if why:
                bad.append(why)
    finally:
        con.close()
    return bad


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_group(pgid: int, wait: bool = True) -> None:
    """Stop a worker's process group (JVM and Python workers): SIGTERM,
    then SIGKILL to whatever is left after 10 s. With ``wait`` False
    only SIGTERM is sent; call again with ``wait`` to make sure no
    member is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        if not wait:
            return
        deadline = time.time() + 10.0
        while time.time() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.05)


def run_worker(cfg: dict, work: str) -> tuple[dict | None, float, int]:
    """Run worker.py; returns its result (None on failure), its spawn
    time and its process group, which is signalled to stop but may not
    have ended yet (a large JVM takes seconds to go away)."""
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # JVM temp files stay in the checkout; -XX:-UsePerfData stops the
        # JVM writing its hsperfdata file, which always goes to /tmp
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, (
            env.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-XX:-UsePerfData"))),
    })
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    cfg_path = os.path.join(work, "worker.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    log = open(os.path.join(work, "worker.log"), "w")
    t_spawn = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"), cfg_path],
        cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
        start_new_session=True)
    rc = None
    try:
        rc = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        # after a clean exit the result is written: let the JVM go away
        # while the output is checked
        stop_group(proc.pid, wait=rc != 0)
        proc.wait()
        log.close()
    if rc != 0 or not os.path.exists(cfg["result"]):
        with open(os.path.join(work, "worker.log")) as fh:
            tail = fh.read()[-4000:]
        print(f"worker failed (exit {rc}):\n{tail}", file=sys.stderr)
        return None, t_spawn, proc.pid
    with open(cfg["result"]) as fh:
        return json.load(fh), t_spawn, proc.pid


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its Spark process group (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: nothing to benchmark",
              file=sys.stderr)
        return 2

    timeline = {"start": time.time()}
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, run_id)
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    pgid = None
    try:
        in_dir, check_dir = os.path.join(work, "in"), os.path.join(work, "check")
        probe_s = _host_probe_s()
        inputs = prepare(args.workload, args.seed, in_dir, check_dir)
        timeline["generated"] = time.time()
        duck_tmp = os.path.join(work, "duckdb")
        expected = expected_rows(args.workload, inputs, in_dir, check_dir, duck_tmp)
        timeline["oracle"] = time.time()
        cfg = {
            "workload": args.workload, "run_id": run_id, "seconds": args.seconds,
            "trace": bool(args.trace), "in_dir": in_dir, "check_dir": check_dir,
            "out_dir": os.path.join(work, "out"),
            "check_out": os.path.join(work, "check_out"),
            "result": os.path.join(work, "worker_result.json"),
        }
        if args.trace:
            cross = workloads.other(args.workload)
            cfg["cross_flows"] = workloads.WORKLOADS[cross]
            cfg["cross_dir"] = os.path.join(work, "cross")
            inputs["cross"] = _generate(cross, workloads.CROSS_INPUTS[cross],
                                        cfg["cross_dir"], args.seed)
        res, t_spawn, pgid = run_worker(cfg, work)
        timeline["spawned"] = t_spawn
        timeline["worker_done"] = time.time()
        if res is None:
            return 1
        for k in ("t_first_action", "t_check", "t_done"):
            timeline[k[2:]] = res.get(k)
        mismatches = check(res["check"], expected, duck_tmp)
        timeline["checked"] = time.time()
        failed = len(res["errors"]) + len(mismatches)
        if args.trace:
            cli_bytes = _dir_bytes(cfg["out_dir"])
            values = metrics.per_layer(res, t_spawn, cli_bytes)
            units = metrics.PER_LAYER
        else:
            values = metrics.end_to_end(res, t_spawn)
            units = metrics.END_TO_END
        record = {
            "provenance": provenance(args, run_id, res.get("env"), probe_s),
            "inputs": inputs, "timeline": timeline,
            "correct": failed == 0, "attempted": res["attempted"],
            "failed": failed, "failed_frac": failed / res["attempted"],
            "errors": res["errors"], "mismatches": mismatches,
            "metrics": values,
            "pass_s": metrics.summary([p["wall_s"] for p in res["warm"]]),
            "passes": [res["cold"], *res["warm"]],
        }
        if args.trace:
            spans = res["traced"]["spans"]
            record["flows"] = metrics.flow_sums(spans)
            with open(os.path.join(results, f"{run_id}.trace.json"), "w") as fh:
                json.dump({"provenance": record["provenance"], "spans": spans,
                           "flows": record["flows"],
                           "cross_spans": res["cross"]["spans"]}, fh, indent=1)
        with open(os.path.join(results, f"{run_id}.json"), "w") as fh:
            json.dump(record, fh, indent=1)
        for e in res["errors"] + mismatches:
            print(e, file=sys.stderr)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": res["attempted"],
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }))
        return 0
    finally:
        if pgid is not None:
            stop_group(pgid)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
