"""Spark counters read from outside the program, through the JVM status
stores (they work with ``spark.ui.enabled=false``).

Jobs are found by job group (``SparkContext.setJobGroup``), stages and
tasks through ``statusStore().lastStageAttempt``, and per-operator SQL
metrics (Python worker time, exchange bytes) through the SQL status
store's ``executionMetrics``.
"""

from __future__ import annotations

import re

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    "TiB": 1024.0**4,
}
_VALUE = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")

PYTHON_METRICS = {
    "time to start Python workers": "python_start_s",
    "time to run Python workers": "python_s",
}


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric: '1.7 s', '9.5 KiB', '1,234' or
    the multi-task form 'total (min, med, max ...)\\n2.1 s (...)'."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def job_stats(spark, job_ids) -> dict:
    """Counters summed over the given jobs: jobs, stages actually run,
    tasks, failed tasks, shuffle write and spill bytes, executor run,
    CPU and GC seconds, plus each job's [submit, complete] interval."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {
        "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
        "shuffle_bytes": 0.0, "spill_bytes": 0.0, "executor_run_s": 0.0,
        "executor_cpu_s": 0.0, "gc_s": 0.0, "intervals": [],
    }
    seen = set()
    for j in job_ids:
        info = sc.statusTracker().getJobInfo(j)
        if info is None:
            continue
        out["jobs"] += 1
        jd = store.job(j)
        start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        if start is not None and end is not None:
            out["intervals"].append((start, end))
        for s in info.stageIds:
            if s in seen:
                continue
            seen.add(s)
            try:
                st = store.lastStageAttempt(s)
            except Exception:  # py4j: never submitted, nothing to count
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
    return out


def sql_stats(spark, job_ids) -> dict:
    """Python worker start/run seconds over the SQL executions whose
    jobs are all among ``job_ids``."""
    jobs = set(job_ids)
    store = spark._jsparkSession.sharedState().statusStore()
    out = {v: 0.0 for v in PYTHON_METRICS.values()}
    execs = store.executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        ex_jobs = {int(x) for x in re.findall(r"\d+", ex.jobs().keySet().toString())}
        if not ex_jobs or not ex_jobs <= jobs:
            continue
        values = store.executionMetrics(ex.executionId())
        metrics = ex.metrics()
        done = set()
        for k in range(metrics.size()):
            m = metrics.apply(k)
            key = PYTHON_METRICS.get(m.name())
            acc = m.accumulatorId()
            if key is None or acc in done:
                continue
            done.add(acc)
            v = values.get(acc)
            if v.isDefined():
                out[key] += parse_metric(v.get())
    return out


def group_stats(spark, groups) -> dict:
    """job_stats + sql_stats over every job of the given job groups."""
    tracker = spark.sparkContext.statusTracker()
    ids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
    out = job_stats(spark, ids)
    out.update(sql_stats(spark, ids))
    return out


def covered_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def exchanges(df) -> int:
    """Exchange operators (shuffle and broadcast) in a DataFrame's
    physical plan, before adaptive re-planning."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"Exchange ", plan))


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the local-mode Spark JVM, in MB."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
