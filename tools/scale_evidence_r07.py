"""Round-7 scaling evidence (VERDICT r06 items 5 and 7): run the
heaviest query families on a Kx replica of the sf0.1 fixtures (K=10 ~
sf1) so per-query times are parallelism-bound instead of job-overhead-
bound, then compare 8-core vs 32-core wall time; plus a task-time skew
probe of the LSH band join. Time queries on a replica with
`SPARK_GRAFT_SF_DIR=<dst> python bench.py q ...`.

Modes (env SPARK_GRAFT_CPUS picks the core count, as everywhere):
  gen   <dst> [K]        replicate sf0.1 -> dst (scalecheck's shifted-
                         key semantics: honest workload scaling)
  skew  <dir>            run the banded-LSH candidate join with the UI
                         REST API on; report the per-stage task-time
                         distribution (max/p75/median) of the heaviest
                         stages — the straggler evidence for the
                         salt-or-not decision (guide §2.5)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def gen(dst: str, k: int) -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scalecheck import replicate

    from gnip_trend_detection_spark.session import get_spark

    spark = get_spark(app_name="scale-gen")
    replicate(spark, k, dst)
    print(f"replicated {SRC} x{k} -> {dst}")


def skew(sf_dir: str) -> None:
    from pyspark.sql import SparkSession

    from gnip_trend_detection_spark import queries as q
    from gnip_trend_detection_spark.session import get_spark

    # the engine session runs UI-less; the skew probe needs the REST
    # task metrics, so take over the builder config for this process
    SparkSession.builder.config("spark.ui.enabled", "true")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark(app_name="scale-skew")
    if spark.conf.get("spark.ui.enabled", "false") != "true":
        spark.stop()
        spark = (
            SparkSession.builder.master(
                f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
            )
            .appName("scale-skew")
            .config("spark.ui.enabled", "true")
            .config("spark.sql.shuffle.partitions",
                    os.environ.get("SPARK_GRAFT_CPUS", "32"))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.driver.memory", "48g")
            .config("spark.sql.legacy.parquet.nanosAsLong", "true")
            .getOrCreate()
        )
    spark.sparkContext.setJobDescription("skew probe: lsh_candidate_pairs")
    t0 = time.perf_counter()
    q.ALL["lsh_candidate_pairs"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    wall = time.perf_counter() - t0

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    stages = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages?status=complete")
    )
    stages.sort(key=lambda s: -(s.get("executorRunTime") or 0))
    rows = []
    for s in stages[:8]:
        sid, att = s["stageId"], s["attemptId"]
        summ = json.load(
            urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app_id}/stages/{sid}/{att}/taskSummary"
                "?quantiles=0.5,0.75,0.99,1.0"
            )
        )
        rt = summ["executorRunTime"]
        rows.append(
            {
                "stage": sid,
                "name": s["name"].split("\n")[0][:60],
                "tasks": s["numCompleteTasks"],
                "run_ms_p50": rt[0],
                "run_ms_p75": rt[1],
                "run_ms_p99": rt[2],
                "run_ms_max": rt[3],
                "shuffle_read_mb": round(
                    (s.get("shuffleReadBytes") or 0) / 1e6, 1
                ),
            }
        )
    print(json.dumps({"wall_sec": round(wall, 2), "stages": rows}, indent=1))


def main() -> None:
    mode = sys.argv[1]
    if mode == "gen":
        gen(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 10)
    elif mode == "skew":
        skew(sys.argv[2])
    else:
        raise SystemExit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    main()


