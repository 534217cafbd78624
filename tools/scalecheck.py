"""Scaling evidence: run headline queries at 1x and Kx the sf0.1
fixtures and report the time ratio per query.

The bench proves speed at one scale; this proves the SHAPE — a
scale-safe plan on fixed cores should grow ~linearly in input bytes
(ratio <= ~K plus fixed overhead), while an accidentally quadratic or
shuffle-amplified plan grows superlinearly and stands out immediately.

The Kx corpus is synthesized from sf0.1 with shifted keys so workload
semantics scale honestly:
  - events: K replicas; event/user ids offset per replica and
    event_type suffixed _rI -> K x counters (the reference's
    parallelism axis), same time span (denser series).
  - documents: doc_id offset; a replica marker appended to text so
    replicas are not exact dupes of each other (within-replica dup
    structure is preserved).
  - embeddings: vec_id offset; deterministic per-(replica, dim)
    perturbation so replicas aren't identical points (which would
    inflate cell-pair work quadratically and measure the wrong thing).
  - lineitem: order keys offset.

Usage: python tools/scalecheck.py [K] [query ...]   (default K=4)
Writes the replicated tables to a temp dir, prints one line per query:
name, t_1x, t_Kx, ratio, and ratio/K (parallel efficiency; <= 1 is
ideal, >> 1 flags superlinear work).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DEFAULT_QUERIES = [
    "rebin_contained",
    "poisson_lc_eta",
    "mann_kendall_z",
    "dedup_exact",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "ngram_jaccard",
    "simhash64",
    "text_quality",
    "chunk_documents",
    "heavy_hitter_terms",
    "semantic_dedup",
    "cosine_neardup_blocked",
    "ann_ivf_topk",
    "tpch_q1_pricing",
    "sessionize",
    "curation_pipeline",
]

OFF = 10_000_000


def replicate(spark, k: int, dst: str) -> None:
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.sources.tables import TABLES

    def shifted(df: DataFrame, i: int, table: str) -> DataFrame:
        if table == "events":
            return df.select(
                (F.col("event_id") + i * OFF).alias("event_id"),
                "ts",
                (F.col("user_id") + i * OFF).alias("user_id"),
                F.concat("event_type", F.lit(f"_r{i}")).alias("event_type"),
                "value",
                "props",
            )
        if table == "documents":
            return df.select(
                (F.col("doc_id") + i * OFF).alias("doc_id"),
                F.concat("text", F.lit(f" replica r{i}")).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        if table == "embeddings":
            pert = F.transform(
                "embedding",
                lambda x, d: x
                + (((d + F.lit(i * 31)) % 11) - 5).cast("float") * 0.02,
            )
            return df.select(
                (F.col("vec_id") + i * OFF).alias("vec_id"),
                pert.alias("embedding"),
                "label",
            )
        if table == "lineitem":
            return df.withColumn("l_orderkey", F.col("l_orderkey") + i * OFF)
        if table == "orders":
            return df.withColumn("o_orderkey", F.col("o_orderkey") + i * OFF)
        return None  # dims: copy once

    for t in TABLES:
        base = spark.read.parquet(f"{SRC}/{t}.parquet")
        parts = [base]
        for i in range(1, k):
            s = shifted(base, i, t)
            if s is None:
                parts = [base]
                break
            parts.append(s)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")


def main() -> int:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    names = sys.argv[2:] or DEFAULT_QUERIES

    from gnip_trend_detection_spark import queries as q
    from gnip_trend_detection_spark.session import get_spark, release_cached

    spark = get_spark(app_name="scalecheck")
    dst = tempfile.mkdtemp(prefix="scalecheck_")
    print(f"# replicating sf0.1 x{k} -> {dst}", file=sys.stderr)
    replicate(spark, k, dst)

    def timed(name: str, sf_dir: str) -> float:
        best = float("inf")
        for _ in range(2):
            release_cached(spark)
            t0 = time.perf_counter()
            q.ALL[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.perf_counter() - t0)
        return best

    print(f"{'query':28s} {'t_1x':>7s} {'t_%dx' % k:>7s} {'ratio':>6s} {'eff':>5s}")
    worst = 0.0
    for name in names:
        t1 = timed(name, SRC)
        tk = timed(name, dst)
        ratio = tk / t1 if t1 > 0 else float("inf")
        worst = max(worst, ratio / k)
        print(
            f"{name:28s} {t1:7.2f} {tk:7.2f} {ratio:6.2f} {ratio / k:5.2f}"
        )
    shutil.rmtree(dst, ignore_errors=True)
    print(f"# worst ratio/K = {worst:.2f} (<= ~1 linear, >> 1 superlinear)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
