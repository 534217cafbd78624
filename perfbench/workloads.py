"""What each workload runs, and how each flow's output is checked.

A flow is either a registry query (``gnip_trend_detection_spark.
queries.ALL`` name; its output goes to the ``noop`` sink) or a CLI
invocation (``cli.main``; it writes CSV or parquet under the run's
output directory). Every flow is checked against a DuckDB oracle from
``oracles.build()``: registry flows against their own oracle, CLI
flows against the oracle of the registry query that computes the
same thing from the same generated inputs (``CLI_ORACLE``).
"""

from __future__ import annotations

# The CLI analyze flow runs the registry's poisson_lc_eta path through
# the reference's INI layout: 60 s counts -> 2-minute grid -> Poisson lc.
ANALYZE_CFG = """[rebin]
binning_unit = minutes
n_binning_unit = 2

[analyze]
model_name = Poisson

[Poisson_model]
mode = lc
alpha = 0.99
"""

WORKLOADS: dict[str, tuple[str, ...]] = {
    # the paper's path: CSV counts through the CLI (rebin -> Poisson lc
    # -> CSV) and the parquet-sourced rebin -> Poisson -> detect chain
    "trend": ("cli_analyze", "detect_threshold"),
    # the engine's extras, none of them on the trend path: job-count
    # bound near-duplicate curation through the CLI (MinHash, banded
    # LSH, iterative clustering) and the TPC-H Q21 shape's shuffles
    "curate_olap": ("cli_dedup", "tpch_q21_blame_supplier"),
}

# Generators (gen.GENERATORS) and sizes per workload: the timed
# instance, and the instance the registry flows' oracle check runs on
# -- same generators and seed, sized so every DuckDB oracle finishes in
# about a second. CLI flows are checked on the timed instance.
# trend: 100 counters x 4 days, about 0.9 events per counter-minute, so
# rebin, Poisson lc and detect outweigh the driver's per-job time in a
# warm pass; olap: sf0.1's 150k orders (about 600k lineitems).
INPUTS: dict[str, dict[str, dict[str, int]]] = {
    "trend": {"trend": {"counters": 100, "days": 4, "events": 500_000}},
    "curate_olap": {"curate": {"docs": 600}, "olap": {"orders": 150_000}},
}
CHECK_INPUTS: dict[str, dict[str, dict[str, int]]] = {
    "trend": {"trend": {"counters": 6, "days": 4, "events": 12_000}},
    "curate_olap": {"olap": {"orders": 6_000}},
}

# Traced runs also trace the other workload's flows once, over a small
# instance of its inputs, so every layer is measured in every traced
# run: a layer the workload's own flows never call reports that little
# work instead of a constant 0.
CROSS_INPUTS: dict[str, dict[str, dict[str, int]]] = {
    "trend": {"trend": {"counters": 4, "days": 4, "events": 4_000}},
    "curate_olap": {"curate": {"docs": 150}, "olap": {"orders": 3_000}},
}


def other(workload: str) -> str:
    return next(w for w in WORKLOADS if w != workload)


# Jaccard cut of the CLI dedup flow; the traced lsh_candidate_pairs
# yield counts the candidate pairs that pass it
DEDUP_THRESHOLD = 0.5

# CLI flow -> (registry query whose oracle it must match, output format)
CLI_ORACLE = {
    "cli_analyze": ("poisson_lc_eta", "csv"),
    "cli_dedup": ("dedup_clusters", "parquet"),
}


def cli_argv(flow: str, in_dir: str, out_dir: str) -> list[str]:
    """Arguments of ``cli.main`` for a CLI flow over one input dir."""
    if flow == "cli_analyze":
        return ["analyze", "-i", f"{in_dir}/counts.csv", "-c",
                f"{in_dir}/analyze.cfg", "-o", out_dir]
    if flow == "cli_dedup":
        return ["dedup", "-i", f"{in_dir}/dedup.jsonl", "--threshold", str(DEDUP_THRESHOLD),
                "-o", out_dir]
    raise KeyError(flow)


def expected_sql(flow: str, oracle_sql: dict[str, str], in_dir: str) -> str:
    """DuckDB query giving the rows a flow must produce on ``in_dir``."""
    if flow not in CLI_ORACLE:
        return oracle_sql[flow]
    base = oracle_sql[CLI_ORACLE[flow][0]]
    if flow == "cli_dedup":
        # the CLI reports every document; singletons are their own
        # canonical one-member cluster
        return f"""
            WITH o AS ({base})
            SELECT j.doc_id,
                   COALESCE(o.cluster_id, j.doc_id) AS cluster_id,
                   CAST(COALESCE(o.cluster_size, 1) AS BIGINT) AS cluster_size,
                   COALESCE(o.is_canonical, true) AS is_canonical
            FROM read_json('{in_dir}/dedup.jsonl',
                           columns={{'doc_id': 'BIGINT'}}) j
            LEFT JOIN o USING (doc_id)"""
    return base


def actual_sql(flow: str, out_dir: str) -> str:
    """DuckDB query reading a CLI flow's written output in the shape of
    its oracle."""
    if CLI_ORACLE[flow][1] == "csv":
        return f"""
            SELECT counter,
                   CAST(epoch(CAST(interval_start AS TIMESTAMPTZ)) AS BIGINT) AS bin_ts,
                   CAST("count" AS DOUBLE) AS "count",
                   CAST(eta AS DOUBLE) AS eta
            FROM read_csv('{out_dir}/*.csv', header=true, all_varchar=true)"""
    return f"SELECT * FROM read_parquet('{out_dir}/*.parquet')"
