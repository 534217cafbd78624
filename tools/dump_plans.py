"""Generate PLANS.md: physical-plan evidence for a curated set of
headline queries — the legible version of what test_plan_budgets
asserts. For each query we print the distilled plan facts a reviewer
checks at 100 TB:

- PushedFilters / partition filters reaching the parquet scan,
- ReadSchema width (column pruning),
- join strategies chosen (broadcast vs sort-merge vs semi),
- Exchange count (shuffles; static pre-AQE upper bound).

Usage: python tools/dump_plans.py [sf_dir] > PLANS.md-ish output, or
just run it — it writes PLANS.md at the repo root.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHOWCASE = [
    ("tpch_q6_revenue", "pure filter+agg: every predicate pushed, 4-column scan"),
    ("tpch_q3_shipping", "broadcast dim into fact join, TakeOrdered top-k"),
    ("tpch_q4_priority", "EXISTS compiled to LEFT SEMI hash join"),
    ("tpch_q14_promo_share", "broadcast part dim, conditional integer-cent agg"),
    ("rebin_contained", "bounded interval explode + weighted hash agg"),
    ("poisson_lc_eta", "lag window + deduplicated vectorized quantile UDF"),
    ("lsh_candidate_pairs", "banded equi-join, never all-pairs"),
    ("asof_enrich", "union + ONE keyed running window, no range join"),
    ("range_burst_count", "bucketed range join, plain equi-join"),
    ("sample_estimate", "pushed hash-sample filter: reads ~10% of bytes"),
    ("latest_event_per_user", "max_by hash agg, no window sort"),
    ("distinct_users", "two-phase partial-dedup count_distinct"),
    ("duplicated_spans", "xxhash64 span keys pre-shuffle, one explode -> two keyed aggs"),
    ("transform_chain_test", "single Arrow-batched numpy chain kernel, zero shuffle"),
    ("decontaminate_bloom", "broadcast Bloom sketch prefilter before exact confirm join"),
    ("sales_rollup", "ROLLUP: one Expand + one hash agg, no per-level rescans"),
    ("event_type_pivot", "PIVOT as single conditional-count hash agg"),
    ("tpch_q17_small_qty", "decorrelated scalar subquery: per-part agg + join-back after brand semi-join"),
    ("tpch_q22_idle_customers", "1-row global-avg broadcast + LEFT ANTI on date-pruned orders"),
    ("cheapest_supplier_per_part", "argmin-per-group as lexicographic struct-min hash agg"),
    ("rolling_hour_activity", "RANGE-frame window: one exchange+sort, no self-join"),
    ("scd2_dimension", "changelog->SCD2: one user-keyed exchange shared by every window"),
    ("tpch_q19_disjunctive", "3-conjunct OR split and pushed to BOTH scans"),
    ("tpch_q21_blame_supplier", "double-correlated EXISTS as chained order-keyed windows"),
    ("tpch_q7_nation_volume", "twice-aliased broadcast nation dim, IN-list pushed to build sides"),
    ("last_touch_attribution", "as-of union window + struct-max touch dedup"),
    ("tpch_q9_product_profit", "LIKE-pruned part join + broadcast supplier/nation, integer micro-unit profit agg"),
    ("tpch_q11_important_stock", "grand-total scalar as 1-row broadcast, integer cross-multiplied HAVING"),
    ("tpch_q12_late_priority", "year-pruned fact-fact orderkey join, CASE-sum hash agg"),
    ("tpch_q16_supplier_counts", "broadcast anti-join exclusion before distinct-pair dedup + count-distinct"),
    ("tpch_q20_excess_stock", "nested (part,supp) agg -> distinct semi-join into nation-pruned suppliers"),
    ("detector_ensemble", "batched two-phase rank: one (signal,value) histogram, pid-partitioned prefix windows, no single-partition sort"),
    ("pack_sequences", "one shard-keyed exchange + per-shard prefix sum: the partitionBy-write shape"),
    ("bigram_logppl", "explode -> tf agg -> LM/prefix roll-ups -> AQE-broadcast term joins"),
    ("segment_dedup", "segment histogram + shuffle hash join back; hot keys dropped before the join"),
    ("psi_drift", "one fused per-group stats agg, broadcast grid, two hash aggs, no windows"),
    ("ks_drift", "distinct-value collapse, group-partitioned cumulative windows"),
    ("vocab_growth", "two-phase quantile thresholds checkpointed to 10 rows, inequality BNLJ over bounded build"),
    ("decontaminate_fuzzy", "corpus bands probe BROADCAST bench bands; exact verify only on candidates"),
    ("embedding_simhash", "Arrow int64-matmul sketch kernel + one sketch-keyed window"),
    ("benchmark_leakage", "bench gram set broadcast-semi-joined against one corpus scan"),
    ("mann_kendall_trend", "one counter-keyed applyInPandas pass emits z, p, and label together"),
    ("value_quantiles_approx", "mergeable t-digest agg + exact two-phase bracket quantiles, group equi-join"),
    ("weighted_sample", "E-S hash-draw priorities, WindowGroupLimit top-k per group (O(k) reducer state)"),
    ("k_anonymity", "two map-side-combined hash aggs, all-integer governance report"),
    ("kn_logppl", "Kneser-Ney ladder: one explode scan, three vocab-sized LM roll-ups, keyed joins"),
    ("bpe_contract", "one corpus agg + vocab-sized argmax; contract row is a 1-row broadcast cross"),
]


def distill(plan: str) -> list[str]:
    out = []
    for line in plan.splitlines():
        s = line.strip()
        if s.startswith("Output ") or not s:
            continue
        if re.search(
            r"PushedFilters: \[[^\]]|PartitionFilters: \[[^\]]|ReadSchema:", s
        ):
            out.append(s[:160])
    joins = re.findall(
        r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)\b[^\n]*?"
        r"(LeftSemi|LeftAnti|LeftOuter|Inner|FullOuter)?",
        plan,
    )
    if joins:
        counts: dict[str, int] = {}
        for j, how in joins:
            key = f"{j}{'(' + how + ')' if how else ''}"
            counts[key] = counts.get(key, 0) + 1
        out.append(
            "joins: " + ", ".join(f"{k} x{v}" for k, v in sorted(counts.items()))
        )
    n_ex = len(re.findall(r"\bExchange\b", plan)) - len(
        re.findall(r"ReusedExchange", plan)
    )
    out.append(f"exchanges: {n_ex}")
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from gnip_trend_detection_spark import queries as q
    from gnip_trend_detection_spark.session import get_spark, release_cached

    spark = get_spark(app_name="dump-plans")
    lines = [
        "# PLANS — physical-plan evidence for headline queries",
        "",
        "Generated by `tools/dump_plans.py` (sf0.001 plans; shapes are",
        "scale-independent). The distilled facts per query: filters and",
        "schema reaching the parquet scan, join strategies, shuffle",
        "count. `tests/test_plan_budgets.py` asserts",
        "the invariants (no cartesian, whitelisted-bounded NLJs only,",
        "per-query exchange ceilings) over the ENTIRE registry.",
        "",
    ]
    for name, why in SHOWCASE:
        release_cached(spark)
        df = q.ALL[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines.append(f"## {name}")
        lines.append(f"_{why}_")
        lines.append("```")
        lines.extend(distill(plan))
        lines.append("```")
        lines.append("")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
