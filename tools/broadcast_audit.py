"""Audit every registry query for FORCED corpus-scaling broadcasts.

The split_leakage scale bug (r06 batch 7) was a broadcast join whose
build-side row count scales with the corpus: fine at sf0.1, over the
8 GB / 512M-row broadcast cap at 100 TB. Planner-chosen broadcasts
are safe by construction — the decision is size-estimate-based, so at
production scale the same join degrades to sort-merge instead of
crashing. A FORCED `F.broadcast(...)` hint is not: it overrides the
estimate, so if the hinted relation's cardinality scales with the
input, the query dies at scale no matter what the planner knows.

This walks each query's OPTIMIZED LOGICAL plan, finds ResolvedHint
(broadcast) nodes, and reports hints whose subtree reaches a base
relation leaf with no cardinality-bounding node (Aggregate /
Limit / Sample / Deduplicate-of-bounded) in between. Flags are REVIEW
items, not automatic failures — a broadcast left_semi prefilter of
distinct candidate keys (guide §3.2) is a deliberate, documented
trade-off; the point is that every forced hint gets looked at once.

Usage: python tools/broadcast_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BOUNDING = ("Aggregate", "GlobalLimit", "LocalLimit", "Sample")


def _walk(node, in_hint, out, hint_counter):
    name = node.getClass().getSimpleName()
    if in_hint:
        if name.startswith(BOUNDING):
            return  # cardinality bounded below this point
        if name in ("LogicalRelation", "InMemoryRelation", "LogicalRDD"):
            out.append(name)
            return
    entering = in_hint
    if name == "ResolvedHint":
        hint_counter[0] += 1  # counted on the tree, not via toString
        # strategy() prints e.g. "broadcast"; only broadcast hints force
        if "broadcast" in node.hints().toString():
            entering = True
    children = node.children()
    for i in range(children.size()):
        _walk(children.apply(i), entering, out, hint_counter)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from gnip_trend_detection_spark import queries as q
    from gnip_trend_detection_spark.session import get_spark, release_cached

    spark = get_spark(app_name="broadcast-audit")
    flagged = {}
    n_hints = 0
    for name in sorted(q.ALL):
        if only and name not in only:
            continue
        release_cached(spark)
        try:
            df = q.ALL[name](spark, sf_dir)
        except Exception as e:  # noqa: BLE001 - report and continue
            flagged[name] = [f"BUILD ERROR: {e}"]
            continue
        # optimizer may fold hints into join nodes; use the ANALYZED
        # plan where ResolvedHint still exists
        plan = df._jdf.queryExecution().analyzed()
        leaves: list[str] = []
        hint_counter = [0]
        _walk(plan, False, leaves, hint_counter)
        n_hints += hint_counter[0]
        if leaves:
            flagged[name] = leaves
    for name, leaves in sorted(flagged.items()):
        print(f"REVIEW {name}: unbounded leaf under forced broadcast: {leaves}")
    print(
        f"\n{len(flagged)} queries flagged of "
        f"{len(only) if only else len(q.ALL)} ({n_hints} hint nodes seen)"
    )


if __name__ == "__main__":
    main()
