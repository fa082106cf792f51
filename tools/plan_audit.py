"""Physical-plan audit: per registry query, summarize what matters at
scale — scan schemas (column pruning), pushed filters, join strategies,
and exchange (shuffle) counts — and print them as one JSON object.
tests/test_plan_audit.py holds the budgets these numbers are checked
against.

Usage: python tools/plan_audit.py [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streaming_data_pipeline_capstone_spark.registry import all_queries
from streaming_data_pipeline_capstone_spark.session import get_spark


def _dedup_cached_plans(plan: str) -> str:
    """Count each cached (persisted) subtree ONCE: the plan printer embeds
    an InMemoryRelation's child plan under EVERY InMemoryTableScan that
    references it, but at runtime that child executes once (cache
    population) and later references read the cache — so repeated copies
    of the same cached block must not inflate scan/exchange counts.
    Blocks are matched up to expression ids (#NNN), which differ per
    reference to the same relation.

    Caveat (logged): the key is plan TEXT, so two DISTINCT
    cached relations whose child plans are structurally identical would
    collapse into one and undercount. The printer gives no stable
    relation identity to key on, so every collapse is reported to stderr
    with its header line — a suspicious audit can be checked against the
    query's actual persist() sites."""
    lines = plan.splitlines()
    pre = re.compile(r"^[\s:+\-]*")
    out: list[str] = []
    seen: set[str] = set()
    i = 0
    while i < len(lines):
        line = lines[i]
        if "InMemoryRelation" in line:
            indent = pre.match(line).end()
            j = i + 1
            while j < len(lines) and pre.match(lines[j]).end() > indent:
                j += 1
            # key normalizes per-reference noise: expression ids (#NNN)
            # and the tree-drawing prefix (references nest at different
            # depths, so raw indentation differs between identical blocks)
            key = re.sub(
                r"#\d+", "#x", "\n".join(pre.sub("", ln) for ln in lines[i:j])
            )
            if key in seen:
                print(
                    "[plan_audit] collapsed a repeated cached block: "
                    + pre.sub("", line)[:120],
                    file=sys.stderr,
                )
            if key not in seen:
                seen.add(key)
                kept = lines[i:j]
                # a cached AdaptiveSparkPlan prints BOTH its final and its
                # initial tree; only the final one executed — drop the
                # "== Initial Plan ==" tail so it doesn't double scans
                for k, ln in enumerate(kept):
                    if "== Initial Plan ==" in ln:
                        kept = kept[:k]
                        break
                out.extend(kept)
            i = j
        else:
            out.append(line)
            i += 1
    return "\n".join(out)


def audit(df) -> dict:
    df.count()  # materialize so AQE's FINAL plan (with codegen markers) is audited
    plan = _dedup_cached_plans(df._jdf.queryExecution().executedPlan().toString())
    scans = []
    for m in re.finditer(r"FileScan parquet[^\n]*", plan):
        line = m.group(0)
        cols = re.search(r"\[([^\]]*)\]", line)
        ncols = len(cols.group(1).split(",")) if cols else 0
        pushed = "DataFilters: \\[\\]" not in line and "DataFilters: []" not in line
        scans.append((ncols, pushed))
    joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)", plan)
    shuffles = len(
        re.findall(r"Exchange (hashpartitioning|rangepartitioning|SinglePartition)", plan)
    )
    return {
        "scans": scans,
        "joins": sorted(set(joins)),
        "shuffles": shuffles,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = get_spark(app_name="plan-audit")
    qs = all_queries()
    stats = {}
    for name in sorted(qs):
        try:
            stats[name] = audit(qs[name](spark, args.sf_dir))
        except Exception as exc:  # noqa: BLE001 - audit tool, report and move on
            stats[name] = {"error": str(exc).splitlines()[0]}
    print(json.dumps(stats, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
