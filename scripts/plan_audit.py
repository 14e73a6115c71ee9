"""Generate PLANS.md: the physical-plan profile of every registered query.

Usage: python scripts/plan_audit.py [sf_dir]

For each query: number of shuffle exchanges, joins by strategy, whether
whole-stage codegen covers the scalar path, scan pushdown/pruning
markers, and Python (Arrow) stages. The per-query plan-gate tests pin
the critical shapes; this report makes the WHOLE surface reviewable at
a glance — the 'explain and iterate' loop, institutionalized.

The profile is of the STATIC plan, before execution: a subtree that
appears twice (both sides of a self-join, a repeated aggregate) is
counted twice, although the executed plan computes it once and reads it
back as a ReusedExchange. So `exch` over-counts the exchanges a query
runs; compare `queryExecution().executedPlan()` after an action for the
executed count.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from azure_iot_realtime_data_pipeline_spark.session import get_spark  # noqa: E402


def profile(plan: str) -> dict[str, object]:
    return {
        "exchanges": len(re.findall(r"Exchange hashpartitioning", plan)),
        "single_part": len(re.findall(r"Exchange SinglePartition", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "arrow_py": plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("ArrowEvalPython"),
        "pushed": "PushedFilters: [" in plan
        and not re.search(r"PushedFilters: \[\]", plan),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, fn in entrymod.queries().items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            fn(spark, sf_dir).explain(mode="simple")
        p = profile(buf.getvalue())
        rows.append((name, p))
        print(f"# {name}: {p}", file=sys.stderr)
    lines = [
        "# PLANS — physical-plan profile of every registered query",
        "",
        f"Generated by `python scripts/plan_audit.py` at `{sf_dir}`.",
        "Columns: shuffle exchanges / single-partition exchanges /",
        "broadcast hash joins / sort-merge joins / bounded nested-loop",
        "joins / whole-stage-codegen spans / Arrow-Python stages /",
        "scan-level pushed filters. Repo invariants (plan-gated in",
        "tests/test_plans.py): zero CartesianProduct, zero SortMergeJoin,",
        "single-partition exchanges only in the sanctioned",
        "reference-faithful global window. Counts are of the static",
        "pre-execution plan: an exchange the executed plan reuses",
        "(ReusedExchange, e.g. a self-join's second side) is counted",
        "again, so `exch` over-counts what a query runs.",
        "",
        "| query | exch | 1part | BHJ | SMJ | BNLJ | codegen | arrowPy | pushdown |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name, p in rows:
        lines.append(
            f"| {name} | {p['exchanges']} | {p['single_part']} | {p['bhj']} |"
            f" {p['smj']} | {p['bnlj']} | {p['codegen']} | {p['arrow_py']} |"
            f" {'yes' if p['pushed'] else ''} |"
        )
    totals = {
        "smj": sum(p["smj"] for _, p in rows),
        "cartesian": sum(p["cartesian"] for _, p in rows),
        "single_part": sum(p["single_part"] for _, p in rows),
    }
    lines += [
        "",
        f"Totals across {len(rows)} queries: SortMergeJoin {totals['smj']},"
        f" CartesianProduct {totals['cartesian']},"
        f" single-partition exchanges {totals['single_part']}.",
        "",
    ]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(rows)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
