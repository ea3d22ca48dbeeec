"""Physical-plan audit: one row per registered query summarizing the
operators that matter at scale (exchanges, join strategies, window
group-limits, codegen spans, scan pushdown).

Plans are built (analyzed + physical-planned), NOT executed — AQE
runtime re-planning therefore doesn't show here; what does show is the
static shape the docstrings claim: how many shuffles, which joins
broadcast, whether top-k stays partial.

Usage: python scripts/plan_audit.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from datapump_spark.queries import ALL_QUERIES
    from datapump_spark.session import get_session

    spark = get_session("plan-audit", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    print(f"# PLANS — static physical-plan audit ({len(ALL_QUERIES)} queries, "
          f"{Path(sf_dir).name})")
    print()
    print("Generated by `python scripts/plan_audit.py`. Exch = Exchange "
          "operators (shuffles/broadcast-exchanges), BHJ/SMJ = join "
          "strategies, WGL = WindowGroupLimit (partial top-k), Push = "
          "parquet scans carrying PushedFilters. (Codegen spans appear "
          "only in executed AQE plans, so they are not auditable "
          "statically — see PERF.md for executed-plan inspections.)")
    print()
    print("| query | Exch | BHJ | SMJ | WGL | Push | note |")
    print("|---|---|---|---|---|---|---|")
    for name in sorted(ALL_QUERIES):
        try:
            df = ALL_QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            note = ""
        except Exception as exc:  # noqa: BLE001 — audit must not abort
            print(f"| {name} | — | — | — | — | — | "
                  f"error: {type(exc).__name__} |")
            continue
        row = [
            plan.count("Exchange"),
            plan.count("BroadcastHashJoin"),
            plan.count("SortMergeJoin"),
            plan.count("WindowGroupLimit"),
            plan.count("PushedFilters: ["),
        ]
        if "CartesianProduct" in plan:
            note = "CARTESIAN"
        elif "BroadcastNestedLoopJoin" in plan:
            note = "BNLJ (broadcast side bounded)"
        print(f"| {name} | " + " | ".join(str(x) for x in row)
              + f" | {note} |")


if __name__ == "__main__":
    main()
