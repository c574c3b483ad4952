"""Dump executed-plan summaries for named catalog queries — the audit
loop behind PLANS.md. Full formatted plans: tools/capture_plans.py.

Usage:
  python tools/plan_snapshot.py q01_project_filter dd17_bloom_decontaminate
  python tools/plan_snapshot.py --all            # summary table for the catalog

Summary counters are the plan properties the scale review cares about:
exchanges (shuffles), join strategies (broadcast vs sort-merge vs nested
loop), TakeOrderedAndProject (top-k without global sort), Generate
(explodes), and Python evaluation nodes (the slow path).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    run_all = "--all" in sys.argv

    import __spark_entry__ as entrymod
    from youtube_data_lakehouse_and_analysis_spark.session import get_spark

    # the same tuned session the bench and the plan-gate tests run under —
    # a snapshot from a hand-rolled config could show plan shapes the
    # gated session never produces
    spark = get_spark("plan-snapshot")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    names = list(queries) if run_all else args
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    for name in names:
        df = queries[name](spark, SF_DIR)
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        print(
            f"{name}: exchanges={plan.count('Exchange')} "
            f"bhj={plan.count('BroadcastHashJoin')} "
            f"smj={plan.count('SortMergeJoin')} "
            f"bnlj={plan.count('BroadcastNestedLoop')} "
            f"topk={plan.count('TakeOrderedAndProject')} "
            f"window={plan.count('Window')} "
            f"generate={plan.count('Generate')} "
            f"python={plan.count('BatchEvalPython') + plan.count('ArrowEval') + plan.count('MapInPandas')}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
