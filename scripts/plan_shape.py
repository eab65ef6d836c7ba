"""Print the shape of registered queries' executed plans, one JSON line each.

Each query is built and run once (no rows are collected), then its
final physical plan is counted: shuffle exchanges, sort-merge,
broadcast-hash and broadcast-nested-loop joins, window operators,
Python evaluation nodes and checkpoint scans (``Scan ExistingRDD``,
which is how a localCheckpoint is read back). The record is small and
diffable: run it before and after a change and compare the lines.

Usage:
  python scripts/plan_shape.py [q_a q_b ...] --sf DIR [--cpus 4]
With no query names, every registered query is counted.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_PYTHON = ("Python", "InPandas", "InArrow")  # BatchEvalPython, MapInPandas, ...
# (record key, test on a plan node's name); a node's name is the first
# word of its tree line, after the tree glyphs and any codegen stage id
SHAPE = (
    ("exchanges", lambda n: n == "Exchange"),
    ("smj", lambda n: n == "SortMergeJoin"),
    ("bhj", lambda n: n == "BroadcastHashJoin"),
    ("bnlj", lambda n: n == "BroadcastNestedLoopJoin"),
    ("windows", lambda n: n == "Window"),
    ("python_evals", lambda n: any(p in n for p in _PYTHON)),
    ("checkpoint_scans", lambda n: n == "Scan ExistingRDD"),
)
_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s+)?(Scan ExistingRDD|[A-Za-z]+)")


def shape(plan: str) -> dict[str, int]:
    """Count the SHAPE node kinds in a physical plan's tree string. A
    cached frame's adaptive plan prints its initial plan under its final
    one; those lines did not run and are skipped."""
    names, initial = [], None
    for line in plan.splitlines():
        col = len(line) - len(line.lstrip(" :|"))
        if initial is not None and col > initial:
            continue
        initial = col if "== Initial Plan ==" in line else None
        m = _NODE.match(line)
        if m:
            names.append(m.group(1))
    return {key: sum(map(test, names)) for key, test in SHAPE}


def final_plan(df) -> str:
    """Run ``df`` without collecting it and return its final physical
    plan: adaptive execution re-plans while it runs, so the plan before
    the run is not the plan that ran."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    plan = qe.executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", required=True, help="fixture table directory")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "4"))
    args = ap.parse_args()

    from flink_pipeline_spark.plans import query_fns
    from flink_pipeline_spark.session import EngineConf, get_session

    spark = get_session(
        EngineConf(
            app_name="fps_plan_shape",
            master=f"local[{args.cpus}]",
            shuffle_partitions=int(args.cpus),
            driver_memory="8g",
        )
    )
    fns = query_fns()
    for name in args.queries or sorted(fns):
        plan = final_plan(fns[name](spark, args.sf))
        print(json.dumps({"query": name, **shape(plan)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
