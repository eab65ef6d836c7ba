"""Print the shape of registered queries' executed plans, one JSON line each.

Each query is built and run once (no rows are collected), then its
physical plan is counted twice: ``initial`` is the plan adaptive
execution started from, ``final`` the plan it re-planned into while
running. Counted are shuffle exchanges, sort-merge, broadcast-hash and
broadcast-nested-loop joins, window operators, Python evaluation
nodes and checkpoint scans (``Scan ExistingRDD``, which is how a
localCheckpoint is read back). The record is small and diffable:
``{"query", "initial": {...}, "final": {...}}``; run it before and
after a change and compare the lines.

A plan proof compares ``initial``. The final plan is not reproducible
run to run for some queries at the same code (stage completion order
decides some broadcast conversions, e.g. q_ann_delete_recall,
q_dedup_embed_apply, q_pq_refresh_serve, q_sim_ivfpq_serve), so a
difference only in ``final`` on such a query is noise.

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


def shape(plan: str, block: str = "Final") -> dict[str, int]:
    """Count the SHAPE node kinds in a physical plan's tree string. An
    adaptive plan that re-planned prints its final plan and then its
    initial plan, each under a header; ``block`` ("Final" or
    "Initial") picks which one counts, at every nesting level (cached
    frames carry their own adaptive plans), and the other is skipped."""
    other = "== Initial Plan ==" if block == "Final" else "== Final Plan =="
    names, hidden = [], None
    for line in plan.splitlines():
        col = len(line) - len(line.lstrip(" :|"))
        if hidden is not None and col > hidden:
            continue
        hidden = col if other in line else None
        m = _NODE.match(line)
        if m:
            names.append(m.group(1))
    return {key: sum(map(test, names)) for key, test in SHAPE}


def executed_plan(df) -> str:
    """Run ``df`` without collecting it and return its physical plan,
    which then holds both the initial and the final adaptive plan."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    return qe.executedPlan().toString()


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
        plan = executed_plan(fns[name](spark, args.sf))
        record = {"initial": shape(plan, "Initial"), "final": shape(plan)}
        print(json.dumps({"query": name, **record}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
