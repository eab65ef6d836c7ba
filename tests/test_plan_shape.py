"""scripts/plan_shape.py's counting rule, on a hand-written plan tree
(no Spark): every kind is counted once per node of the chosen block —
the final plan (what ran) or the initial plan (what adaptive
execution started from) — at every nesting level."""

from __future__ import annotations

import importlib.util
import os

_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "plan_shape.py",
)
_spec = importlib.util.spec_from_file_location("plan_shape", _PATH)
plan_shape = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_shape)

PLAN = """\
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(3) HashAggregate(keys=[a], functions=[count(1)])
   +- ShuffleQueryStage 1
      +- Exchange hashpartitioning(a, 4), ENSURE_REQUIREMENTS
         +- *(2) BroadcastHashJoin [a], [b], Inner, BuildRight, false
            :- InMemoryTableScan [a]
            :     +- InMemoryRelation [a], StorageLevel(disk, memory, 1 replicas)
            :           +- AdaptiveSparkPlan isFinalPlan=true
            :              +- == Final Plan ==
            :                 *(1) Project [a]
            :                 +- Window [row_number() AS rank], [a], [b ASC]
            :                    +- *(1) Scan ExistingRDD[a,b]
            :              +- == Initial Plan ==
            :                 Project [a]
            :                 +- Window [row_number() AS rank], [a], [b ASC]
            :                    +- Exchange hashpartitioning(a, 4)
            :                       +- Scan ExistingRDD[a,b]
            +- BroadcastQueryStage 0
               +- BroadcastExchange HashedRelationBroadcastMode(List(b))
                  +- ArrowEvalPython [f(b)], [pythonUDF0], 200
                     +- BroadcastNestedLoopJoin BuildRight, Cross
                        :- SortMergeJoin [b], [c], Inner
                        +- LocalTableScan [c]
+- == Initial Plan ==
   HashAggregate(keys=[a], functions=[count(1)])
   +- Exchange hashpartitioning(a, 4), ENSURE_REQUIREMENTS
      +- SortMergeJoin [a], [b], Inner
         :- InMemoryTableScan [a]
         :     +- InMemoryRelation [a], StorageLevel(disk, memory, 1 replicas)
         :           +- AdaptiveSparkPlan isFinalPlan=true
         :              +- == Final Plan ==
         :                 *(1) Project [a]
         :                 +- Window [row_number() AS rank], [a], [b ASC]
         :                    +- *(1) Scan ExistingRDD[a,b]
         :              +- == Initial Plan ==
         :                 Project [a]
         :                 +- Window [row_number() AS rank], [a], [b ASC]
         :                    +- Exchange hashpartitioning(a, 4)
         :                       +- Scan ExistingRDD[a,b]
         +- Exchange hashpartitioning(b, 4)
            +- ArrowEvalPython [f(b)], [pythonUDF0], 200
               +- LocalTableScan [b]
"""


def test_shape_counts_only_the_plan_that_ran():
    assert plan_shape.shape(PLAN) == {
        "exchanges": 1,
        "smj": 1,
        "bhj": 1,
        "bnlj": 1,
        "windows": 1,
        "python_evals": 1,
        "checkpoint_scans": 1,
    }


def test_shape_initial_counts_only_the_initial_plans():
    assert plan_shape.shape(PLAN, "Initial") == {
        "exchanges": 3,
        "smj": 1,
        "bhj": 0,
        "bnlj": 0,
        "windows": 1,
        "python_evals": 1,
        "checkpoint_scans": 1,
    }
