"""Global anti-pattern invariants, machine-checked over EVERY registered
query's physical plan (``python tools/audit_plans.py`` prints the
per-query operator counts of the same sweep at sf0.01):

* no row-at-a-time Python UDF (BatchEvalPython) anywhere,
* no CartesianProduct anywhere,
* BroadcastNestedLoopJoin only in the whitelisted bounded-side queries,
* no query builder leaves an RDD marked for checkpointing but not yet
  checkpointed: two later stages that reach it at once can deadlock the
  scheduler on its lock (``RDD.checkpointRDD`` vs
  ``RDDCheckpointData.checkpoint``).
"""

import re
from collections import Counter

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import QUERIES

from conftest import SF_SMOKE

import sys
import os

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from audit_plans import BNLJ_WHITELIST  # noqa: E402


def _persistent_rdd_ids(spark) -> set[int]:
    keys = spark.sparkContext._jsc.sc().getPersistentRDDs().keys().mkString(",")
    return {int(k) for k in keys.split(",") if k}


def _pending_checkpoints(spark, ids: set[int]) -> list[int]:
    """Those of the persistent RDDs ``ids`` marked for a checkpoint that
    no job has written yet."""
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs()
    return sorted(
        i for i in ids
        if (r := rdds.get(i)).nonEmpty() and r.get().checkpointData().isDefined()
        and not r.get().isCheckpointed()
    )


def test_no_antipatterns_in_any_plan(spark):
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    violations = []
    for name, fn in QUERIES.items():
        before = _persistent_rdd_ids(spark)
        df = fn(spark, SF_SMOKE)
        if pending := _pending_checkpoints(spark, _persistent_rdd_ids(spark) - before):
            violations.append(f"{name}: RDDs {pending} marked for checkpoint, not checkpointed")
        tree = (
            df
            ._jdf.queryExecution()
            .explainString(mode)
            .split("\n\n")[0]
        )
        c = Counter(
            {
                op: len(re.findall(rf"\b{re.escape(op)}", tree))
                for op in ("BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin")
            }
        )
        if c["BatchEvalPython"]:
            violations.append(f"{name}: row-at-a-time Python UDF")
        if c["CartesianProduct"]:
            violations.append(f"{name}: CartesianProduct")
        if c["BroadcastNestedLoopJoin"] and name not in BNLJ_WHITELIST:
            violations.append(f"{name}: unlisted BroadcastNestedLoopJoin")
    assert not violations, violations
