"""Engine-wide physical-plan invariants over the ENTIRE query registry.

The per-query oracle gate proves values; these prove the 100 TB
posture holds for every registered operator at once:

- no row-at-a-time Python UDFs anywhere (``BatchEvalPython``) and no
  Arrow scalar UDFs outside the sanctioned grouped/map stages — Python
  enters only through mapInPandas/applyInPandas where the operator is
  an ordered fold or a codec boundary;
- no CartesianProduct (both sides shuffled, no broadcast) anywhere.
  BroadcastNestedLoopJoin is NOT flagged: it is the intended physical
  strategy for non-equi predicates against a broadcast-small side
  (theta bands, '*' wildcards) — by definition one side fits in
  memory.
"""

from __future__ import annotations

from apl_commissions_etl_spark.registry import all_queries

#: queries allowed to run Python batch stages (Arrow mapInPandas /
#: applyInPandas): only the ordered consolidation fold. Everything else
#: must stay JVM-side.
PANDAS_OK = {
    "consolidate_proposals",
    # same sanctioned sorted-fold stage, over the touched groups only
    "consolidate_incremental_parity",
}

# a family suite UNIONs the plans of its sub-queries, so it inherits
# exactly the sanctioned stages its subs already have
from apl_commissions_etl_spark.queries.suites import SUITE_DEFS  # noqa: E402

for _suite, (_ref, _subs) in SUITE_DEFS.items():
    if set(_subs) & PANDAS_OK:
        PANDAS_OK.add(_suite)


def test_registry_plan_invariants(spark, sf_dir):
    qs = all_queries()
    # an allow-list entry whose query is gone would pass silently
    stale = PANDAS_OK - qs.keys()
    assert not stale, f"allow-list names unregistered queries: {sorted(stale)}"
    bad: dict[str, str] = {}
    for name, q in qs.items():
        df = q.spark_fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "BatchEvalPython" in plan:
            bad[name] = "row-at-a-time Python UDF in plan"
        elif "ArrowEvalPython" in plan:
            bad[name] = "Arrow scalar UDF in plan (use native expressions)"
        elif (
            "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan
        ) and name not in PANDAS_OK:
            bad[name] = "unexpected pandas stage"
        elif "CartesianProduct" in plan:
            bad[name] = "unbroadcast cartesian product"
    assert not bad, f"plan invariant violations: {bad}"
