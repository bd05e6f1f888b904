"""``scripts/capture_plans.plan_sha256`` hashes a formatted plan without
the session's running counters, so one plan built at two points of a
session (or in two sessions) hashes the same. Pure Python: no Spark."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))

from capture_plans import plan_sha256  # noqa: E402

# one Filter over a higher-order function, as two sessions format it: the
# lambda variable's suffix comes from a JVM-wide counter, like the ids
_PLAN = (
    "(3) Filter\n"
    "Input [2]: [doc_id#{e}L, text#{t}]\n"
    "Condition : (size(filter(split(text#{t},  , -1), "
    "lambdafunction(lambda x_{n}#{v} IN (the,a), lambda x_{n}#{v}, false)), "
    "true) > 0)\n"
    "(4) Exchange\n"
    "Arguments: hashpartitioning(doc_id#{e}L, 8), ENSURE_REQUIREMENTS, "
    "[plan_id={p}]\n"
    "(5) Scan ExistingRDD\n"
    "Arguments: [doc_id#{e}L], MapPartitionsRDD[{r}] at applySchemaToPythonRDD"
)


def test_plan_hash_ignores_session_counters():
    a = _PLAN.format(e=12, t=13, n=11, v=3100, p=2570, r=40)
    b = _PLAN.format(e=250, t=251, n=28, v=222, p=2509, r=7)
    assert plan_sha256(a) == plan_sha256(b)


def test_plan_hash_sees_a_changed_plan():
    a = _PLAN.format(e=12, t=13, n=11, v=3100, p=2570, r=40)
    assert plan_sha256(a) != plan_sha256(a.replace("(the,a)", "(the,an)"))
