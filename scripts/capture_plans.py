#!/usr/bin/env python
"""Capture ``explain("formatted")`` for named registered queries.

Usage::

    python scripts/capture_plans.py OUT_DIR [QUERY ...]

Builds each named query (every ``bench=True`` query when none is named)
on the tuned session from ``session.get_spark`` over the scale-factor
directory ``SPARK_GRAFT_SF_DIR`` names, writes its formatted plan to
``OUT_DIR/<query>.txt`` and prints one ``<sha256>  <query>`` line per
plan. The hash is taken with the session's running counters stripped:
Catalyst expression IDs (``#123``), exchange ``plan_id=`` numbers, the
RDD ids of checkpointed inputs (``MapPartitionsRDD[12]``) and the
suffixes of generated lambda variables (``lambda x_11``). So two
builds of the same plan hash the same whatever ran before them in the
session, and across commits: capture before and after a refactor and
diff the hash lines.

Plan-only: nothing is collected, but a query's eager build-time jobs
(``materialize()``, driver-side lookups) still run. For oracle parity run
``pytest tests/test_oracle_parity.py -k <query>``; for timings run
``perfbench/run.py --trace 1``.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

_SESSION_IDS = re.compile(
    r"#\d+|(?<=plan_id=)\d+|(?<=RDD\[)\d+|(?<=lambda [xyz]_)\d+"
)


def plan_sha256(plan: str) -> str:
    """SHA-256 of a formatted plan with session-scoped IDs stripped."""
    return hashlib.sha256(_SESSION_IDS.sub("", plan).encode()).hexdigest()


def main(argv: list[str]) -> int:
    if not argv or argv[0].startswith("-"):
        print(__doc__, file=sys.stderr)
        return 2
    out_dir, names = argv[0], argv[1:]

    from f1_bigdata_pyspark_spark.plans.explain import formatted_plan
    from f1_bigdata_pyspark_spark.queries.registry import _REGISTRY
    from f1_bigdata_pyspark_spark.session import env_sf_dir, get_spark

    unknown = [n for n in names if n not in _REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    names = names or [q.name for q in _REGISTRY.values() if q.bench]
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = env_sf_dir()
    spark = get_spark(app_name="plan-capture")
    try:
        for name in names:
            plan = formatted_plan(_REGISTRY[name].fn(spark, sf_dir))
            with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
            print(f"{plan_sha256(plan)}  {name}", flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
