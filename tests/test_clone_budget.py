"""Duplicated-code budget for the package, measured by
``scripts/clone_scan.py`` (identical 8-line windows of stripped code).

The budgets are the counts the snapshot-family split and the text/dedup
shared builders reached; a change that clones code back in fails here. Raising a budget is a decision, so
it needs a CHANGES.md line saying why. Pure Python: no Spark.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))

from clone_scan import scan  # noqa: E402

BUDGET = {
    "queries/dedup_pipeline.py": 0,
    "queries/extended.py": 12,
    "queries/snapshot_faces.py": 8,
    "queries/text_pipeline.py": 16,
}
TOTAL_BUDGET = 839


def test_clone_budget():
    pkg = os.path.join(ROOT, "f1_bigdata_pyspark_spark")
    for mod in BUDGET:
        assert os.path.isfile(os.path.join(pkg, mod)), f"{mod} is gone"
    counts = scan(pkg)
    assert counts, "the scan saw no duplicated line at all: wrong root?"
    over = {m: counts.get(m, 0) for m, b in BUDGET.items() if counts.get(m, 0) > b}
    assert not over, f"modules over their clone budget {BUDGET}: {over}"
    total = sum(counts.values())
    assert total <= TOTAL_BUDGET, f"{total} duplicated lines > {TOTAL_BUDGET}"
