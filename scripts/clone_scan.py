"""Count duplicated code in the package: the clone metric behind the
ROADMAP's "least code" item.

A line is *duplicated* when it lies inside an 8-line window that occurs
more than once across the package (in the same module or in another).
Lines are compared after stripping whitespace; blank lines and lines
starting with ``#`` are skipped, so comments and layout never make or
break a clone. Each duplicated line counts once, however many windows
cover it.

Usage:
    python scripts/clone_scan.py [ROOT]

``ROOT`` defaults to the ``f1_bigdata_pyspark_spark`` package next to
this script's directory. Prints one ``<lines>  <module>`` row per module
with duplicated lines (largest first), then the total.
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

WINDOW = 8


def code_lines(path: str) -> list[str]:
    with open(path, encoding="utf-8") as fh:
        out = []
        for raw in fh:
            s = raw.strip()
            if s and not s.startswith("#"):
                out.append(s)
        return out


def scan(root: str) -> dict[str, int]:
    """{module path relative to ``root``: duplicated line count}."""
    modules: dict[str, list[str]] = {}
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                modules[os.path.relpath(path, root)] = code_lines(path)
    where: dict[tuple, list[tuple[str, int]]] = defaultdict(list)
    for mod, lines in modules.items():
        for i in range(len(lines) - WINDOW + 1):
            where[tuple(lines[i : i + WINDOW])].append((mod, i))
    dup: dict[str, set[int]] = defaultdict(set)
    for sites in where.values():
        if len(sites) > 1:
            for mod, i in sites:
                dup[mod].update(range(i, i + WINDOW))
    return {mod: len(idx) for mod, idx in dup.items()}


def main(argv: list[str]) -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    root = argv[1] if len(argv) > 1 else os.path.join(
        os.path.dirname(here), "f1_bigdata_pyspark_spark"
    )
    counts = scan(root)
    for mod, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:6d}  {mod}")
    print(f"{sum(counts.values()):6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
