"""``headline``: the registry's 16 ``bench=True`` queries over the
repository's sf0.01 test tables (``data/sf0.01``), one closed-loop client.

A round is one pass over the query set. The first pass in the fresh session
is timed as the cold round; warm passes follow, each in an order shuffled by
the seed, until ``--seconds`` have been spent on them and at least
``WARM_ROUNDS`` have run.
One operation is one query: build the DataFrame, plan, execute and collect.

Correctness, outside the timed regions: each query's cold result is compared
with its DuckDB oracle twin on the same files (row count, schema and
order-insensitive values, ``tests/oracle_harness.compare``); each warm result
must equal the verified cold result as a multiset of rows.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# Warm passes per run: whole passes run until ``--seconds`` have been spent
# on them, and never fewer than this. A warm pass takes several seconds, so
# with a short ``--seconds`` every run makes exactly this many.
WARM_ROUNDS = 2


def query_names() -> list[str]:
    from f1_bigdata_pyspark_spark.queries.registry import _REGISTRY

    return [q.name for q in _REGISTRY.values() if q.bench]


def stage_tables(dest: str) -> None:
    """Copy the input tables into the run's directory, after checking each
    against its recorded SHA-256 (``data/sf0.01.sha256``), so every run reads
    the same bytes and nothing a query writes can reach the checkout's copy."""
    os.makedirs(dest)
    with open(DATA + ".sha256") as fh:
        sums = dict(reversed(line.split()) for line in fh if line.strip())
    names = sorted(n for n in os.listdir(DATA) if n.endswith(".parquet"))
    if names != sorted(sums):
        raise RuntimeError(f"{DATA} holds {names}, expected {sorted(sums)}")
    for name in names:
        src = os.path.join(DATA, name)
        with open(src, "rb") as fh:
            digest = hashlib.sha256(fh.read()).hexdigest()
        if digest != sums[name]:
            raise RuntimeError(f"{src} differs from its recorded SHA-256")
        shutil.copyfile(src, os.path.join(dest, name))


def _sorted_rows(rows: list[tuple]) -> list[tuple]:
    return sorted(rows, key=lambda r: tuple((v is None, str(v)) for v in r))


def run(spark, tracer, data_dir: str, seed: int, seconds: float, mark_setup) -> dict:
    from f1_bigdata_pyspark_spark.catalog import TABLES, load_table
    from f1_bigdata_pyspark_spark.queries.registry import get_query

    names = query_names()
    with tracer.span("catalog.warm"):
        for t in TABLES:
            load_table(spark, data_dir, t).count()
    mark_setup()

    def op(name: str, phase: str) -> tuple[float, list[str], list[tuple]] | None:
        """One timed query; ``None`` if it raised (a failed operation)."""
        try:
            return _op(name, phase)
        except Exception as exc:  # a query that raises is one failed operation
            errors.append(f"{name}: raised {type(exc).__name__}: {str(exc)[:300]}")
            return None

    def _op(name: str, phase: str) -> tuple[float, list[str], list[tuple]]:
        q = get_query(name)
        t0 = time.perf_counter()
        with tracer.span(f"q.{name}"):
            with tracer.span(f"{phase}.build"), tracer.job_group("build", f"{phase}.build"):
                df = q.fn(spark, data_dir)
            if tracer.enabled:
                with tracer.span(f"{phase}.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span(f"{phase}.collect"), tracer.job_group("collect", f"{phase}.execute"):
                cols = df.columns
                rows = [tuple(r) for r in df.collect()]
        dt = time.perf_counter() - t0
        tracer.add(f"{phase}.execute.rows_out", len(rows))
        if tracer.enabled:
            s = tracer.spans
            build = next(x for x in reversed(s) if x["name"] == f"{phase}.build")
            collect = next(x for x in reversed(s) if x["name"] == f"{phase}.collect")
            tracer.sample(f"q.{name}.{phase}.build_s", build["end"] - build["start"])
            tracer.sample(f"q.{name}.{phase}.collect_s", collect["end"] - collect["start"])
        return dt, cols, rows

    errors: list[str] = []
    results: dict[str, tuple[list[str], list[tuple]] | None] = {}
    t0 = time.perf_counter()
    with tracer.span("round.cold"):
        for name in names:
            got = op(name, "cold")
            results[name] = None if got is None else got[1:]
    cold_s = time.perf_counter() - t0

    rng = random.Random(seed)
    rounds: list[float] = []
    op_times: list[float] = []
    warm_rows: dict[str, list[list[tuple]]] = {n: [] for n in names}
    start = time.perf_counter()
    while len(rounds) < WARM_ROUNDS or time.perf_counter() - start < seconds:
        order = list(names)
        rng.shuffle(order)
        r0 = time.perf_counter()
        with tracer.span("round.warm"):
            for name in order:
                got = op(name, "warm")
                if got is not None:
                    op_times.append(got[0])
                warm_rows[name].append(None if got is None else got[2])
        rounds.append(time.perf_counter() - r0)

    # checks, outside the timed regions
    t_checks = time.perf_counter()
    from tests.oracle_harness import compare, duckdb_connection, run_oracle

    con = duckdb_connection(data_dir)
    failed = len(errors)
    for name in names:
        cold = results[name]
        errs = [] if cold is None else compare(name, cold, run_oracle(con, get_query(name).oracle))
        if errs:
            failed += 1
            errors.append(errs[0][:300])
        verified = None if cold is None or errs else _sorted_rows(cold[1])
        for rows in warm_rows[name]:
            # a warm result is checked against the oracle-verified cold one
            if rows is not None and (verified is None or _sorted_rows(rows) != verified):
                failed += 1
                errors.append(f"{name}: warm result does not equal a verified cold one")
    con.close()
    return {
        "attempted": len(names) * (1 + len(rounds)),
        "failed": failed,
        "errors": errors,
        "checks_s": time.perf_counter() - t_checks,
        "first_round_s": cold_s,
        "rounds": rounds,
        "ops": op_times,
    }
