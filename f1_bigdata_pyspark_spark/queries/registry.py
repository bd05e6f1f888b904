"""Query registry plumbing (decorator + lookup)."""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from f1_bigdata_pyspark_spark.session import set_up_workers

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL twin; None → driver does rows-only check
    bench: bool = False  # include in bench.py headline set


_REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None, bench: bool = False):
    """Register a declared query. ``oracle`` is ANSI SQL runnable by DuckDB
    against the pre-registered views (region nation customer supplier part
    orders lineitem events documents embeddings).

    The registered function sets up the session's Python workers
    (``session.set_up_workers``) before it builds anything, so UDF and
    data-source faces also run on a session the caller built itself."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            set_up_workers(spark)
            return fn(spark, sf_dir)

        _REGISTRY[name] = Query(name=name, fn=run, oracle=oracle, bench=bench)
        return run

    return deco


def all_queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in _REGISTRY.values()}


def all_oracles() -> dict[str, str]:
    return {q.name: q.oracle for q in _REGISTRY.values() if q.oracle is not None}


def bench_queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in _REGISTRY.values() if q.bench}


def get_query(name: str) -> Query:
    return _REGISTRY[name]
