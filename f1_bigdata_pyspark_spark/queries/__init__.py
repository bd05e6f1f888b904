"""Declared query registry — the engine's public query surface.

Each module registers named queries via the ``@query`` decorator; every query
has a Spark callable ``(spark, sf_dir) -> DataFrame`` and (where the
semantics are SQL-expressible) a DuckDB oracle SQL string computing the
identical result on the same parquet tables. ``__spark_entry__.py`` exposes
this registry to the correctness driver.
"""

from f1_bigdata_pyspark_spark.queries.registry import (  # noqa: F401
    all_oracles,
    all_queries,
    get_query,
    query,
)

# Import for registration side effects — order defines display order.
from f1_bigdata_pyspark_spark.queries import parity  # noqa: E402,F401
from f1_bigdata_pyspark_spark.queries import joins  # noqa: E402,F401
from f1_bigdata_pyspark_spark.queries import timeseries  # noqa: E402,F401
from f1_bigdata_pyspark_spark.queries import text_pipeline  # noqa: E402,F401
from f1_bigdata_pyspark_spark.queries import dedup_pipeline  # noqa: E402,F401
from f1_bigdata_pyspark_spark.queries import similarity  # noqa: E402,F401
from f1_bigdata_pyspark_spark.queries import multimodal  # noqa: E402,F401
from f1_bigdata_pyspark_spark.queries import extended  # noqa: E402,F401
from f1_bigdata_pyspark_spark.queries import snapshot_faces  # noqa: E402,F401
from f1_bigdata_pyspark_spark.queries import tpch_more  # noqa: E402,F401
from f1_bigdata_pyspark_spark.queries import sessions  # noqa: E402,F401
from f1_bigdata_pyspark_spark.queries import sketches  # noqa: E402,F401
from f1_bigdata_pyspark_spark.queries import functions_probe  # noqa: E402,F401
from f1_bigdata_pyspark_spark.queries import anomaly  # noqa: E402,F401
from f1_bigdata_pyspark_spark.queries import evaluation  # noqa: E402,F401
from f1_bigdata_pyspark_spark.queries import privacy  # noqa: E402,F401
