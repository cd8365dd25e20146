"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship parse→enrich→route→aggregate at sf0.001.
queries()       — one callable per implemented operator (SURVEY.md §2.3),
                  registered in blog_parser_spark/plans/queries.py.
oracle_sql()    — matching DuckDB ANSI SQL per query (same column names).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from blog_parser_spark.plans import pipeline, registry as qreg  # noqa: E402
from blog_parser_spark.plans import queries, queries_analytics, queries_cdc, queries_crawl, queries_export, queries_ext, queries_graph, queries_ml, queries_olap, queries_search, queries_weblog, queries_webmetrics, queries_webops  # noqa: E402,F401
from blog_parser_spark.sources import io  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    pages = io.synth_pages(spark, "/root/testdata/sf0.001")
    return pipeline.flagship(spark, pages)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return qreg.queries()


def oracle_sql() -> dict[str, str]:
    return qreg.oracle_sql()
