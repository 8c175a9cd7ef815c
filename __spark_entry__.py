"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship BM25 top-k over /root/testdata/sf0.001 documents.
queries()       — one callable per implemented operator (SURVEY.md §2).
oracle_sql()    — matching ANSI SQL for DuckDB (same parquet views).

Column names are aliased identically on both sides (the driver's compare
sorts columns by name and value-hashes). Float aggregates are rounded to 4
decimals on BOTH sides to absorb summation-order noise.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark_codesearch import entry_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    DECISION (r6, conscious): entry() stays on search_wand — it
    intentionally exercises the 100 TB scale path (compressed block-max
    segments + MaxScore pruning) even though the cost-dispatched product
    path (engine.search_topk_auto, driver p50 0.359 s = 0.72x baseline)
    is faster at this SF; forced-WAND is 1.08x baseline and
    rank-identical to the exact scorer (proven by the bm25_wand_* driver
    entries sharing the exact path's SQL oracle). bench.py's
    single_query section measures search_topk_auto, so both paths stay
    visible."""
    from pyspark_codesearch.engine import documents_engine

    eng = documents_engine(spark, "/root/testdata/sf0.001")
    return eng.search_wand("spark filter join query", k=20)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return entry_queries.QUERIES


def oracle_sql() -> dict[str, str]:
    # materializes lazy oracles (VALUES literals computed from the
    # comparison SF dir — default /root/testdata/sf0.01, the driver's gate)
    return entry_queries.oracle_sql_dict()
