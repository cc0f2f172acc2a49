"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The entries live in ``hiv_data_integration_spark.registry``; this file is
just the stable driver-facing façade.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hiv_data_integration_spark.battery import q_flagship
from hiv_data_integration_spark.registry import (
    ORACLE,
    QUERIES,
    correctness_history,
    window_order,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"
_HERE = os.path.dirname(os.path.abspath(__file__))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The flagship (SURVEY.md §7.5) exercises the spine every reference
    extract repeats: scan → broadcast dim joins → derived column-name
    synthesis → explicit-values pivot → grouped null-preserving re-sum →
    wide→long stack → rounding → sort.
    """
    return q_flagship(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ §2.14
    extensions: dedup / similarity / text analysis / multimodal),
    ordered from the ``CORRECTNESS_r<N>.json`` history next to this file
    so the driver's 50-query verification window lands on the entries
    with the least recent driver signal (``registry.window_order``)."""
    order = window_order(QUERIES, correctness_history(_HERE))
    return {name: QUERIES[name] for name in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL mirror for each query (same column names).

    Every registered query carries a full hash-checkable oracle — the
    last rows-only entries (the mapInPandas decode/frame stubs) gained
    deterministic byte-arithmetic oracles in round 5.
    """
    return dict(ORACLE)
