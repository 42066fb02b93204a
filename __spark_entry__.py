"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over goeventstream_spark.queries (the declared operator
registry). entry() runs the flagship stream_replay composition on
sf0.001; queries()/oracle_sql() expose every declared operator for the
driver's DuckDB-oracle correctness gate.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from goeventstream_spark import queries as q  # noqa: E402
from goeventstream_spark.operators import stream_ops as so  # noqa: E402
from goeventstream_spark.sources import load_table  # noqa: E402

q.load_registry()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: deterministic stream replay (SURVEY.md §7 phase 0) —
    tick assignment (R3), 10 s-gap connect/disconnect synthesis (R4/R5),
    delta window scan (R9) in one DataFrame plan."""
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    return so.stream_replay(events, gap_s=so.CLIENT_TIMEOUT_S, t_lo=q.T_LO, t_hi=q.T_HI)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(q.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(q.ORACLES)
