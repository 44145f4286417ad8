"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``etl_edi_data_scrapper_spark/`` (see SURVEY.md);
the query suite and its oracles in ``etl_edi_data_scrapper_spark/suite.py``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, "/root/repo")
# Executor-side Python workers inherit the driver's PYTHONPATH; one query
# ships package functions to workers (multimodal's mapInPandas kernel),
# which must be importable there even when the harness launches from
# another cwd. Set it before the JVM/daemon forks;
# suite._ship_package covers sessions created before this import.
_pp = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
if "/root/repo" not in _pp:
    # filter empties: a trailing/duplicated separator would put the workers'
    # cwd on sys.path (an empty PYTHONPATH entry means ".")
    os.environ["PYTHONPATH"] = os.pathsep.join(["/root/repo", *_pp])

from etl_edi_data_scrapper_spark.suite import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (config→plan compile + keyed merge) on sf0.001."""
    return QUERIES["keyed_merge"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (same column names)."""
    return dict(ORACLES)
