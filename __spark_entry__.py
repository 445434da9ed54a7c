"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All operator implementations live in ``webcrawler_spark.queries``
(the registry maps SURVEY.md §2 ids to each entry); this module is the
thin driver-facing adapter.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from webcrawler_spark import queries as _q  # noqa: E402
from webcrawler_spark.session import ship_package  # noqa: E402


def _shipped(fn: Callable[[SparkSession, str], DataFrame]):
    """``fn`` with the package put on the caller's Python workers first:
    the caller's session need not run inside this checkout."""

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ship_package(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the politeness-budgeted
    frontier dispatch — per-host row_number window + global priority/tie
    top-k (SURVEY.md §2.5 F1+F5), the core scheduling idiom of the crawl
    engine."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)  # per-host politeness budget
        .select(
            F.col("event_id").alias("seed_id"),
            F.col("user_id").alias("host"),
            F.col("value").alias("priority"),
        )
        .orderBy(F.desc("priority"), F.asc("seed_id"))  # F1 queue order
        .limit(64)  # global wave budget
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (and the
    training-data-pipeline surface). Each callable takes (spark, sf_dir)
    and returns a DataFrame with columns aliased to match ``oracle_sql``."""
    return {name: _shipped(fn) for name, fn in _q.queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent per query; entries absent here
    (crawl_wave_e2e, tune_vocabulary, sampler_pivot) are genuinely
    non-SQL-expressible — iterative crawl feedback loop / perceptron
    over a Spark randomSplit sample / dynamic pivot — and get the
    rows-only check. ann_ivf and ann_pq moved to full oracles in round 4
    (deterministic 6-dp-rounded Lloyd training, unrolled CTE chains).
    Round 5: each of the three rows-only outputs now carries
    deterministic whole-run invariant columns (fetch-order +
    accepted-set md5; final error count + net md5; pivot shape + cell
    mass in micro-units), so a value hash over them pins the complete
    computation, not just a row count."""
    return _q.oracle_sql()
