"""The one place this package builds a SparkSession.

Every entry point (the CLI's crawl, tune/sample and query commands, the
spark-submit main, ``bench.py``, ``scripts/scaling_probe.py`` and the test
fixture) gets its session from :func:`make_session`, so the session that
is benchmarked is the session that ships. The product settings below are
fixed; callers pass deployment values only (master, heap, scratch dirs,
shuffle width, UI, Arrow batch size). Scheduling is Spark's default FIFO.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: on in every session: adaptive execution with partition coalescing,
#: Arrow transfers (``plans.frames.local_frame`` plans as a
#: ``LocalTableScan`` only with Arrow on) and UTC timestamps (the DuckDB
#: oracles are UTC-naive)
PRODUCT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
}

#: the directory holding the ``webcrawler_spark`` package
CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def make_session(
    app: str, master: str | None = None, conf: dict[str, object] | None = None
) -> SparkSession:
    """Get or create the session named ``app`` on ``master`` (default:
    whatever spark-submit or the environment set). ``conf`` holds
    deployment settings; naming a product setting in it raises."""
    conf = dict(conf or {})
    fixed = sorted(PRODUCT_CONF.keys() & conf.keys())
    if fixed:
        raise ValueError(f"product settings are fixed, not deployment values: {fixed}")
    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    for k, v in {**conf, **PRODUCT_CONF}.items():
        b = b.config(k, str(v))
    return b.getOrCreate()


def ship_package(spark: SparkSession) -> None:
    """Put this checkout on the Python workers' ``PYTHONPATH`` for UDFs
    created from now on in ``spark``'s context; idempotent per context.

    Local workers start in the driver's working directory, so outside
    the checkout with ``PYTHONPATH`` unset they cannot import
    ``webcrawler_spark`` to unpickle a UDF. A cluster deployment ships
    the package with ``--py-files`` instead."""
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if CHECKOUT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([CHECKOUT, *paths])
