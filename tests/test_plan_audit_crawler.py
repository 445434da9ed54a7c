"""Plan audits for the crawl's bookkeeping: first-seen ids and the small
frames the driver builds must stay on the JVM. A Python node or a
``parallelize``d Python RDD here costs Python tasks on every evaluation
of the frame (every in-loop join, background materialization and commit
that reads it), whatever the row count — see BASELINE.md, "Python
workers only where Python computes"."""

from __future__ import annotations

import contextlib
import io

import pandas as pd
import pytest
from pyspark.sql import types as T

from webcrawler_spark.config import CrawlConfig
from webcrawler_spark.plans.crawler import (
    _STATE_TABLES,
    SparkCrawler,
    dense_first_seen_ids,
)
from webcrawler_spark.plans.frames import local_frame

PYTHON_NODES = ("MapInPandas", "EvalPython", "FlatMapGroupsInPandas", "PythonUDF")


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def assert_local_relation(df, what):
    p = plan_str(df)
    assert "LocalTableScan" in p, (what, p)
    assert "Scan ExistingRDD" not in p, (what, p)


def test_dense_ids_plan_has_no_python_and_no_exchange(spark):
    ent = local_frame(
        spark,
        [(f"u{i}", i % 7, i) for i in range(200)],
        "url string, dr long, pos long",
    )
    ids, total = dense_first_seen_ids(ent, "url", "seed_id", base=1, nb=7, n_parts=4)
    assert total == 200
    p = plan_str(ids)
    for node in PYTHON_NODES:
        assert node not in p, (node, p)
    assert "Exchange" not in p, p
    # ids are dense from base, in (dr, pos) order
    got = {r["url"]: r["seed_id"] for r in ids.collect()}
    order = sorted(range(200), key=lambda i: (i % 7, i))
    assert [got[f"u{i}"] for i in order] == list(range(1, 201))


def test_initial_crawler_tables_are_local_relations(spark, tmp_path):
    pages = local_frame(spark, [("http://a.example/", b"<html></html>")],
                        "url string, html binary")
    cfg = CrawlConfig(seeds=("http://a.example/",), limit=1)
    crawler = SparkCrawler(spark, cfg, pages, str(tmp_path / "c"))
    assert set(crawler.tables) == set(_STATE_TABLES)
    for name, df in crawler.tables.items():
        assert_local_relation(df, name)
        assert df.collect() == [], name


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([("a", 1.0), ("b", -2.5)], "word string, val double"),
        ([], "word string, val double"),
        (pd.DataFrame({"dr": pd.Series([3, 1], dtype="int64"),
                       "src_id": pd.Series([7, 9], dtype="int64")}),
         "dr long, src_id long"),
        (pd.DataFrame({"dr": pd.Series([], dtype="int64"),
                       "src_id": pd.Series([], dtype="int64")}),
         "dr long, src_id long"),
        ([(1, ["x", "y"]), (2, [])], "id long, words array<string>"),
        ([], "ord long, url string, links array<string>, terms map<string,double>"),
        ([(0, "u", ["l"], {"t": 0.5})],
         "ord long, url string, links array<string>, terms map<string,double>"),
    ],
    ids=["rows", "empty-rows", "pandas", "empty-pandas", "array", "empty-nested",
         "nested"],
)
def test_local_frame_plans_as_local_table_scan(spark, rows, schema):
    df = local_frame(spark, rows, schema)
    assert_local_relation(df, schema)
    want = rows.itertuples(index=False) if isinstance(rows, pd.DataFrame) else rows
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in want]
    assert df.schema == T.DataType.fromDDL(schema)
