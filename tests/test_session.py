"""The session factory: every session the repo builds carries the product
settings, the benchmark's session carries the same ones, and there is
one builder. Plus the driver-contract module's worker shipping: a Python
UDF from the registry runs when the driver starts outside the checkout."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

import pytest

from webcrawler_spark.plans.frames import local_frame
from webcrawler_spark.session import PRODUCT_CONF, make_session

REPO = pathlib.Path(__file__).resolve().parents[1]


def test_session_carries_product_settings(spark):
    for k, v in PRODUCT_CONF.items():
        assert spark.conf.get(k) == v, k
    df = local_frame(spark, [(1, "a"), (2, "b")], "id long, s string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert sorted(df.collect()) == [(1, "a"), (2, "b")]


def test_product_settings_are_not_deployment_values():
    with pytest.raises(ValueError, match="spark.sql.session.timeZone"):
        make_session("x", conf={"spark.sql.session.timeZone": "Europe/Paris"})


def test_benchmark_session_has_product_settings():
    # perfbench builds its own session; it must keep measuring the product's
    text = (REPO / "perfbench" / "common.py").read_text()
    for k, v in PRODUCT_CONF.items():
        assert f'.config("{k}", "{v}")' in text, k


def test_one_session_builder():
    files = [
        *(REPO / "webcrawler_spark").rglob("*.py"),
        REPO / "bench.py",
        *(REPO / "scripts").glob("*.py"),
        REPO / "tests" / "conftest.py",
    ]
    builders = {
        str(f.relative_to(REPO))
        for f in files
        if "SparkSession.builder" in f.read_text()
    }
    # check_oracle_strict.py stands in for the correctness gate's session
    assert builders == {
        "webcrawler_spark/session.py",
        "scripts/check_oracle_strict.py",
    }
    assert not (REPO / "scripts" / "check_oracle.py").exists()


_ENTRY_OUTSIDE_CHECKOUT = """
import importlib.util, json, sys
sys.path.insert(0, sys.argv[1])
from webcrawler_spark.session import make_session
spark = make_session("entry-outside-checkout", "local[2]",
                     {"spark.ui.enabled": "false", "spark.driver.memory": "1g"})
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", sys.argv[1] + "/__spark_entry__.py")
entry = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry)
df = entry.queries()["multimodal_decode"](spark, "/root/testdata/sf0.001")
plan = df._jdf.queryExecution().executedPlan().toString()
print(json.dumps({"python_udf": "MapInPandas" in plan, "rows": len(df.collect())}))
spark.stop()
"""


def test_entry_queries_run_outside_checkout(tmp_path):
    """The workers start in the driver's working directory: with the
    driver in a scratch dir and no PYTHONPATH, only the entry module's
    shipping lets them import webcrawler_spark to unpickle the UDF."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _ENTRY_OUTSIDE_CHECKOUT, str(REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["python_udf"] and out["rows"] > 0, out
