"""Smoke tests for the benchmark runner at tiny sizes (``--smoke``).

    python3 -m pytest perfbench/test_smoke.py -q

Each test starts run.py in its own process, as the benchmark is run.
They check the output contract, that every traced crawl phase ran and the
phase spans plus the unattributed remainder add up to the wave-loop wall,
that the resumed crawl reproduces the uninterrupted crawl's digests (in
the run, and again in a separate ``--pin`` process), and that the runner
fails without printing a result when the program is absent."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import crawl  # noqa: E402

SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json")))


def run(*args, cwd=REPO, timeout=600):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def smoke(workload, trace, seed=0):
    rc, lines, err = run("--workload", workload, "--seed", str(seed),
                         "--seconds", "1", "--trace", str(trace), "--smoke")
    assert rc == 0, err[-3000:]
    details = json.loads(lines[-2])["details"]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, details["failures"]
    assert result["attempted"] >= 1
    names = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in names}
    for m in names:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    return details, {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", ["crawl_waves", "query_sweep"])
def test_end_to_end_metrics(workload):
    _, metrics = smoke(workload, trace=0)
    assert all(v > 0 for v in metrics.values()), metrics


def test_traced_crawl_accounts_for_the_wave_loop_and_resume_matches():
    details, layer = smoke("crawl_waves", trace=1, seed=3)
    assert layer["crawler.waves"] >= 2
    assert layer["crawler.covered_s"] + layer["crawler.unattributed_s"] == pytest.approx(
        layer["crawler.wave_loop_s"], rel=1e-9)
    for phase in (*crawl.PHASES, "bloom.add_s"):
        assert 0 < layer[phase] <= layer["crawler.wave_loop_s"], phase
    assert details["reference"]  # the seed is unpinned: checked in the run
    assert layer["crawler.jobs_per_wave"] > 0
    assert layer["catalog.bytes_written"] > 0 and layer["catalog.load_s"] > 0
    assert layer["queries.cold_pass_s"] == 0  # the queries layer is idle here

    rc, lines, err = run("--workload", "crawl_waves", "--seed", "3", "--seconds", "1",
                         "--smoke", "--pin")
    assert rc == 0, err[-3000:]
    assert json.loads(lines[-1])["crawl_waves"]["3"] == details["digests"]


def test_every_crawl_seed_selects_a_pinned_web():
    with open(os.path.join(HERE, "pins.json")) as f:
        pinned = json.load(f)["crawl_waves"]
    assert set(pinned) == {str(s) for s in range(crawl.WEBS)}
    assert {crawl.web_seed(s, smoke=False) for s in (-7, 0, 31, 32, 10**9 + 7)} <= set(
        range(crawl.WEBS))


def test_traced_sweep_reports_the_queries_layer():
    _, layer = smoke("query_sweep", trace=1)
    assert layer["queries.executor_cpu_s"] > 0
    assert layer["queries.ngram_jaccard_pairs.warm_s"] > 0
    assert layer["crawler.wave_loop_s"] == 0  # the crawler is idle here


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_sweep",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
