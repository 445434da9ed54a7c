"""Exact-substring dedup (Lee et al. hashed-window equivalent) and
perplexity bucketing. Spark<->DuckDB parity is pinned by the driver
oracle (scripts/check_oracle_strict.py); these tests pin the semantics the SQL
can't see: the max_df capped path and ground-truth window counting."""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: N812

from webcrawler_spark.queries import (
    _docs_parallel,
    exact_substring_pairs,
    q_perplexity_buckets,
)

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shared_run_window_count(spark):
    # one shared run of 10 tokens with k=8 -> 10 - 8 + 1 = 3 windows
    run = " ".join(f"w{i}" for i in range(10))
    docs = _docs(
        spark,
        [
            (1, f"alpha beta {run} gamma"),
            (2, f"{run} delta epsilon zeta eta theta iota kappa"),
            (3, "unrelated text with no overlap at all whatsoever here"),
        ],
    )
    got = {(r.a_id, r.b_id): r.n_shared for r in exact_substring_pairs(docs, k=8).collect()}
    assert got == {(1, 2): 3}


def test_capped_equals_exact_when_nothing_hot(spark):
    docs = _docs_parallel(spark, SF)
    exact = exact_substring_pairs(docs, k=8).collect()
    capped = exact_substring_pairs(docs, k=8, max_df=10_000).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, capped))
    assert exact  # the synth corpus contains real shared runs


def test_capped_counts_full_overlap_exactly(spark):
    # 'hot' is a window shared by 3 docs; with max_df=2 it can't generate
    # candidates, but pairs found via a rare window still count hot
    # windows in n_shared (verification over FULL window sets).
    hot = " ".join(f"h{i}" for i in range(8))
    rare = " ".join(f"r{i}" for i in range(8))
    docs = _docs(
        spark,
        [
            (1, f"{hot} x1 {rare}"),
            (2, f"{hot} x2 {rare}"),
            (3, f"{hot} x3 only only only only only only only"),
        ],
    )
    got = {(r.a_id, r.b_id): r.n_shared for r in exact_substring_pairs(docs, k=8, max_df=2).collect()}
    # (1,2) share the hot window AND the rare window -> n_shared == 2;
    # (1,3)/(2,3) share only the hot window -> no rare candidate -> absent
    assert got == {(1, 2): 2}


def test_perplexity_buckets_cover_and_order(spark):
    rows = q_perplexity_buckets(spark, SF).collect()
    assert {r.bucket for r in rows} == {"head", "middle", "tail"}
    head = max(r.mean_nll for r in rows if r.bucket == "head")
    mid = [r.mean_nll for r in rows if r.bucket == "middle"]
    tail = min(r.mean_nll for r in rows if r.bucket == "tail")
    assert head <= min(mid) and max(mid) <= tail
    # rough tertiles: no bucket is degenerate
    n = len(rows)
    for b in ("head", "middle", "tail"):
        assert sum(r.bucket == b for r in rows) > n // 6
