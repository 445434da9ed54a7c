"""Salted politeness window (skew mitigation): identical dispatch to the
unsalted exact window on a deliberately hot-host frontier."""

from __future__ import annotations

from webcrawler_spark.config import CrawlConfig
from webcrawler_spark.plans.crawler import SparkCrawler
from webcrawler_spark.sources.synth import SiteSpec, gen_pages

SPEC = SiteSpec(n_pages=80, n_hosts=4, seed=19, hot_host_frac=0.6, private_frac=0.0)


def test_salted_dispatch_equals_exact(spark, tmp_path):
    pages = gen_pages(SPEC)
    df = spark.createDataFrame(
        [(p["url"], p["html"]) for p in pages], "url string, html binary"
    ).cache()
    base = dict(
        seeds=(pages[0]["url"], pages[1]["url"]),
        limit=14,
        targets=3,
        targeting=0.0,
        allhosts=True,
        budget=6,
        per_host_budget=2,
        respect_robots=False,
    )
    results = {}
    for name, salt in (("exact", 0), ("salted", 8)):
        cfg = CrawlConfig(**base, host_salt_partitions=salt)
        c = SparkCrawler(spark, cfg, df, str(tmp_path / name), checkpoint_every=1000)
        r = c.run()
        results[name] = (r.dispatched, r.accepted)
    assert results["exact"] == results["salted"]


def test_frontier_driven_crawl_invariants(spark, tmp_path):
    """A crawl whose frontier drives every wave after the first must hit
    the limit, never dispatch a URL twice, and keep the seen discipline."""
    pages = gen_pages(SPEC)
    df = spark.createDataFrame(
        [(p["url"], p["html"]) for p in pages], "url string, html binary"
    )
    cfg = CrawlConfig(
        seeds=(pages[0]["url"], pages[1]["url"]),
        limit=14,
        targets=3,
        targeting=-1.0,  # transition immediately: the frontier must drive
        allhosts=True,
        budget=4,
        respect_robots=False,
    )
    c = SparkCrawler(spark, cfg, df, str(tmp_path / "frontier"), checkpoint_every=4)
    r = c.run()
    assert r.processed >= cfg.limit
    # duplicates may exist ONLY via the reference's initial-seed re-link
    # quirk (a seed is never in `seen`, so it can be re-enqueued once —
    # Gather.scala:126 quirk (a))
    from collections import Counter

    for url, n in Counter(r.dispatched).items():
        assert n == 1 or (url in cfg.seeds and n == 2), (url, n)
    seen = {x["url"] for x in c.tables["seen"].collect()}
    non_seed = [u for u in r.dispatched if u not in cfg.seeds]
    assert all(u in seen for u in non_seed)  # only emitted links get fetched
