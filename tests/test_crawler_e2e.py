"""The round-trip correctness gate: the distributed Spark engine with
budget=1 must reproduce the sequential oracle exactly — dispatch order,
accepted set/order, URL-seen set, final frontier priorities (the north
rule's crawl-order + URL-seen match under identical seeds and budget)."""

import os

import pytest

from webcrawler_spark.config import CrawlConfig
from webcrawler_spark.plans.crawler import SparkCrawler
from webcrawler_spark.plans.oracle import OracleCrawler
from webcrawler_spark.sources.synth import SiteSpec, gen_pages, pages_as_site

SPEC = SiteSpec(n_pages=40, n_hosts=2, n_topics=2, seed=42, private_frac=0.0)


@pytest.fixture(scope="module")
def site():
    pages = gen_pages(SPEC)
    seeds = [p["url"] for p in pages if p["_topic"] == 0][:2]
    return pages, seeds


@pytest.fixture(scope="module")
def pages_df(spark, site):
    pages, _ = site
    return spark.createDataFrame(
        [(p["url"], p["html"]) for p in pages], "url string, html binary"
    ).cache()


def crawl_cfg(seeds, limit=10):
    return CrawlConfig(
        seeds=tuple(seeds),
        limit=limit,
        targets=3,
        targeting=0.001,
        allhosts=True,
        budget=1,
        respect_robots=False,
    )


def latest_table(spark, root, name):
    from webcrawler_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, root)
    return cat.load_table(cat.latest()["wave"], name)


def test_engine_matches_oracle_budget1(spark, site, pages_df, tmp_path):
    pages, seeds = site
    cfg = crawl_cfg(seeds, limit=10)
    root = str(tmp_path / "crawl")

    oracle = OracleCrawler(cfg, fetch=pages_as_site(pages).get).run()
    engine = SparkCrawler(spark, cfg, pages_df, root, checkpoint_every=50).run()

    assert engine.dispatched == oracle.dispatched
    assert engine.accepted == oracle.accepted

    seen_engine = {r["url"] for r in latest_table(spark, root, "seen").collect()}
    assert seen_engine == oracle.seen

    frontier_engine = {
        r["url"]: r["priority"]
        for r in latest_table(spark, root, "frontier").collect()
    }
    assert set(frontier_engine) == set(oracle.frontier_final)
    for url, p in oracle.frontier_final.items():
        assert frontier_engine[url] == pytest.approx(p, abs=1e-9)

    corpus = {
        r["url"]: r["text"] for r in latest_table(spark, root, "corpus").collect()
    }
    for url, text in oracle.corpus.items():
        assert corpus[url] == text  # byte-identical extracted text per url

    # first-seen vocabulary ids match the oracle's RevMap exactly
    vocab_engine = {
        r["word"]: r["word_id"]
        for r in latest_table(spark, root, "vocab").collect()
    }
    assert vocab_engine == oracle.vocab


def test_engine_matches_oracle_cluster_policy(spark, site, pages_df, tmp_path):
    """A4 through the distributed engine: the sigma-criterion cluster
    policy reproduces the oracle's dispatch + accepted stream at budget=1."""
    pages, seeds = site
    cfg = CrawlConfig(
        seeds=tuple(seeds), limit=8, targets=3, targeting=0.001,
        allhosts=True, budget=1, respect_robots=False,
        cluster_policy="cluster",
    )
    root = str(tmp_path / "cluster")
    oracle = OracleCrawler(cfg, fetch=pages_as_site(pages).get).run()
    engine = SparkCrawler(spark, cfg, pages_df, root, checkpoint_every=50).run()
    assert engine.dispatched == oracle.dispatched
    assert engine.accepted == oracle.accepted


def test_state_writes_raise_while_materialization_in_flight(
    spark, site, pages_df, tmp_path
):
    """The fence swaps in every table of the in-flight background
    snapshot, so any write to one in that window would be lost: it raises
    instead. The dispatch eliminations, which the fence replays, stay
    allowed, and the stopped crawl then runs on to the oracle's result."""
    pages, seeds = site
    cfg = crawl_cfg(seeds, limit=10)
    root = str(tmp_path / "guard")
    crawler = SparkCrawler(spark, cfg, pages_df, root, checkpoint_every=50)
    crawler.run(max_waves=2, finalize=False)
    assert crawler._ckpt_fut is not None
    for name in ("vocab", "seen"):
        with pytest.raises(RuntimeError, match=name):
            crawler._set(name, crawler._t(name))
    crawler._set("frontier", crawler._t("frontier"), elim_ok=True)
    engine = crawler.run()
    oracle = OracleCrawler(cfg, fetch=pages_as_site(pages).get).run()
    assert engine.dispatched == oracle.dispatched
    assert engine.accepted == oracle.accepted
