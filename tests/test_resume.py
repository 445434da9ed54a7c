"""Kill-and-resume invariant (north rule; SURVEY.md §7 step 7): a crawl
interrupted at any committed wave and resumed from its snapshot produces
exactly the same dispatch order, accepted set and seen set as an
uninterrupted run — including when waves committed after the resume point
are lost (a crash between commits replays the tail identically)."""

from __future__ import annotations

import json
import os
import re
import shutil

import pytest

from webcrawler_spark.config import CrawlConfig
from webcrawler_spark.plans.crawler import SparkCrawler
from webcrawler_spark.sources.synth import SiteSpec, gen_pages

SPEC = SiteSpec(n_pages=50, n_hosts=3, seed=13, private_frac=0.0)


@pytest.fixture(scope="module")
def site_df(spark):
    pages = gen_pages(SPEC)
    df = spark.createDataFrame(
        [(p["url"], p["html"]) for p in pages], "url string, html binary"
    ).cache()
    return pages, df


def cfg_for(pages):
    return CrawlConfig(
        seeds=(pages[0]["url"], pages[1]["url"]),
        limit=12,
        targets=3,
        targeting=0.0,
        allhosts=True,
        budget=4,
        respect_robots=False,
    )


def final_state(spark, crawler, res):
    seen = sorted(r["url"] for r in crawler.tables["seen"].collect())
    return (res.dispatched, res.accepted, res.processed, seen)


def corpus_waves(crawler):
    return [r["wave"] for r in crawler.tables["corpus"].orderBy("ord").collect()]


def committed(root):
    return sorted(d for d in os.listdir(root) if d.startswith("wave="))


#: the corpus wave column of the uninterrupted cfg_for crawl
WAVES = [0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3]


def test_kill_and_resume_replays_identically(spark, site_df, tmp_path):
    pages, df = site_df
    cfg = cfg_for(pages)

    # reference: uninterrupted run
    c_full = SparkCrawler(spark, cfg, df, str(tmp_path / "full"), checkpoint_every=100)
    want = final_state(spark, c_full, c_full.run())

    # interrupted run: commit every wave, stop after 3 waves
    root = str(tmp_path / "interrupted")
    c1 = SparkCrawler(spark, cfg, df, root, checkpoint_every=1)
    c1.run(max_waves=3)
    committed = sorted(
        d for d in os.listdir(root) if d.startswith("wave=")
    )
    assert len(committed) >= 3

    # simulate a crash that lost everything after wave 1's commit
    for d in committed[2:]:
        shutil.rmtree(os.path.join(root, d))

    # resume from the surviving snapshot and run to completion
    c2 = SparkCrawler.resume(spark, cfg, df, root, checkpoint_every=1)
    assert c2.wave == 2  # resumed after wave 1
    got = final_state(spark, c2, c2.run())

    assert got == want


def test_resume_noop_when_finished(spark, site_df, tmp_path):
    """Resuming a completed crawl dispatches nothing further."""
    pages, df = site_df
    cfg = cfg_for(pages)
    root = str(tmp_path / "done")
    c1 = SparkCrawler(spark, cfg, df, root, checkpoint_every=1)
    r1 = c1.run()
    c2 = SparkCrawler.resume(spark, cfg, df, root, checkpoint_every=1)
    r2 = c2.run()
    assert r2.processed == r1.processed
    assert r2.dispatched == r1.dispatched  # restored, nothing appended


def test_resume_after_max_waves_stop_equals_uninterrupted(spark, site_df, tmp_path):
    """A crawl stopped at max_waves and finalized, then resumed from that
    final commit with nothing deleted, ends in the uninterrupted state.
    Each wave dispatches its own batch, so no commit is ever taken with a
    batch eliminated from the frontier but not yet processed."""
    pages, df = site_df
    cfg = cfg_for(pages)

    full = SparkCrawler(spark, cfg, df, str(tmp_path / "full"), checkpoint_every=1)
    want = final_state(spark, full, full.run())
    assert corpus_waves(full) == WAVES

    root = str(tmp_path / "stopped")
    c1 = SparkCrawler(spark, cfg, df, root, checkpoint_every=1)
    r1 = c1.run(max_waves=3)
    assert r1.waves == 3 and not c1.stopped  # stopped by max_waves, not the limit

    c2 = SparkCrawler.resume(spark, cfg, df, root, checkpoint_every=1)
    got = final_state(spark, c2, c2.run())
    assert got == want
    # the resumed crawl numbers its waves as the uninterrupted one and
    # commits under the same wave ids, none of them twice
    assert corpus_waves(c2) == WAVES
    assert committed(root) == committed(str(tmp_path / "full"))
    for d in sorted(os.listdir(root)):
        if d.startswith("wave="):
            with open(os.path.join(root, d, "manifest.json")) as f:
                assert "inflight" not in json.load(f)["state"], d


def test_finalize_commits_under_the_last_processed_wave(spark, site_df, tmp_path):
    """With commits every 8 waves, a max_waves stop leaves waves 1-2
    uncommitted: finalize commits them under wave 2 (the last one it
    processed) and records wave 3 as the next to run; the resumed crawl
    starts there and commits under fresh ids."""
    pages, df = site_df
    cfg = cfg_for(pages)
    root = str(tmp_path / "sparse")
    c1 = SparkCrawler(spark, cfg, df, root, checkpoint_every=8)
    c1.run(max_waves=3)
    assert committed(root) == ["wave=000000", "wave=000002"]
    c1.finalize()  # nothing processed since: no new commit
    assert committed(root) == ["wave=000000", "wave=000002"]

    c2 = SparkCrawler.resume(spark, cfg, df, root, checkpoint_every=8)
    assert c2.wave == 3
    c2.run()
    assert corpus_waves(c2) == WAVES
    assert committed(root) == ["wave=000000", "wave=000002", "wave=000003"]


def test_resume_refuses_manifest_with_in_flight_batch(spark, site_df, tmp_path):
    """A manifest carrying a non-empty in-flight batch holds links already
    eliminated from its frontier; resume must refuse it, naming the
    manifest, instead of silently never crawling them. An empty one is
    accepted."""
    pages, df = site_df
    cfg = cfg_for(pages)
    root = str(tmp_path / "inflight")
    SparkCrawler(spark, cfg, df, root, checkpoint_every=1).run(max_waves=2)
    head = sorted(d for d in os.listdir(root) if d.startswith("wave="))[-1]
    mpath = os.path.join(root, head, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)

    def resume_with_inflight(batch):
        m["state"]["inflight"] = batch
        with open(mpath, "w") as f:
            json.dump(m, f)
        return SparkCrawler.resume(spark, cfg, df, root, checkpoint_every=1)

    resume_with_inflight([])
    with pytest.raises(ValueError, match=re.escape(mpath)):
        resume_with_inflight([[0, pages[5]["url"]]])


def test_compact_and_prune_preserve_state(spark, site_df, tmp_path):
    """catalog.compact rewrites the head wave as full commits (resetting
    delta chains); prune can then drop history; resume still reconstructs
    the identical state."""
    from webcrawler_spark.sources.catalog import SnapshotCatalog

    pages, df = site_df
    cfg = cfg_for(pages)
    root = str(tmp_path / "compact")
    c1 = SparkCrawler(spark, cfg, df, root, checkpoint_every=1)
    r1 = c1.run()
    cat = SnapshotCatalog(spark, root)
    head = cat.latest()["wave"]
    before = sorted(x["url"] for x in cat.load_table(head, "seen").collect())

    cat.compact()
    cat.prune(keep_last=1)
    assert len(cat._manifests()) == 1  # history gone
    after = sorted(x["url"] for x in cat.load_table(head, "seen").collect())
    assert after == before

    c2 = SparkCrawler.resume(spark, cfg, df, root, checkpoint_every=1)
    r2 = c2.run()
    assert r2.dispatched == r1.dispatched
    assert sorted(x["url"] for x in c2.tables["seen"].collect()) == before
