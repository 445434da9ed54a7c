"""Partitioned Bloom seen-prefilter: no-false-negatives invariant +
prefilter equivalence with the exact anti-join (SURVEY.md §5 test plan #6)."""

from __future__ import annotations

from pyspark.sql import functions as F

from webcrawler_spark.sources.bloom import PartitionedBloom


def _urls(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).select(
        F.concat(F.lit(f"http://site{tag}.example.org/page/"), F.col("id")).alias("url")
    )


def test_no_false_negatives(spark):
    seen = _urls(spark, 0, 2000)
    bloom = PartitionedBloom(n_buckets=8, bits_per_bucket=1 << 14, k=5)
    bloom.add_df(seen)
    probe = bloom.might_contain_udf(spark)
    from webcrawler_spark.sources.bloom import _salted

    tagged = seen.withColumn("m", probe(_salted("url", 0xB10), _salted("url", 0xF17)))
    assert tagged.filter(~F.col("m")).count() == 0  # every seen url hits


def test_prefilter_equals_exact_antijoin(spark):
    seen = _urls(spark, 0, 1500)
    cand = _urls(spark, 1000, 3000)  # overlap [1000,1500)
    bloom = PartitionedBloom(n_buckets=8, bits_per_bucket=1 << 14, k=5)
    bloom.add_df(seen)
    got = sorted(r["url"] for r in bloom.prefilter(cand, seen).collect())
    want = sorted(r["url"] for r in cand.join(seen, "url", "left_anti").collect())
    assert got == want
    assert len(got) == 1500


def test_incremental_add_and_fpp(spark):
    bloom = PartitionedBloom(n_buckets=4, bits_per_bucket=1 << 14, k=5)
    bloom.add_df(_urls(spark, 0, 500))
    bits1 = bloom.total_bits_set
    bloom.add_df(_urls(spark, 500, 1000))  # incremental OR
    assert bloom.total_bits_set > bits1
    assert 0.0 < bloom.fpp_estimate() < 0.5
    # both batches fully covered
    probe = bloom.might_contain_udf(spark)
    from webcrawler_spark.sources.bloom import _salted

    t = _urls(spark, 0, 1000).withColumn(
        "m", probe(_salted("url", 0xB10), _salted("url", 0xF17))
    )
    assert t.filter(~F.col("m")).count() == 0


def test_crawl_with_bloom_matches_without(spark, tmp_path):
    """The bloom prefilter is semantics-preserving: identical dispatch
    order, accepted set and seen set vs the exact-only path."""
    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.plans.crawler import SparkCrawler
    from webcrawler_spark.sources.synth import SiteSpec, gen_pages

    spec = SiteSpec(n_pages=40, n_hosts=3, seed=7, hot_host_frac=0.34, private_frac=0.0)
    pages = gen_pages(spec)
    pages_df = spark.createDataFrame(
        [(p["url"], p["html"]) for p in pages], "url string, html binary"
    )
    base = dict(
        seeds=(pages[0]["url"], pages[1]["url"]),
        limit=10,
        targets=3,
        targeting=0.0,
        allhosts=True,
        budget=4,
    )
    res = {}
    for name, extra in [
        ("exact", {}),
        ("bloom", {"seen_filter": "bloom", "bloom_buckets": 8,
                   "bloom_bits_per_bucket": 1 << 14}),
        ("cuckoo", {"seen_filter": "cuckoo", "bloom_buckets": 8}),
    ]:
        cfg = CrawlConfig(**base, **extra)
        crawler = SparkCrawler(
            spark, cfg, pages_df, str(tmp_path / name), checkpoint_every=1000
        )
        r = crawler.run()
        seen = sorted(x["url"] for x in crawler.tables["seen"].collect())
        res[name] = (r.dispatched, r.accepted, seen)
    assert res["exact"] == res["bloom"] == res["cuckoo"]
