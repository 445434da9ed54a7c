"""spark-submit entry for the --py-files launch smoke.

The north rule requires the job to be launched via
``spark-submit --py-files engine.zip`` (reference: the Scala engine ships
as an assembly jar, WebCrawler.scala:13-44). This main is copied into a
temp dir and run from there so the ONLY way ``webcrawler_spark`` can
resolve is from the zip shipped with --py-files — the printed module
path proves it.

Usage (see scripts/submit_smoke.sh):
    spark-submit --master local[4] --conf spark.sql.shuffle.partitions=8 \
        --py-files engine.zip submit_main.py
"""

import json
import sys

import webcrawler_spark
from webcrawler_spark.session import make_session


def main() -> int:
    # master and shuffle width come from the spark-submit command line
    spark = make_session("webcrawler-spark-submit-smoke")
    spark.sparkContext.setLogLevel("WARN")

    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.plans.crawler import SparkCrawler
    from webcrawler_spark.sources.synth import (
        SiteSpec,
        gen_pages_df,
        page_meta,
        page_url,
    )

    spec = SiteSpec(n_pages=120, n_hosts=3, n_topics=2, seed=7, private_frac=0.0)
    pages = gen_pages_df(spark, spec).select("url", "html")

    def url_of(i: int) -> str:
        m = page_meta(spec, i)
        return page_url(m["host"], i, m["private"])

    cfg = CrawlConfig(
        seeds=(url_of(0), url_of(1)),
        limit=24,
        targets=3,
        targeting=0.001,
        allhosts=True,
        budget=8,
        respect_robots=False,
    )
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/submit_smoke_out"
    crawler = SparkCrawler(spark, cfg, pages, out)
    res = crawler.run()
    print(
        json.dumps(
            {
                "engine_module": webcrawler_spark.__file__,
                "processed": res.processed,
                "waves": res.waves,
                "dispatched": len(res.dispatched),
                "aborted": res.aborted,
            }
        )
    )
    spark.stop()
    return 0 if res.processed > 0 else 1


if __name__ == "__main__":
    sys.exit(main())
