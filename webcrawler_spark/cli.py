"""CLI crawl driver (S10 — reference WebCrawler.scala:13-44).

Local smoke:
    python -m webcrawler_spark.cli --pages /path/pages.parquet \
        --seeds http://site0.example.org/page/0 --limit 100 --out /tmp/crawl

Cluster:
    zip -r engine.zip webcrawler_spark
    spark-submit --py-files engine.zip -m webcrawler_spark.cli ... \
        (or ship this file as the main script)

Exposes the reference CFG knobs observable from call sites (SURVEY.md
§3.1) plus the new-engine scale knobs (budget, per-host budget, bloom).
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="webcrawler-spark", description=__doc__)
    p.add_argument("--pages", required=True, help="parquet path of the pages table")
    p.add_argument("--robots", default=None, help="parquet path of the robots table")
    p.add_argument("--seeds", nargs="+", required=True)
    p.add_argument("--out", required=True, help="workdir for snapshots + exports")
    p.add_argument("--resume", action="store_true", help="resume from latest snapshot")
    # reference semantics knobs
    p.add_argument("--limit", type=int, default=100)
    p.add_argument("--targets", type=int, default=9)
    p.add_argument("--targeting", type=float, default=0.01)
    p.add_argument("--prioriting", type=float, default=0.7)
    p.add_argument("--accuracy", type=float, default=0.0001)
    p.add_argument("--allhosts", action="store_true")
    p.add_argument("--breadth", action="store_true", help="breadth-first (F2)")
    p.add_argument("--with-incomplete", action="store_true")
    p.add_argument("--cluster-policy", choices=["target", "cluster"], default="target")
    p.add_argument("--shuffle-seed", type=int, default=42)
    # scale knobs
    p.add_argument("--budget", type=int, default=1, help="pages per wave (1 = oracle mode)")
    p.add_argument("--per-host-budget", type=int, default=0)
    p.add_argument("--seen-filter", choices=["exact", "bloom", "cuckoo"], default="exact",
                   help="URL-seen membership strategy (cuckoo supports expiry)")
    p.add_argument("--checkpoint-every", type=int, default=8)
    p.add_argument("--dump-every", type=int, default=500,
                   help="in-loop GML/statistics snapshot every K processed pages "
                        "(reference dumps every 500; 0 = off)")
    p.add_argument("--sample-every", type=int, default=0,
                   help="S9 sampler matrix dump every N priority updates (0 = off)")
    p.add_argument("--sample-max-links", type=int, default=10_000,
                   help="cap each sampler dump at the top-K frontier links by priority "
                        "(0 = unbounded full matrix)")
    p.add_argument("--fold-mode", choices=["exact", "bounded"], default="exact",
                   help="wave fold: exact (reference-faithful driver fold) or "
                        "bounded (distributed running average, the 10^10 path)")
    p.add_argument("--export", action="store_true", help="write GML/statistics/vectors at end")
    p.add_argument("--master", default=None, help="override master (default: from spark-submit)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p


def _tune_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="webcrawler-spark tune|sample",
        description="Offline vocabulary tuning over a crawl's S7 vectors/ "
        "export (reference TuneVocabulary.main / sample.main, "
        "TuneVocabulary.scala:92-112,165-199).",
    )
    p.add_argument("cmd", choices=["tune", "sample"])
    p.add_argument(
        "--path", required=True,
        help="crawl export dir containing vectors/ (export_snapshot output)",
    )
    p.add_argument("--epochs", type=int, default=10,
                   help="perceptron epochs (reference main uses 100)")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--epoch-sample", type=int, default=100_000)
    p.add_argument("--max-words", type=int, default=40_000,
                   help="sample.main word-index cap (:182)")
    p.add_argument("--master", default=None)
    return p


def tune_main(argv: list[str]) -> int:
    """TuneVocabulary.main: read vectors/, learn, write
    vocabulary_tuned.dat; sample.main: write index.dat + sample.dat."""
    import os

    args = _tune_parser().parse_args(argv)
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("webcrawler-spark-tune")
    if args.master:
        b = b.master(args.master)
    spark = b.getOrCreate()

    from webcrawler_spark.plans.tune import (
        build_pairs,
        octave_sample_export,
        read_vectors_export,
        tune_vocabulary,
    )

    vectors, edges = read_vectors_export(
        spark, os.path.join(args.path, "vectors")
    )
    if args.cmd == "tune":
        net, errs = tune_vocabulary(
            vectors, edges, epochs=args.epochs, seed=args.seed,
            epoch_sample=args.epoch_sample,
        )
        out = os.path.join(args.path, "vocabulary_tuned.dat")
        with open(out, "w") as f:
            for w in sorted(net):
                f.write(f"{w:<40} : {net[w]:.6f}\n")
        print(json.dumps({"cmd": "tune", "words": len(net), "errs": errs,
                          "out": out}))
    else:
        pairs = build_pairs(vectors, edges, seed=args.seed)
        files = octave_sample_export(
            pairs, max_words=args.max_words, seed=args.seed
        )
        for name, body in files.items():
            with open(os.path.join(args.path, name), "w") as f:
                f.write(body)
        print(json.dumps({"cmd": "sample",
                          "files": sorted(files), "path": args.path}))
    return 0


def _query_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="webcrawler-spark query",
        description="Run a registry operator query (webcrawler_spark."
        "queries.REGISTRY) against a testdata-shaped parquet dir.",
    )
    p.add_argument("cmd", choices=["query"])
    p.add_argument("name", nargs="?", default=None,
                   help="registry entry name (omit with --list)")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                   help="dir containing the parquet tables")
    p.add_argument("--out", default=None,
                   help="write result parquet here instead of printing")
    p.add_argument("--limit", type=int, default=20,
                   help="rows to print when not writing parquet")
    p.add_argument("--list", action="store_true",
                   help="list registry entries (o = DuckDB-oracled)")
    p.add_argument("--master", default=None)
    return p


def query_main(argv: list[str]) -> int:
    """Registry runner: every operator a reference user would call is one
    CLI invocation (spark-submit friendly)."""
    args = _query_parser().parse_args(argv)
    from webcrawler_spark.queries import REGISTRY

    if args.list or args.name is None:
        for name, (_, sql) in REGISTRY.items():
            print(f"{'o' if sql else '-'} {name}")
        return 0
    if args.name not in REGISTRY:
        print(f"unknown query {args.name!r}; use --list", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(f"webcrawler-spark-query-{args.name}")
    if args.master:
        b = b.master(args.master)
    spark = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    df = REGISTRY[args.name][0](spark, args.sf_dir)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"query": args.name, "out": args.out,
                          "rows": spark.read.parquet(args.out).count()}))
    else:
        df.show(args.limit, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:]) if argv is None else list(argv)
    if argv and argv[0] in ("tune", "sample"):
        return tune_main(argv)
    if argv and argv[0] == "query":
        return query_main(argv)
    args = build_parser().parse_args(argv)

    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("webcrawler-spark")
    if args.master:
        b = b.master(args.master)
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if args.shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.plans.crawler import SparkCrawler

    cfg = CrawlConfig(
        seeds=tuple(args.seeds),
        limit=args.limit,
        targets=args.targets,
        targeting=args.targeting,
        prioriting=args.prioriting,
        accuracy=args.accuracy,
        allhosts=args.allhosts,
        use_breadthsearch=args.breadth,
        with_incomplete=args.with_incomplete,
        cluster_policy=args.cluster_policy,
        shuffle_seed=args.shuffle_seed,
        budget=args.budget,
        per_host_budget=args.per_host_budget,
        seen_filter=args.seen_filter,
        dump_every=args.dump_every,
        sample_every=args.sample_every,
        sample_max_links=args.sample_max_links,
        fold_mode=args.fold_mode,
    )
    pages = spark.read.parquet(args.pages)
    robots = spark.read.parquet(args.robots) if args.robots else None

    maker = SparkCrawler.resume if args.resume else SparkCrawler
    crawler = maker(
        spark, cfg, pages, args.out, robots=robots,
        checkpoint_every=args.checkpoint_every,
    )
    res = crawler.run()
    if args.export:
        crawler.export_snapshot(f"{args.out}/export")
    print(
        json.dumps(
            {
                "processed": res.processed,
                "dispatched": len(res.dispatched),
                "accepted": len(res.accepted),
                "waves": res.waves,
                "aborted": res.aborted,
                "frontier_size": crawler.tables["frontier"].count(),
                "seen_size": crawler.tables["seen"].count(),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
