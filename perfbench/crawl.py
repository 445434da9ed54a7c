"""crawl_waves workload: a focused crawl over a seeded synthetic web that
stops after its second wave, commits, resumes from the catalog and
finishes. Its dispatch order and accepted set must equal those of the
same crawl run uninterrupted, pinned in pins.json for each of the
``WEBS`` webs a run's seed selects (``--pin`` recomputes them)."""

from __future__ import annotations

import contextlib
import os
import time

from common import (SETUP_REPS, Spans, StageLog, cpu_clock, job_counts, md5_lines, median,
                    union_length)

#: (pages, heavy paragraphs, budget, per-host budget, limit, stop wave).
#: FULL reaches its limit in three waves, the fewest that put a dispatch
#: and a checkpoint fence inside the wave loop.
FULL = (600, 10, 192, 64, 160, 2)
SMOKE = (300, 0, 32, 16, 96, 2)

#: a full run's seed selects one of this many synthetic webs, all pinned,
#: so the resume check never needs a second crawl within the run
WEBS = 64

#: per-layer phase -> crawler spans (timer names and wrapped methods)
PHASES = {
    "crawler.dispatch_s": ("dispatch",),
    "udfs.parse_s": ("parse",),
    "crawler.seen_s": ("m.admission_chain",),
    "crawler.fold_s": ("m.fold",),
    "crawler.vocab_s": ("m.vocab_chain",),
    "crawler.ids_s": ("ids", "src_ids"),
    "crawler.merge_s": ("m.merge_gather_state", "merge_build"),
    "crawler.calculate_s": ("calculate",),
    "crawler.fence_wait_s": ("ckpt_fence",),
    "crawler.checkpoint_s": ("checkpoint",),
}


def web_seed(seed: int, smoke: bool) -> int:
    """The SiteSpec seed of a run: smoke runs use their seed as given."""
    return seed if smoke else seed % WEBS


def site_spec(seed: int, smoke: bool):
    from webcrawler_spark.sources.synth import SiteSpec

    n, heavy, *_ = SMOKE if smoke else FULL
    return SiteSpec(n_pages=n, n_hosts=16, seed=seed, hot_host_frac=0.25,
                    heavy_paras=heavy)


def crawl_config(spec, smoke: bool):
    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.sources.synth import gen_page

    _, _, budget, per_host, limit, _ = SMOKE if smoke else FULL
    return CrawlConfig(
        seeds=tuple(gen_page(spec, i)["url"] for i in range(4)),
        limit=limit, targets=9,
        # enter the estimating phase on the first targeted page: the
        # workload measures the wave loop, not topical selectivity
        targeting=-1.0, allhosts=True,
        budget=budget, per_host_budget=per_host, host_salt_partitions=16,
        factor_top_m=256, dump_every=0, fold_mode="bounded",
        seen_filter="bloom",
    )


class Pass:
    """Wave-loop bookkeeping for one crawl pass: loop windows, wave walls,
    finalize and resume walls, and (traced) spans and job counts."""

    def __init__(self, spark, trace: Spans | None):
        self.spark = spark
        self.trace = trace
        self.stage_log = StageLog(spark) if trace is not None else None
        self.loops: list[tuple[float, float]] = []
        self.wave_starts: list[float] = []
        self.waves: list[float] = []
        self.commits: list[float] = []
        self.resume_s = None
        self.jobs: list[tuple[int, int, int]] = []
        self.overhead_s = 0.0
        self._job_mark = None

    def instrument(self, crawler):
        orig = crawler._run_wave

        def run_wave(*a, **k):
            self.wave_starts.append(time.time())
            if self.trace is not None:
                self._count_jobs()
            return orig(*a, **k)

        crawler._run_wave = run_wave
        if self.trace is None:
            return crawler
        spans = self.trace
        timings = crawler.timings

        @contextlib.contextmanager
        def timer(name):
            t0 = time.time()
            with spans.span(name):
                yield
            timings[name] += time.time() - t0

        crawler._timer = timer
        for attr, label in (
            ("_admission_chain", "m.admission_chain"),
            ("_vocab_chain", "m.vocab_chain"),
            ("_fold_bounded", "m.fold"),
            ("_fold_exact", "m.fold"),
            ("_merge_gather_state", "m.merge_gather_state"),
        ):
            spans.wrap(crawler, attr, label)
        return crawler

    def _count_jobs(self):
        t0 = time.time()
        if self._job_mark is None:
            ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
            self._job_mark = max(ids, default=-1)
        else:
            jobs, stages, tasks, self._job_mark = job_counts(self.spark, self._job_mark)
            self.jobs.append((jobs, stages, tasks))
        self.stage_log.snapshot()
        self.overhead_s += time.time() - t0

    def loop(self, crawler, max_waves=100_000):
        n0 = len(self.wave_starts)
        t0 = time.time()
        res = crawler.run(max_waves=max_waves, finalize=False)
        t1 = time.time()
        self.loops.append((t0, t1))
        starts = self.wave_starts[n0:] + [t1]
        self.waves += [b - a for a, b in zip(starts, starts[1:])]
        if self.trace is not None:
            self._count_jobs()
            self._job_mark = None
        return res

    def finalize(self, crawler):
        t0 = time.time()
        crawler.finalize()
        self.commits.append(time.time() - t0)

    @property
    def loop_s(self) -> float:
        return sum(b - a for a, b in self.loops)


def crawl_pass(spark, cfg, pages, workdir, trace, stop_wave=None):
    from webcrawler_spark.plans.crawler import SparkCrawler

    p = Pass(spark, trace)
    p.t0 = time.time()
    crawler = p.instrument(SparkCrawler(spark, cfg, pages, workdir, checkpoint_every=1))
    if stop_wave is None:
        res = p.loop(crawler)
    else:
        p.loop(crawler, max_waves=stop_wave)
        p.finalize(crawler)
        t0 = time.time()
        crawler = SparkCrawler.resume(spark, cfg, pages, workdir, checkpoint_every=1)
        p.resume_s = time.time() - t0
        p.instrument(crawler)
        res = p.loop(crawler)
    p.finalize(crawler)
    p.crawler, p.result = crawler, res
    p.fetched = res.processed
    p.scheduled = crawler.next_id - 1
    p.wall_s = time.time() - p.t0
    return p


def digests(p) -> dict:
    return {"dispatch_md5": md5_lines(p.result.dispatched),
            "accepted_md5": md5_lines(p.result.accepted)}


@contextlib.contextmanager
def class_spans(trace: Spans | None):
    """Trace the catalog and bloom layers at class level, so the loads and
    the bloom rebuild inside ``SparkCrawler.resume`` are covered too."""
    if trace is None:
        yield
        return
    from webcrawler_spark.sources.bloom import PartitionedBloom
    from webcrawler_spark.sources.catalog import SnapshotCatalog

    saved = []
    for cls, attr, label in (
        (SnapshotCatalog, "commit", "catalog.commit"),
        (SnapshotCatalog, "load_table", "catalog.load"),
        (PartitionedBloom, "add_df", "bloom.add"),
    ):
        fn = getattr(cls, attr)
        saved.append((cls, attr, fn))

        def spanned(*a, _fn=fn, _label=label, **k):
            with trace.span(_label):
                return _fn(*a, **k)

        setattr(cls, attr, spanned)
    try:
        yield
    finally:
        for cls, attr, fn in saved:
            setattr(cls, attr, fn)


@contextlib.contextmanager
def parse_timer(spark, enabled: bool):
    """Accumulate Python-worker seconds spent inside the parse UDF."""
    if not enabled:
        yield None
        return
    import webcrawler_spark.plans.crawler as crawler_mod

    acc = spark.sparkContext.accumulator(0.0)
    inner = crawler_mod.parse_pages

    def timed_parse(it):
        import time as _t

        gen = inner(it)
        while True:
            t0 = _t.time()
            try:
                batch = next(gen)
            except StopIteration:
                acc.add(_t.time() - t0)
                return
            acc.add(_t.time() - t0)
            yield batch

    crawler_mod.parse_pages = timed_parse
    try:
        yield acc
    finally:
        crawler_mod.parse_pages = inner


def dir_bytes(root: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for d, _, files in os.walk(root):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(d, f))
            n_files += 1
    return n_bytes, n_files


def pin(sess, args, work: str) -> dict:
    """Digests of uninterrupted crawls for seeds [seed, seed + pin_count):
    the reference values pins.json holds for the resumed crawl."""
    from webcrawler_spark.sources.synth import gen_pages, write_parquet

    spark = sess.start()
    pins = {}
    for seed in range(args.seed, args.seed + args.pin_count):
        spec = site_spec(seed, args.smoke)
        site = os.path.join(work, f"site{seed}")
        write_parquet(gen_pages(spec), site)
        pages = spark.read.parquet(os.path.join(site, "pages.parquet"))
        p = crawl_pass(spark, crawl_config(spec, args.smoke), pages,
                       os.path.join(work, f"pin{seed}"), None)
        pins[str(seed)] = digests(p)
    return pins


def run(sess, args, work: str, out: dict, trace: Spans | None) -> None:
    from webcrawler_spark.plans.crawler import SparkCrawler
    from webcrawler_spark.sources.synth import gen_pages, write_parquet

    spec = site_spec(web_seed(args.seed, args.smoke), args.smoke)
    cfg = crawl_config(spec, args.smoke)
    stop_wave = (SMOKE if args.smoke else FULL)[5]
    t0 = time.time()
    write_parquet(gen_pages(spec), os.path.join(work, "site"))
    out["details"]["input_gen_s"] = time.time() - t0
    pages_path = os.path.join(work, "site", "pages.parquet")

    # set-up: product session + pages table + crawler construction
    setup = []
    for rep in range(SETUP_REPS):
        t0 = time.time()
        spark = sess.start()
        pages = spark.read.parquet(pages_path)
        SparkCrawler(spark, cfg, pages, os.path.join(work, f"setup{rep}"))
        setup.append(time.time() - t0)
        if rep < SETUP_REPS - 1:
            sess.stop()
    out["setup"] = setup

    clock0 = cpu_clock()
    with class_spans(trace), parse_timer(spark, trace is not None) as acc:
        b = crawl_pass(spark, cfg, pages, os.path.join(work, "b"), trace, stop_wave)
    out["details"]["cpu_s"], out["details"]["steal_s"] = (
        y - x for x, y in zip(clock0, cpu_clock()))

    # correctness (untimed)
    fails = out["failures"]
    checks = 0

    def check(ok: bool, msg: str):
        nonlocal checks
        checks += 1
        if not ok:
            fails.append(msg)

    dig = digests(b)
    latest = b.crawler.catalog.latest()["wave"]
    durable = [r["url"] for r in b.crawler.catalog.load_table(latest, "dispatch_log")
               .orderBy("ord").select("url").collect()]
    check(durable == b.result.dispatched, "committed dispatch_log differs from the dispatch order")
    check(set(b.result.accepted) <= set(b.result.dispatched), "accepted page never dispatched")
    check(b.fetched == cfg.limit, f"processed {b.fetched} pages, limit {cfg.limit}")
    ref = out["pins"]
    if not ref:
        # no pin (smoke sizes): run the same crawl uninterrupted here
        ref = digests(crawl_pass(spark, cfg, pages, os.path.join(work, "ref"), None))
        out["details"]["reference"] = "uninterrupted crawl in this run"
    check(dig == ref, f"resumed digests {dig} != uninterrupted {ref}")
    out["digests"] = dig
    out["attempted"] += len(b.waves) + checks

    urls = b.fetched + b.scheduled
    out["metrics"] = {"items_per_s": urls / b.loop_s, "pass_s": b.wall_s}
    out["details"].update({
        "web_seed": spec.seed, "pages": spec.n_pages, "budget": cfg.budget, "limit": cfg.limit,
        "fetched": b.fetched, "scheduled": b.scheduled, "loop_s": b.loop_s,
        "waves_s": [round(w, 3) for w in b.waves],
        "finalize_s": [round(c, 3) for c in b.commits], "resume_s": b.resume_s,
    })
    layer = out["layers"]
    layer["crawler.wave_s_p50"] = median(b.waves)
    layer["crawler.finalize_s"] = median(b.commits)
    layer["crawler.resume_s"] = b.resume_s
    if trace is None:
        return

    loops = b.loops
    for metric, names in PHASES.items():
        spans = [iv for t0, t1 in loops for iv in trace.intervals(names, t0, t1)]
        if not spans:  # a renamed timer or method must not read as an idle phase
            fails.append(f"{metric}: no span named {names} in the wave loop")
        layer[metric] = union_length(spans)
    covered = union_length(
        [iv for t0, t1 in loops
         for iv in trace.intervals({n for ns in PHASES.values() for n in ns}, t0, t1)])
    n_waves = len(b.waves)
    layer["crawler.wave_loop_s"] = b.loop_s
    layer["crawler.covered_s"] = covered
    layer["crawler.unattributed_s"] = b.loop_s - covered
    layer["crawler.waves"] = n_waves
    layer["crawler.jobs_per_wave"] = sum(j[0] for j in b.jobs) / n_waves
    layer["crawler.stages_per_wave"] = sum(j[1] for j in b.jobs) / n_waves
    layer["crawler.tasks_per_wave"] = sum(j[2] for j in b.jobs) / n_waves
    busy = b.stage_log.totals(loops)
    layer["crawler.executor_busy_frac"] = busy["run_s"] / (b.loop_s * sess.cpus)
    layer["crawler.executor_cpu_s"] = busy["cpu_s"]
    layer["udfs.parse_ms_per_page"] = layer["udfs.parse_s"] * 1000.0 / b.fetched
    layer["udfs.python_s"] = acc.value
    layer["bloom.add_s"] = trace.covered("bloom.add")
    layer["bloom.fpp_est"] = b.crawler.bloom.fpp_estimate()
    n_bytes, n_files = dir_bytes(os.path.join(work, "b"))
    layer["catalog.bytes_written"] = n_bytes
    layer["catalog.files_written"] = n_files
    layer["catalog.bytes_per_page"] = n_bytes / b.fetched
    layer["catalog.commit_s"] = trace.covered("catalog.commit")
    layer["catalog.load_s"] = trace.covered("catalog.load")
    layer["trace.counter_s"] = b.overhead_s
    layer["trace.overhead_frac"] = b.overhead_s / b.wall_s
    layer["trace.pass_s"] = b.wall_s
