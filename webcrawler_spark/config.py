"""Crawl configuration.

Mirrors the knobs of the reference CFG that are observable from call
sites (see SURVEY.md §3.1; reference: WebCrawler.scala:13-44,
EvaluatePriorityMatrix.scala, NetworkEstimator.scala:126,
SeedQueue.scala:45, Gather.scala:69,91).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class CrawlConfig:
    # -- semantics knobs (reference parity) ------------------------------
    seeds: tuple[str, ...] = ()
    #: pages to process before shutdown (EvaluatePriorityMatrix.scala:296)
    limit: int = 100
    #: size of the target cluster, k (SemanticEstimator.scala:17; TargetVector default 9)
    targets: int = 9
    #: phase transition threshold factor*central (EvaluatePriorityMatrix.scala:250)
    targeting: float = 0.01
    #: drift threshold for full priority recalculation (NetworkEstimator.scala:126)
    prioriting: float = 0.7
    #: sparse-vector entry cutoff (Gather.scala:69 implicit accuracy)
    accuracy: float = 0.0001
    #: cross-host links allowed into any host (Gather.scala:91)
    allhosts: bool = False
    #: FIFO instead of priority order (NetworkEstimator.scala:43-48)
    use_breadthsearch: bool = False
    #: include unfetched nodes in GML export (GMLStorage.scala:41)
    with_incomplete: bool = False
    #: RNG seed for the initial-wave shuffle (reference uses an unseeded
    #: scala.util.Random.shuffle at EvaluatePriorityMatrix.scala:200; we pin
    #: a seed so runs are reproducible)
    shuffle_seed: int = 42

    # -- wave/scale knobs (new engine surface) ---------------------------
    #: pages dispatched per wave; 1 == the reference's strictly-sequential
    #: servers=1 oracle mode (SeedQueue.scala:45); >1 == wave batching
    budget: int = 1
    #: max pages dispatched per host per wave (politeness window)
    per_host_budget: int = 0  # 0 = unlimited
    #: nominal wall-clock per wave used to translate robots crawl_delay_ms
    #: into a per-host wave cap: cap(host) = wave_period_ms / crawl_delay_ms
    wave_period_ms: int = 10_000
    #: wave fold strategy. "exact": collect every page's full term vector
    #: and replay the reference's sequential estimator bit-exactly (the
    #: budget=1 oracle-parity mode; collects O(wave · |page vocab|)).
    #: "bounded": the 10^10 scale path — ONE distributed summary pass
    #: computes per-page dot scalars, partition-local top-M candidate
    #: vectors and the wave's normalized-vector sum; the driver folds the
    #: exact cluster update over O(targets) candidates only, link scores
    #: use the wave-start factor (the documented servers=B freeze), and
    #: the running average is applied as one distributed sum. Driver
    #: transfer per wave: O(budget scalars + targets·margin vectors +
    #: wave vocab), never O(wave · page size).
    fold_mode: str = "exact"
    #: candidate margin multiplier for fold_mode="bounded" (candidates =
    #: first unfilled-cluster slots by rank + top margin*(targets+1) by
    #: wave-start priority per partition)
    fold_margin: int = 4
    #: salt partitions for the per-host politeness window (0 = off): a hot
    #: host's frontier rows would otherwise all land in ONE window task;
    #: with salting, a per-(host, salt) pre-top-k bounds any task to
    #: cap*salts rows before the exact per-host window
    host_salt_partitions: int = 0
    #: honor the robots table if provided
    respect_robots: bool = True
    #: cap on |factor| entries broadcast to executors (0 = unlimited);
    #: bounds broadcast size at huge vocab scale
    factor_top_m: int = 0
    #: seen-filter kind: "exact" (anti-join only), "bloom" (partitioned
    #: bloom prefilter in front of the anti-join — the 10^10-scale path;
    #: exact semantics either way, no false negatives), or "cuckoo"
    #: (deletable fingerprints — recrawl-window expiry)
    seen_filter: str = "exact"
    bloom_buckets: int = 64
    bloom_bits_per_bucket: int = 1 << 20
    bloom_k: int = 5
    #: export graph snapshot every K processed pages (EvaluatePriorityMatrix.scala:291)
    dump_every: int = 500
    #: S9 in-loop sampler cadence: dump a link-context sample matrix every
    #: N link-priority updates (SampleHierarchy2Priority.scala:58-60 dumps
    #: every 100). 0 = off (the reference only samples when a sampling
    #: sink is configured).
    sample_every: int = 0
    #: cap on the sampler matrix: keep only the top-K frontier links by
    #: priority in each in-loop dump (the render is a driver-side text
    #: write, so the collect must stay bounded at 10^8-link frontiers).
    #: 0 = unbounded (reference-exact full matrix, offline use).
    sample_max_links: int = 10_000

    # -- target-cluster policy: "target" (TargetVector.scala) or
    #    "cluster" (TargetVectorCluster.scala sigma criterion)
    cluster_policy: str = "target"

    extra: dict = field(default_factory=dict, compare=False)
