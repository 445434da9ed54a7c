"""The Spark crawl engine: an iterative wave loop of declarative DataFrame
jobs over a simulated-web ``pages`` table.

Architecture (SURVEY.md §1.4, §7): the reference's per-page actor feedback
loop becomes a per-wave batch job. Tiny state (the semantic estimator:
target cluster + running average + topic factor — KB-sized) lives on the
driver and is broadcast down; big state is distributed DataFrames
checkpointed per wave through SnapshotCatalog:

    frontier   (seed_id, url, host, priority, parents)      — pending links
    seen       (url)                                        — emitted-link set (D1)
    url_ids    (url, seed_id)                               — first-seen dense ids
    vocab      (word, word_id)                              — first-seen dictionary (P5)
    page_terms (seed_id, word_id, tf)                       — fetched page vectors
    net_edges  (src, dst)                                   — estimator link graph
    corpus     (ord, seed_id, url, text, wave)              — extracted intel (S3)
    accepted   (ord, url)                                   — promoted pages (S4)
    gml_log    (ord, url, links, terms)                     — export feed (S5/S7)
    linkctx    (ord, url, link, feature, weight)            — sampler feed (P6/S9)
    (hosts allowlist (D2) is tiny driver state, persisted in the manifest)

Wave dataflow (estimating steady state):
  1. dispatch: politeness-windowed top-k over the frontier
     (ORDER BY priority DESC, seed_id ASC — F1; per-host row_number
     window — F5), or the wave-1 FIFO while it lasts (SeedQueue exhaust
     semantics, SeedQueue.scala:69-90);
  2. fetch: inner join of the broadcast batch against ``pages`` — one
     hash-filtered scan, no shuffle of the big side;
  3. parse: one mapInPandas pass producing text/links/terms/linkctx (P1-P6);
  4. admission: host-allowlist join (D2), robots prefix filter (new
     surface), first-emitter dedup + seen anti-join (D1);
  5. ids: first-seen dense ids in (dispatch rank, link position) order
     (dense_first_seen_ids: bucketed sort + JVM numbering) — reproduces
     the reference RevMap order (EvaluatePriorityMatrix.scala:103-129);
  6. driver fold: the batch's term vectors stream into the semantic
     estimator in dispatch order (accept => promotion — A3/A5); new-link
     priorities = dot(emitting page vector, factor) (A6; parents are
     singletons because the seen-filter admits each link exactly once);
  7. merge: frontier/seen/edges/corpus updates; drift-triggered or
     transition full re-score (A7) via page_terms x broadcast-factor join
     + propagate along net_edges + groupBy(dst).max — run BEFORE this
     wave's merge for estimating drift (check precedes update,
     EvaluatePriorityMatrix.scala:329-330) and AFTER it for the targeting
     transition (update precedes calculate, :243-253);
  8. snapshot commit with metrics + lineage (SnapshotCatalog).

With budget=1 (one page per wave) this reproduces the sequential oracle
(plans/oracle.py) exactly — dispatch order, accepted set, URL-seen set —
the round-trip correctness gate. With budget=B it is the documented wave
semantics: factor frozen at wave boundaries, equivalent to the reference
with servers=B.
"""

from __future__ import annotations

import math
import os
import random
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webcrawler_spark.config import CrawlConfig
from webcrawler_spark.functions.udfs import PARSED_SCHEMA, parse_pages
from webcrawler_spark.kernels.urls import url_host
from webcrawler_spark.kernels.vectors import SparseVector
from webcrawler_spark.plans.estimators import AverageVector, SemanticEstimator
from webcrawler_spark.plans.frames import local_frame
from webcrawler_spark.sources.catalog import SnapshotCatalog

_FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("seed_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("priority", T.DoubleType()),
        T.StructField("parents", T.ArrayType(T.LongType())),
    ]
)

_STATE_TABLES = (
    "frontier", "seen", "url_ids", "vocab", "page_terms", "net_edges",
    "corpus", "accepted", "gml_log", "linkctx", "dispatch_log", "avg_sum",
)

#: tables read by the next wave's joins — eagerly materialized every wave
#: (lineage truncation keeps wave cost O(state scan), not O(history))
_HOT_TABLES = ("frontier", "seen", "url_ids", "vocab", "page_terms", "net_edges")


class _FrozenAvg:
    """Driver-side view of the distributed running average, frozen at wave
    start (bounded fold, VERDICT r2 item 3). Holds only a *restricted*
    slice of Â₀ — its weights on a bounded support S (central ∪ pfactor ∪
    target-cluster vocab ∪ candidate vocab) — plus two scalars from the
    distributed table: ‖Σv‖² and ‖Â₀‖² (post-accuracy-prune). Every dot
    the in-wave loop takes against the average has its partner's support
    inside S, so the restricted dots are exact; norms use the scalars for
    the unrestricted mass. Driver transfer: O(|S|), never O(wave vocab)."""

    __slots__ = ("a", "sq_pruned", "accuracy")

    def __init__(self, a_restricted: dict, sq_pruned: float, accuracy: float):
        self.a = a_restricted  # word -> Â₀ weight (|w| >= accuracy)
        self.sq_pruned = sq_pruned  # Σ Â₀² over ALL pruned entries
        self.accuracy = accuracy

    def factor_view(self, t: SparseVector) -> "_FactorView":
        return _FactorView(self, t)


class _FactorView:
    """fct = t − Â₀ evaluated lazily on the frozen restricted average.
    Requires supp(t) ⊆ S (the target cluster only grows by candidate
    vectors, whose vocab is folded into S before the wave loop)."""

    __slots__ = ("fa", "t", "_norm")

    def __init__(self, fa: _FrozenAvg, t: SparseVector):
        self.fa = fa
        self.t = t
        self._norm = None

    def _entry(self, w) -> float:
        # SparseVector.__sub__ prunes |t_w − â_w| < accuracy
        e = self.t.d.get(w, 0.0) - self.fa.a.get(w, 0.0)
        return e if abs(e) >= self.fa.accuracy else 0.0

    def dot(self, v: SparseVector) -> float:
        return sum(x * self._entry(w) for w, x in v.d.items())

    @property
    def norm(self) -> float:
        if self._norm is None:
            support = set(self.t.d) | set(self.fa.a)
            s = sum(self._entry(w) ** 2 for w in support)
            # entries outside S: t_w = 0, so fct_w = −â_w (same accuracy
            # cut as sq_pruned) — their mass is the scalar minus S's share
            s += self.fa.sq_pruned - sum(x * x for x in self.fa.a.values())
            self._norm = math.sqrt(max(s, 0.0))
        return self._norm

    def normal_dot(self, v: SparseVector) -> float:
        """prune(fct/‖fct‖)·v — the drift check's exact semantics."""
        n = self.norm
        if n == 0.0:
            return 0.0
        acc = self.fa.accuracy
        tot = 0.0
        for w, x in v.d.items():
            e = self._entry(w) / n
            if abs(e) >= acc:
                tot += x * e
        return tot
#: append-only export feeds — materialized only every K waves / at commit
_COLD_TABLES = ("corpus", "accepted", "gml_log", "linkctx", "dispatch_log")


class _DriverBloom:
    """Fixed-size driver-side Bloom set over processed-page URLs.

    Replaces the O(all-processed) ``_page_ids`` dict (VERDICT round 1,
    item 3): re-fetch overwrite detection only needs MEMBERSHIP of a
    wave's already-collected urls, and a false positive merely pends a
    delete key for rows that do not exist — a no-op on load — so a
    fixed-bits filter is exactly enough. 2^23 bits ≈ 1 MiB ≈ 1% fpp at
    10^6 processed pages; sized from cfg.limit at construction.
    """

    def __init__(self, expected: int = 1 << 20, k: int = 4):
        import numpy as np

        bits = 1 << max(13, (expected * 10).bit_length())  # ~10 bits/key
        self.bits, self.k = bits, k
        self._bm = np.zeros(bits // 8, dtype=np.uint8)

    def _positions(self, s: str):
        import hashlib

        d = hashlib.blake2b(s.encode(), digest_size=16).digest()
        h1 = int.from_bytes(d[:8], "little")
        h2 = int.from_bytes(d[8:], "little") | 1
        return [(h1 + i * h2) % self.bits for i in range(self.k)]

    def add(self, s: str):
        for p in self._positions(s):
            self._bm[p >> 3] |= 1 << (p & 7)

    def __contains__(self, s: str) -> bool:
        return all(self._bm[p >> 3] & (1 << (p & 7)) for p in self._positions(s))


def dense_first_seen_ids(
    ent: DataFrame,
    keep_col: str,
    id_name: str,
    base: int,
    nb: int,
    n_parts: int,
) -> tuple[DataFrame, int]:
    """Distributed dense sequential numbering in exact ``(dr, pos)`` order
    (first-seen RevMap semantics, EvaluatePriorityMatrix.scala:103-129)
    WITHOUT the single-partition global-sort Window that serializes at
    10^7-link waves, and without a Python pass.

    Rows are bucketed by contiguous ``dr`` ranges (the dispatch rank is in
    [0, nb), so bucket bounds need no sampling pass), hash-partitioned by
    bucket and sorted by ``(bucket, dr, pos)``; the same task then tags
    each row with ``monotonically_increasing_id()`` and the result is
    localCheckpointed. A bucket's rows are one contiguous run of one
    partition, so their tags are consecutive in ``(dr, pos)`` order. One
    O(buckets) collect gets each bucket's row count and minimum tag, and
    the id is a narrow JVM projection over the checkpoint:
    ``tag + (base + bucket_offset - bucket_min_tag)``, the bracketed term
    read from a literal array indexed by bucket.

    ``ent`` must have columns (keep_col, dr, pos). Returns the lazy ids
    frame (keep_col, id_name) over the checkpoint plus the row total.
    Jobs: 1 checkpoint + 1 tiny collect; every stage runs wide, and the
    ids frame re-reads the checkpoint with no shuffle and no Python.
    """
    n_buckets = max(1, min(n_parts, nb))
    bkt = F.least(
        F.lit(n_buckets - 1),
        (F.col("dr").cast("long") * n_buckets / F.lit(nb)).cast("int"),
    )
    part = (
        ent.withColumn("_bkt", bkt)
        .repartition(n_buckets, "_bkt")
        .sortWithinPartitions("_bkt", "dr", "pos")
        .withColumn("_rix", F.monotonically_increasing_id())
        .localCheckpoint()
    )
    shift = [0] * n_buckets
    total = 0
    counts = (
        part.groupBy("_bkt")
        .agg(F.count("*").alias("c"), F.min("_rix").alias("m"))
        .collect()
    )
    for r in sorted(counts, key=lambda r: r["_bkt"]):
        shift[r["_bkt"]] = base + total - r["m"]
        total += r["c"]
    shift_arr = F.array(*[F.lit(x).cast("long") for x in shift])
    ids = part.select(keep_col, (F.col("_rix") + shift_arr[F.col("_bkt")]).alias(id_name))
    return ids, total


@dataclass
class CrawlResult:
    dispatched: list[str] = field(default_factory=list)
    accepted: list[str] = field(default_factory=list)
    processed: int = 0
    waves: int = 0
    aborted: bool = False


class SparkCrawler:
    def __init__(
        self,
        spark: SparkSession,
        cfg: CrawlConfig,
        pages: DataFrame,
        workdir: str,
        robots: DataFrame | None = None,
        checkpoint_every: int = 8,
    ):
        self.spark = spark
        self.cfg = cfg
        self.pages = pages
        self.catalog = SnapshotCatalog(spark, workdir)
        self.checkpoint_every = max(1, checkpoint_every)

        # driver state ------------------------------------------------------
        self.phase = "init"
        self.ns = 0
        self.wave = 0
        self.next_id = 1  # RevMap ids start at 1
        self.next_word_id = 1  # vocab ids start at 1 (Features.String2Word)
        self.next_ord = 0
        self.sense: SemanticEstimator | None = None
        self.pfactor = SparseVector({}, cfg.accuracy)
        self.central_acc = SparseVector({}, cfg.accuracy)
        self.fifo: list[str] = []
        self.rng = random.Random(cfg.shuffle_seed)
        self.stopped = False
        self.result = CrawlResult()

        # distributed state ---------------------------------------------------
        def empty(schema):
            return local_frame(spark, [], schema)

        self.tables: dict[str, DataFrame] = {
            "frontier": empty(_FRONTIER_SCHEMA),
            "seen": empty("url string"),
            "url_ids": empty("url string, seed_id long"),
            # first-seen word dictionary (Word = Int of the reference,
            # package.scala:11; ids grown in Gather arrival order)
            "vocab": empty("word string, word_id long"),
            "page_terms": empty("seed_id long, word_id long, tf double"),
            "net_edges": empty("src long, dst long"),
            "corpus": empty(
                "ord long, seed_id long, url string, text string, wave int"
            ),
            "accepted": empty("ord long, url string"),
            "dispatch_log": empty("ord long, url string"),
            "gml_log": empty(
                "ord long, url string, links array<string>, terms map<string,double>"
            ),
            "linkctx": empty(
                "ord long, url string, link string, feature string, weight double"
            ),
            # distributed running average Σ v.normal (bounded fold only;
            # the exact fold keeps the reference's driver-side
            # AverageVector). word -> running sum of normalized tf weights
            "avg_sum": empty("word string, val double"),
        }
        #: scalars of the distributed average, refreshed by the background
        #: hot-table pool after each wave's merge: ‖Σv‖² and ‖Â₀‖² (the
        #: accuracy-pruned normalized vector) — all the driver ever needs
        #: besides the bounded restricted slice
        self._avg_norm_sqr = 0.0
        self._avg_pruned_sqr = 0.0
        #: bounded mode rides avg_sum through the per-wave hot pool; exact
        #: mode leaves it empty and skips the materialization
        self._hot_tables = (
            _HOT_TABLES + ("avg_sum",) if cfg.fold_mode == "bounded" else _HOT_TABLES
        )
        #: per-table delta DataFrames + delete keys accumulated since the
        #: last durable commit — commits write O(wave), not O(state)
        self._pending_deltas: dict[str, list[DataFrame]] = defaultdict(list)
        self._pending_deletes: dict[str, dict[str, set]] = defaultdict(
            lambda: defaultdict(set)
        )
        #: membership filter over PROCESSED page urls — identifies re-fetch
        #: overwrites for delete-key tracking. Fixed-size (not O(history));
        #: false positives only pend no-op delete keys
        self._page_seen = _DriverBloom(expected=max(cfg.limit, 1 << 10))
        #: S9 sampler: link-priority updates since crawl start; a sample
        #: matrix is dumped each time it crosses a cfg.sample_every multiple
        self._sampler_nseed = 0
        self._sampler_dumps = 0
        #: C3 in-loop snapshot cadence (EvaluatePriorityMatrix.scala:291-293
        #: dumps the estimator to GML when ns % 500 == 0): the wave engine
        #: dumps at the first wave boundary after ns crosses each
        #: cfg.dump_every multiple (identical to the reference at budget=1)
        self._dump_marks = 0
        #: durable commits run on this single worker OFF the wave critical
        #: path; the next commit (or finalize) joins the previous first, so
        #: manifests still land strictly in wave order, atomically last
        from concurrent.futures import ThreadPoolExecutor as _TPE1

        self._commit_pool = _TPE1(max_workers=1)
        self._commit_fut = None
        #: id of the latest commit; a finalize with no wave since adds none
        self._committed_wave: int | None = None
        #: per-wave vocab chain runs here; its barrier is deferred to the
        #: first vocab-table read (wave_vocab slice / recalc) via
        #: _await_vocab — see _run_wave
        self._vocab_pool = _TPE1(max_workers=1)
        self._vocab_fut = None
        #: background materialization of ALL hot tables — overlapped with
        #: the next wave's dispatch+fetch+parse, swapped in at the fence in
        #: _run_wave. frontier/net_edges (which the next dispatch mutates
        #: via elimination anti-joins before the fence) have those
        #: eliminations re-applied at swap-in from _postckpt_elim — the
        #: round-4 change that takes the former eager ckpt_hot phase
        #: (~9.5 s/run at local[32]) off the wave critical path entirely
        self._ckpt_pool = _TPE1(max_workers=1)
        self._ckpt_fut = None
        #: broadcast id frames eliminated by dispatch since the last
        #: hot-table materialization was submitted; re-applied at the fence
        self._postckpt_elim: list[DataFrame] = []

        #: D2 allowlist — tiny driver state, grown with every fetched host
        self.hosts_set: set[str] = {
            x for x in (url_host(u) for u in cfg.seeds) if x
        }

        robots = robots if (robots is not None and cfg.respect_robots) else None
        self.robots_flat = (
            robots.select("host", F.explode("disallow_prefixes").alias("prefix")).cache()
            if robots is not None
            else None
        )
        # robots crawl_delay -> per-host wave cap:
        # cap = wave_period_ms / crawl_delay_ms (politeness F5, new surface)
        self.host_caps = None
        if robots is not None and "crawl_delay_ms" in robots.columns:
            self.host_caps = (
                robots.filter(F.col("crawl_delay_ms") > 0)
                .select(
                    "host",
                    F.greatest(
                        F.lit(1),
                        (F.lit(cfg.wave_period_ms) / F.col("crawl_delay_ms")).cast(
                            "long"
                        ),
                    ).alias("host_cap"),
                )
                .cache()
            )

        # optional membership prefilter for the seen check (D1 scale path):
        # bloom (OR-mergeable) or cuckoo (deletable fingerprints)
        self.bloom = None
        kind = cfg.seen_filter
        if kind == "bloom":
            from webcrawler_spark.sources.bloom import PartitionedBloom

            self.bloom = PartitionedBloom(
                cfg.bloom_buckets, cfg.bloom_bits_per_bucket, cfg.bloom_k
            )
        elif kind == "cuckoo":
            from webcrawler_spark.sources.cuckoo import PartitionedCuckoo

            self.bloom = PartitionedCuckoo(n_shards=cfg.bloom_buckets)

        #: per-phase wall-clock accumulators
        self.timings: dict[str, float] = defaultdict(float)
        #: bounded partition count for state snapshots — unions concatenate
        #: partitions, so without a coalesce the state tables would gain
        #: O(waves) partitions and every job would degrade to thousands of
        #: empty tasks (on a cluster this is a repartition-by-key instead)
        self._nparts = max(8, spark.sparkContext.defaultParallelism // 2)

    @contextmanager
    def _timer(self, name: str):
        t0 = time.time()
        yield
        self.timings[name] += time.time() - t0

    # -- small helpers ------------------------------------------------------
    def _pend(self, name: str, delta: DataFrame):
        self._pending_deltas[name].append(delta)

    def _pend_delete(self, name: str, key: str, values):
        vals = list(values)
        if not vals:
            return
        # Intra-window ordering: the manifest's delete keys are applied by
        # load_table to PRIOR commits only, before this window's delta is
        # unioned. So a delete must also remove matching rows from deltas
        # already pended in THIS window (e.g. a page re-fetched a few waves
        # after first being added, within one checkpoint_every window) —
        # otherwise both stale and fresh rows survive a resume. Rows pended
        # AFTER this delete (the re-fetch's fresh rows) are untouched.
        if self._pending_deltas.get(name):
            self._pending_deltas[name] = [
                df.filter(~F.col(key).isin(vals))
                for df in self._pending_deltas[name]
            ]
        self._pending_deletes[name][key].update(vals)

    def _t(self, name: str) -> DataFrame:
        return self.tables[name]

    def _set(self, name: str, df: DataFrame, *, elim_ok: bool = False):
        """Single write path for in-memory state tables, enforcing the
        background-materialization invariant (ADVICE r4): while a hot
        frontier/net_edges snapshot is in flight (``_ckpt_fut`` set),
        the ONLY legal mutations of those two tables are the dispatch
        elimination anti-joins, which are recorded in
        ``_postckpt_elim`` and re-applied at the fence. Any other write
        in that window would be silently overwritten at swap-in — so it
        raises here instead of corrupting state later."""
        if (
            not elim_ok
            and name in ("frontier", "net_edges")
            and getattr(self, "_ckpt_fut", None) is not None
        ):
            raise RuntimeError(
                f"write to hot table {name!r} while a background "
                "materialization is in flight would be lost at the fence; "
                "call _ckpt_fence() first, or record the write as a "
                "dispatch elimination (elim_ok=True)"
            )
        self.tables[name] = df

    def _ids_df(self, ids: list[int], col: str = "sid") -> DataFrame:
        import pandas as pd

        # pandas + Arrow upload: a 16k-tuple py4j createDataFrame is
        # ~seconds of serial driver wall per wave; the Arrow path ships
        # one batch
        return F.broadcast(
            local_frame(
                self.spark,
                pd.DataFrame({col: pd.Series(ids, dtype="int64")}),
                f"{col} long",
            )
        )

    # ------------------------------------------------------------------
    # dispatch (F1/F4/F5 + robots)
    # ------------------------------------------------------------------
    def _dispatch(self) -> list[tuple[int, str]]:
        with self._timer("dispatch"):
            return self._dispatch_inner()

    def _dispatch_inner(self) -> list[tuple[int, str]]:
        cfg = self.cfg
        if self.fifo:
            batch, self.fifo = self.fifo[: cfg.budget], self.fifo[cfg.budget :]
            return list(enumerate(batch))
        if self.phase != "estimating":
            return []
        cand = self._t("frontier")
        if cfg.per_host_budget > 0 or self.host_caps is not None:
            default_cap = cfg.per_host_budget if cfg.per_host_budget > 0 else None
            if cfg.host_salt_partitions > 1 and default_cap is not None:
                # skew mitigation (north star: salted host partitioning): a
                # hot host's rows all land in ONE window task. Pre-top-k per
                # (host, salt) bounds any task's input; keeping cap rows per
                # salt preserves the exact per-host top-cap set, so the
                # final window below is unchanged semantically.
                ws = Window.partitionBy("host", "salt").orderBy(
                    F.desc("priority"), F.asc("seed_id")
                )
                cand = (
                    cand.withColumn(
                        "salt",
                        F.pmod(F.xxhash64("url"), F.lit(cfg.host_salt_partitions)),
                    )
                    .withColumn("srk", F.row_number().over(ws))
                    .filter(F.col("srk") <= default_cap)
                    .drop("salt", "srk")
                )
            w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("seed_id"))
            cand = cand.withColumn("rk", F.row_number().over(w))
            if self.host_caps is not None:
                cand = cand.join(F.broadcast(self.host_caps), "host", "left")
                cap = F.coalesce(
                    F.least(F.col("host_cap"), F.lit(default_cap))
                    if default_cap is not None
                    else F.col("host_cap"),
                    F.lit(default_cap if default_cap is not None else 1 << 40),
                )
                cand = cand.filter(F.col("rk") <= cap).drop("host_cap")
            else:
                cand = cand.filter(F.col("rk") <= default_cap)
        order = (
            [F.asc("seed_id")]
            if cfg.use_breadthsearch
            else [F.desc("priority"), F.asc("seed_id")]
        )
        # TakeOrdered ships only the two columns the driver needs — not
        # priority/parents (the parents arrays dominate row weight).
        # Arrow transfer (toPandas), not .collect(): py4j deserialization
        # of an O(budget) row list is per-wave serial driver wall
        rows_pdf = (
            cand.orderBy(*order)
            .limit(cfg.budget)
            .select("seed_id", "url")
            .toPandas()
        )
        if rows_pdf.empty:
            return []
        ids = [int(x) for x in rows_pdf["seed_id"]]
        # ONE O(budget) local relation per dispatch, reused by both
        # eliminations here AND the fence re-application (was 4
        # createDataFrame serializations of the same 16k ids per wave)
        ids_df = self._ids_df(ids)
        # the in-flight background materialization (if any) was submitted
        # BEFORE this elimination — record it for re-application at the fence
        self._postckpt_elim.append(ids_df)
        self._pend_delete("net_edges", "dst", ids)
        # eliminate (NetworkEstimator.scala:131-141)
        self._set(
            "frontier",
            self._t("frontier").join(
                ids_df, F.col("seed_id") == F.col("sid"), "left_anti"
            ),
            elim_ok=True,  # recorded in _postckpt_elim, replayed at the fence
        )
        self._set(
            "net_edges",
            self._t("net_edges").join(
                ids_df, F.col("dst") == F.col("sid"), "left_anti"
            ),
            elim_ok=True,
        )
        return [(i, u) for i, u in enumerate(rows_pdf["url"])]

    # ------------------------------------------------------------------
    # one wave
    # ------------------------------------------------------------------
    def _fetch_parse(self, batch: list[tuple[int, str]]) -> DataFrame:
        """S1/P1-P6: fetch-join the broadcast batch against ``pages`` and
        run the single parse pass."""
        batch_df = F.broadcast(local_frame(self.spark, batch, "dr long, url string"))
        hits = self.pages.join(batch_df, "url")
        if "content_type" in self.pages.columns:
            # MIME admission (WebGet.scala:46): only `text/html` (before
            # any ';charset=' suffix) reaches the parser; anything else
            # behaves exactly like a failed fetch — dispatched and counted
            # as such, but no links/terms/corpus/seen effects
            hits = hits.filter(
                F.split(F.col("content_type"), ";").getItem(0) == "text/html"
            )
        hits = hits.select("dr", "url", "html")
        with self._timer("parse"):
            return (
                hits.mapInPandas(parse_pages, PARSED_SCHEMA)
                .filter(F.col("ok"))
                .localCheckpoint()
            )

    def _run_wave(self, batch: list[tuple[int, str]]):
        cfg, spark = self.cfg, self.spark
        self.result.dispatched.extend(u for _, u in batch)
        # dispatch order is durable TABLE state (ord = global dispatch
        # position), not manifest JSON — commits stay O(wave), VERDICT r1 #3
        self._pend(
            "dispatch_log",
            local_frame(
                spark,
                [(self.next_ord + i, u) for i, u in batch],
                "ord long, url string",
            ),
        )
        #: dispatch ranks this wave are in [0, _wave_nb) — the contiguous
        #: bucketing domain for distributed first-seen id assignment
        self._wave_nb = max(1, len(batch))
        parsed = self._fetch_parse(batch)
        # background hot-table materialization (previous wave) must be
        # swapped in before the chains below read those tables
        self._ckpt_fence()

        # admission/dedup chain, the vocab chain and the driver fold
        # collect are independent given `parsed` — run them as concurrent
        # Spark jobs. The vocab barrier is DEFERRED (round 4): nothing
        # reads the vocab table until the merge section's wave_vocab slice
        # (or a rare recalc), so the chain keeps running concurrently with
        # the fold tail + first-seen ids + src_ids instead of gating the
        # concurrent block.
        from concurrent.futures import ThreadPoolExecutor as _TPE

        use_bounded = cfg.fold_mode == "bounded" and self.sense is not None
        self._vocab_fut = self._vocab_pool.submit(self._vocab_chain, parsed)
        with _TPE(max_workers=1) as _ex:
            _fut = _ex.submit(self._admission_chain, parsed)
            if use_bounded:
                scores, stop_dr, recalc_pre, recalc_post, dr2url = (
                    self._fold_bounded(parsed)
                )
            else:
                scores, stop_dr, recalc_pre, recalc_post, dr2url = (
                    self._fold_exact(parsed)
                )
            admitted, first_emit, new_links = _fut.result()

        # Gather-side state applies to every parsed page, all phases
        self._merge_gather_state(parsed, admitted, new_links)

        if self.sense is None:
            self._await_vocab()  # early return below skips the merge barrier
            # init wave: build wave-1 FIFO (shuffled — :200) and the estimator;
            # robots compliance applies to the FIFO exactly as to the frontier
            wave1 = [
                r["dst"]
                for r in self._robots_filter(new_links)
                .orderBy("dr", "pos")
                .select("dst")
                .collect()
            ]
            self.rng.shuffle(wave1)
            self.fifo.extend(wave1)
            self.sense = SemanticEstimator.create(
                self.central_acc.normal, cfg.targets, cfg.cluster_policy
            )
            if cfg.fold_mode == "bounded":
                # seed the distributed running average with the central
                # vector (SemanticEstimator.create's AverageVector(central));
                # the seed vocabulary is bounded, so its scalars are driver-
                # computed — from here on only the background pool updates them
                central = self.central_acc.normal
                seed_df = local_frame(
                    spark, list(central.d.items()), "word string, val double"
                )
                self._pend("avg_sum", seed_df)
                self._set("avg_sum", seed_df)
                self._avg_norm_sqr = central.sqr
                n = math.sqrt(self._avg_norm_sqr)
                self._avg_pruned_sqr = (
                    sum(
                        x * x
                        for x in central.d.values()
                        if abs(x) >= cfg.accuracy * n
                    )
                    / self._avg_norm_sqr
                    if n > 0.0
                    else 0.0
                )
            self.phase = "targeting"
            return

        # EPM-side effects exclude pages at/after the stop
        parsed_epm = (
            parsed if stop_dr is None else parsed.filter(F.col("dr") < stop_dr)
        )
        new_links = (
            new_links if stop_dr is None else new_links.filter(F.col("dr") < stop_dr)
        )

        # estimating drift re-score uses state BEFORE this wave's merge
        if recalc_pre is not None:
            self._calculate(recalc_pre)

        # ---- first-seen ids (RevMap order) --------------------------------
        # same stream-big/broadcast-wave membership pattern as the seen filter
        known_urls = (
            self._t("url_ids")
            .join(F.broadcast(parsed_epm.select("url")), "url", "left_semi")
            .select("url")
        )
        page_ent = (
            parsed_epm.select("dr", "url")
            .join(F.broadcast(known_urls), "url", "left_anti")
            .select("dr", F.lit(-1).alias("pos"), "url")
        )
        link_ent = new_links.select("dr", "pos", F.col("dst").alias("url"))
        entities = (
            page_ent.unionByName(link_ent)
            .groupBy("url")
            .agg(F.min(F.struct("dr", "pos")).alias("fp"))
            .select("url", F.col("fp.dr").alias("dr"), F.col("fp.pos").alias("pos"))
        )
        with self._timer("ids"):
            new_ids, n_new = dense_first_seen_ids(
                entities, "url", "seed_id",
                base=self.next_id, nb=self._wave_nb, n_parts=self._nparts,
            )
            self.next_id += n_new
            self._pend("url_ids", new_ids)
            # lazy union: the end-of-wave hot-table pool materializes it
            # concurrently with the other state tables (one fewer serial
            # job on the wave critical path)
            self._set("url_ids", self._t("url_ids").unionByName(new_ids))

        # src_ids is wave-sized (one row per fetched page): materialize once
        # and broadcast into every downstream merge — the whole merge section
        # then runs map-side (no shuffle), so materializing the hot tables is
        # a linear scan of (previous snapshot + wave delta)
        with self._timer("src_ids"):
            # ONE job: collect the wave-sized (dr, src_id) map and rebuild
            # it as a local relation — every downstream broadcast join then
            # reads driver memory instead of re-running the url_ids join
            # (was: localCheckpoint + collect, two jobs per wave)
            # Arrow round trip (toPandas down, local_frame up): the
            # wave-sized map is O(budget) rows and the py4j row path was
            # per-wave serial driver wall
            src_pdf = (
                F.broadcast(parsed_epm.select("dr", "url"))
                .join(self._t("url_ids"), "url")
                .select("dr", F.col("seed_id").alias("src_id"))
                .toPandas()
            )
            src_rows = list(
                zip(
                    (int(x) for x in src_pdf["dr"]),
                    (int(x) for x in src_pdf["src_id"]),
                )
            )
            src_ids = local_frame(spark, src_pdf, "dr long, src_id long")
            # re-fetch overwrite tracking (NetworkEstimator.scala:102): a
            # page fetched before gets its old rows delete-keyed; the wave
            # delta re-adds the fresh ones under the same stable id
            wave_page_ids = {
                dr2url[dr]: sid for dr, sid in src_rows if dr in dr2url
            }
            refetch_ids = [
                sid for u, sid in wave_page_ids.items() if u in self._page_seen
            ]
            if refetch_ids:
                self._pend_delete("page_terms", "seed_id", refetch_ids)
                self._pend_delete("net_edges", "src", refetch_ids)
            for u in wave_page_ids:
                self._page_seen.add(u)

        # ---- re-fetch overwrite (NetworkEstimator.scala:102): replace ------
        self._set(
            "net_edges",
            self._t("net_edges").join(
                F.broadcast(src_ids.select("src_id")),
                F.col("src") == F.col("src_id"),
                "left_anti",
            ),
        )
        self._set(
            "page_terms",
            self._t("page_terms").join(
                F.broadcast(src_ids.select("src_id")),
                F.col("seed_id") == F.col("src_id"),
                "left_anti",
            ),
        )

        # ---- new frontier rows: priority = dot(src vector, update factor) --
        scores_df = F.broadcast(local_frame(spark, scores, "dr long, score double"))
        add = (
            new_links.join(scores_df, "dr")
            .join(F.broadcast(src_ids), "dr")
            .join(F.broadcast(new_ids.withColumnRenamed("url", "dst")), "dst")
        )
        add = self._robots_filter(add)
        # ALWAYS materialize the wave delta (round 4): with the frontier
        # checkpoint moved off the critical path, the lazy frontier now
        # feeds the next dispatch top-k AND the background materialization
        # AND the commit write — one wave-sized localCheckpoint here beats
        # recomputing the broadcast-join chain in each of those consumers
        with self._timer("merge_build"):
            add = add.localCheckpoint()
        self._set(
            "frontier",
            self._t("frontier").unionByName(
                add.select(
                    "seed_id",
                    F.col("dst").alias("url"),
                    F.col("dst_host").alias("host"),
                    F.col("score").alias("priority"),
                    F.array("src_id").alias("parents"),
                )
            ),
        )
        net_delta = add.select(
            F.col("src_id").alias("src"), F.col("seed_id").alias("dst")
        )
        self._pend("net_edges", net_delta)
        self._set("net_edges", self._t("net_edges").unionByName(net_delta))

        # S9 in-loop sampler (SampleHierarchy2Priority.scala:58-60): every
        # new frontier row is one link-priority update; dump the sample
        # matrix whenever the running count crosses a sample_every multiple
        if cfg.sample_every > 0:
            before = self._sampler_nseed
            self._sampler_nseed += add.count()  # wave delta, checkpointed
            if before // cfg.sample_every != self._sampler_nseed // cfg.sample_every:
                self._dump_sample()
        # dictionary-encode: only the wave's words of the (potentially
        # huge) vocab are broadcast — semi-join slice first. This is the
        # deferred vocab barrier: the chain overlapped everything since
        # the concurrent block.
        self._await_vocab()
        wave_terms = parsed_epm.select(
            "dr", F.explode("terms").alias("e")
        ).select("dr", F.col("e.word").alias("word"), F.col("e.tf").alias("tf"))
        wave_vocab = self._t("vocab").join(
            F.broadcast(wave_terms.select("word").distinct()), "word", "left_semi"
        )
        pt_delta = (
            wave_terms.join(F.broadcast(src_ids), "dr")
            .join(F.broadcast(wave_vocab), "word")
            .select(F.col("src_id").alias("seed_id"), "word_id", "tf")
        )
        self._pend("page_terms", pt_delta)
        self._set("page_terms", self._t("page_terms").unionByName(pt_delta))

        # targeting transition re-score runs AFTER the merge (:243-253)
        if recalc_post is not None:
            self._calculate(recalc_post)

    def _admission_chain(self, parsed):
        """Host allowlist (D2), within-wave first-emitter dedup and the
        URL-seen filter (D1) — one chain of wave-sized materializations."""
        cfg = self.cfg
        # host allowlist (D2)
        links = parsed.select(
            "dr",
            F.col("host").alias("src_host"),
            F.explode("links").alias("l"),
        ).select(
            "dr",
            "src_host",
            F.col("l.pos").alias("pos"),
            F.col("l.url").alias("dst"),
            F.col("l.host").alias("dst_host"),
        )
        if cfg.allhosts:
            admitted = links.drop("src_host")
        else:
            # D2 allowlist is tiny driver state (the reference holds it
            # in-heap too, Gather.scala:129-132); shipped as an isin
            # predicate — at extreme host cardinality this becomes a
            # broadcast join against a hosts table instead
            admitted = links.filter(
                F.col("dst_host").isin(sorted(self.hosts_set))
                | (F.col("dst_host") == F.col("src_host"))
            ).drop("src_host")
        with self._timer("admission"):
            admitted = admitted.localCheckpoint()

        # ---- D1: first-emitter-wins within the wave + seen anti-join -----
        with self._timer("first_emit"):
            first_emit = (
                admitted.groupBy("dst")
                .agg(
                    F.min(F.struct("dr", "pos")).alias("fp"),
                    F.first("dst_host").alias("dst_host"),
                )
                .select(
                    "dst", F.col("fp.dr").alias("dr"), F.col("fp.pos").alias("pos"),
                    "dst_host",
                )
                .localCheckpoint()  # wave-sized; reused by 2 downstream jobs
            )
        with self._timer("seen_antijoin"):
            if self.bloom is not None:
                # D1 scale path: bloom-reject definitely-new links map-side;
                # only the 'maybe seen' residue takes the exact anti-join
                new_links = self.bloom.prefilter(
                    first_emit, self._t("seen").withColumnRenamed("url", "dst"), "dst"
                ).localCheckpoint()
                self.bloom.add_df(new_links, "dst")
            else:
                # stream-the-big-side membership check: semi-join the
                # cumulative seen set against the broadcast wave (no shuffle
                # of `seen`), then anti-join the wave against the small hit set
                seen_hits = (
                    self._t("seen")
                    .withColumnRenamed("url", "dst")
                    .join(F.broadcast(first_emit.select("dst")), "dst", "left_semi")
                )
                new_links = first_emit.join(
                    F.broadcast(seen_hits), "dst", "left_anti"
                ).localCheckpoint()

        return admitted, first_emit, new_links

    # ------------------------------------------------------------------
    # wave fold — exact (reference-sequential) and bounded (scale) modes
    # ------------------------------------------------------------------
    def _fold_exact(self, parsed):
        """Collect every page's full term vector and replay the sequential
        estimator fold bit-exactly (budget=1 == the oracle). O(wave · page
        vocab) driver transfer — the parity mode, not the 10^10 path."""
        cfg = self.cfg
        with self._timer("fold_collect"):
            fold_rows = (
                parsed.select("dr", "url", "host", "terms").orderBy("dr").collect()
            )
        # D2 growth: every fetched page's host becomes allowed (Gather.scala:153)
        self.hosts_set.update(r["host"] for r in fold_rows if r["host"])
        vecs = {
            r["dr"]: SparseVector(
                [(e["word"], e["tf"]) for e in (r["terms"] or [])], cfg.accuracy
            )
            for r in fold_rows
        }
        upd_factors: dict[int, SparseVector] = {}
        stop_dr = None
        recalc_pre = None  # estimating drift: calculate BEFORE merge
        recalc_post = None  # targeting transition: calculate AFTER merge
        for r in fold_rows:
            dr, url = r["dr"], r["url"]
            vec = vecs[dr]
            self.ns += 1
            if self.phase == "init":
                self._accept(url)
                self.central_acc = self.central_acc + vec
                continue
            if self.phase == "estimating" and self.ns > cfg.limit:
                self.stopped = True
                stop_dr = dr
                break
            acc: list[str] = []
            if self.phase == "targeting":
                self.sense = self.sense.estimate(vec.normal, lambda: acc.append(url))
                upd_factors[dr] = self.sense.factor  # post-fold (:243-245)
                if self.sense.factor.dot(self.sense.central) > cfg.targeting:
                    recalc_post = self.sense.factor  # transition (:250-253)
                    self.phase = "estimating"
            else:
                old_factor = self.sense.factor
                sense1 = self.sense.estimate(vec.normal, lambda: acc.append(url))
                if sense1.factor.normal.dot(self.pfactor) < cfg.prioriting:
                    recalc_pre = sense1.factor.normal  # drift (:126-129)
                upd_factors[dr] = old_factor  # update with OLD factor (:330)
                self.sense = sense1
            for a in acc:
                self._accept(a)
        self.result.processed += len(
            [r for r in fold_rows if stop_dr is None or r["dr"] < stop_dr]
        )
        scores = [(dr, float(vecs[dr].dot(fct))) for dr, fct in upd_factors.items()]
        dr2url = {r["dr"]: r["url"] for r in fold_rows}
        return scores, stop_dr, recalc_pre, recalc_post, dr2url

    def _fold_summaries(self, parsed, dr_lt: int | None = None):
        """The bounded fold's ONE distributed pass (mapInPandas over the
        checkpointed parse output, with the page x average dots fused into
        the same plan). Emits one scalar row per page (dr, url, host,
        pri = vn-dot-T0, score0 = v-dot-T0 - v-dot-A0) plus full term
        arrays ONLY for the partition-local candidate set (lowest
        (targets+1) dispatch ranks UNION top margin*(targets+1) by pri).
        v-dot-A0 is a distributed word-join against the avg_sum table, so
        the running average is never shipped whole in either direction
        (VERDICT r2 item 3). Driver transfer is
        O(budget + candidates * pagevocab) — never O(wave vocab)."""
        cfg = self.cfg
        t0n = dict(self.sense.target.normal.items())
        acc_cut = cfg.accuracy
        n_cand = (cfg.targets + 1) * max(1, cfg.fold_margin)
        n_first = cfg.targets + 1

        # per-page v-dot-A0: explode -> prune the (corpus-vocab) average to
        # the wave's words (semi-join) -> word join -> per-page sum. A0's
        # accuracy prune (|val| >= acc * ||sum||) is applied before the
        # dot, exactly as SparseVector.normal does in the exact path. The
        # wave-sized dot frame is broadcast back into `parsed`, so the big
        # side keeps its partitioning (no shuffle before mapInPandas).
        n_avg = math.sqrt(self._avg_norm_sqr)
        base = parsed.select("dr", "url", "host", "terms")
        if dr_lt is not None:
            base = base.filter(F.col("dr") < dr_lt)
        if n_avg > 0.0:
            pt = (
                base.select("dr", F.explode("terms").alias("e"))
                .select(
                    "dr", F.col("e.word").alias("word"), F.col("e.tf").alias("tf")
                )
                .filter(F.abs("tf") >= acc_cut)
            )
            apr = (
                self._t("avg_sum")
                .join(F.broadcast(pt.select("word").distinct()), "word", "left_semi")
                .filter(F.abs(F.col("val")) >= F.lit(acc_cut * n_avg))
            )
            dots = (
                pt.join(apr, "word")
                .groupBy("dr")
                .agg(
                    (F.sum(F.col("tf") * F.col("val")) / F.lit(n_avg)).alias("dot_a")
                )
            )
            summ_in = base.join(F.broadcast(dots), "dr", "left").withColumn(
                "dot_a", F.coalesce("dot_a", F.lit(0.0))
            )
        else:
            summ_in = base.withColumn("dot_a", F.lit(0.0))

        def summarize(batches):
            import pandas as pd

            from webcrawler_spark.kernels.vectors import SparseVector as SV

            t0 = SV(t0n, acc_cut)
            pages = []  # (dr, url, host, pri, score0, raw terms)
            for pdf in batches:
                for dr, url, host, terms, dot_a in zip(
                    pdf["dr"], pdf["url"], pdf["host"], pdf["terms"], pdf["dot_a"]
                ):
                    # SV directly from the Arrow structs — the list-of-dict
                    # payload is built ONLY for retained candidates below
                    # (same values, same order => bit-identical dots)
                    v = SV(
                        (
                            ((str(e["word"]), float(e["tf"])) for e in terms)
                            if terms is not None
                            else ()
                        ),
                        acc_cut,
                    )
                    pri = v.normal.dot(t0)
                    score0 = v.dot(t0) - float(dot_a)
                    pages.append((int(dr), url, host, pri, score0, terms))
            # candidate retention: first n_first by dispatch rank (unfilled
            # cluster slots accept unconditionally) UNION top n_cand by pri
            # (sigma policy ranks by distance — monotone decreasing in pri,
            # so the same top-pri set covers the smallest distances)
            by_dr = sorted(pages, key=lambda p: p[0])[:n_first]
            by_pri = sorted(pages, key=lambda p: -p[3])[:n_cand]
            keep = {p[0] for p in by_dr} | {p[0] for p in by_pri}
            out = {
                "kind": [], "dr": [], "url": [], "host": [], "pri": [],
                "score0": [], "terms": [],
            }
            for dr, url, host, pri, score0, terms in pages:
                out["kind"].append(0)
                out["dr"].append(dr)
                out["url"].append(url)
                out["host"].append(host)
                out["pri"].append(pri)
                out["score0"].append(score0)
                if dr not in keep:
                    out["terms"].append(None)
                elif terms is None:
                    out["terms"].append([])
                else:
                    out["terms"].append(
                        [
                            {"word": str(e["word"]), "tf": float(e["tf"])}
                            for e in terms
                        ]
                    )
            if out["kind"]:  # empty partitions yield nothing (an empty
                # DataFrame infers float64 columns, which Arrow rejects
                # for the list<struct> terms field)
                yield pd.DataFrame(out)

        schema = (
            "kind int, dr long, url string, host string, pri double, "
            "score0 double, terms array<struct<word:string,tf:double>>"
        )
        # Arrow transfer, not .collect(): the O(budget) summary is the
        # per-wave driver boundary, and py4j row deserialization of 16k
        # rows is seconds of SERIAL wall per wave (the Amdahl term the
        # 2->8 executor scaling measurement exposed); toPandas moves the
        # same float64/struct values bit-identically in one Arrow batch
        pdf = summ_in.mapInPandas(summarize, schema).toPandas()
        recs = pdf.to_dict("records")
        for r in recs:
            t = r["terms"]
            # Arrow hands list<struct> back as numpy object arrays whose
            # truthiness is ambiguous; normalize to list/None for the fold
            r["terms"] = None if t is None else list(t)
            r["dr"] = int(r["dr"])
        return recs

    def _avg_restricted(self, support: set) -> _FrozenAvg:
        """Collect the running average's weights on a bounded support set
        (one broadcast semi-join) — the only slice of A0 the in-wave loop
        ever dots against. O(|support|) transfer."""
        acc = self.cfg.accuracy
        n = math.sqrt(self._avg_norm_sqr)
        if n == 0.0 or not support:
            return _FrozenAvg({}, 0.0, acc)
        sdf = F.broadcast(
            local_frame(self.spark, [(w,) for w in sorted(support)], "word string")
        )
        rows = (
            self._t("avg_sum")
            .join(sdf, "word", "left_semi")
            .filter(F.abs(F.col("val")) >= F.lit(acc * n))
            .collect()
        )
        return _FrozenAvg(
            {r["word"]: r["val"] / n for r in rows}, self._avg_pruned_sqr, acc
        )

    def _avg_update(self, parsed):
        """Running-average wave delta, fully distributed: per-page v.normal
        weights -> groupBy(word).sum -> merged into the avg_sum state table
        (pruned at accuracy, as the exact path's SparseVector adds are).
        Nothing crosses the driver boundary; the background hot-table pool
        materializes the merge and refreshes the two norm scalars."""
        acc = self.cfg.accuracy
        pt = (
            parsed.select("dr", F.explode("terms").alias("e"))
            .select("dr", F.col("e.word").alias("word"), F.col("e.tf").alias("tf"))
            .filter(F.abs("tf") >= acc)
        )
        norms = pt.groupBy("dr").agg(
            F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("pn")
        )
        vn = (
            pt.join(F.broadcast(norms), "dr")
            .select("word", (F.col("tf") / F.col("pn")).alias("wv"))
            .filter(F.abs("wv") >= acc)
        )
        delta = (
            vn.groupBy("word")
            .agg(F.sum("wv").alias("val"))
            .filter(F.abs(F.col("val")) >= acc)
        )
        self._pend("avg_sum", delta)
        self._set(
            "avg_sum",
            self._t("avg_sum")
            .unionByName(delta)
            .groupBy("word")
            .agg(F.sum("val").alias("val"))
            .filter(F.abs(F.col("val")) >= acc),
        )

    def _fold_bounded(self, parsed):
        """The 10^10-scale wave fold (VERDICT r1 item 3, r2 item 3): exact
        target-cluster updates over a bounded candidate set, link scores
        frozen at the wave-start factor (the documented servers=B
        approximation — at budget=1 use fold_mode='exact', the oracle-
        parity path), and the running average held as a DISTRIBUTED table:
        per-page dots ride a word-join inside the summary pass, the wave
        update is a distributed groupBy(word).sum, and the driver touches
        only a bounded restricted slice (central, pfactor, target-cluster
        + candidate vocab) plus two norm scalars. Acceptance is exact
        whenever every accepted page is inside the candidate margin (first
        targets+1 ranks UNION top margin*(targets+1) by wave-start
        priority) — cluster admission requires priority above the cluster
        minimum, so a page far outside the margin cannot enter unless the
        cluster mean drifts across it mid-wave."""
        cfg = self.cfg
        with self._timer("fold_collect"):
            rows = self._fold_summaries(parsed)
        summ = sorted((r for r in rows if r["kind"] == 0), key=lambda r: r["dr"])
        cand_vecs = {
            r["dr"]: SparseVector(
                [(e["word"], e["tf"]) for e in (r["terms"] or [])], cfg.accuracy
            )
            for r in summ
            if r["terms"] is not None
        }
        self.hosts_set.update(r["host"] for r in summ if r["host"])
        # frozen wave-start average, restricted to the bounded support the
        # loop's dots can touch — every partner vector lives inside it
        with self._timer("fold_avg_slice"):
            frozen = self._avg_restricted(
                set(self.sense.central.d)
                | set(self.pfactor.d)
                | set(self.sense.target.average.v.d)
                | {w for v in cand_vecs.values() for w in v.d}
            )
        #: the recalc passes run after this wave's average merge, but
        #: their factor semantics are wave-start (as the exact path's old-
        #: factor rule) — snapshot the wave-start table for them
        avg_t0 = self._t("avg_sum")
        fv = frozen.factor_view(self.sense.target.normal)
        # the two per-page phase-transition dots depend ONLY on fv (central
        # and pfactor are wave-constant, fv changes only on a cluster
        # admission — bounded per wave): memoized per fv identity, the
        # per-page fold cost drops from O(|factor|) sparse-dot work to
        # O(1) — this was the dominant per-URL serial driver cost the
        # N->4N executor scaling fit exposed (~1.4 ms/URL)
        fv_dot_central = fv.dot(self.sense.central)
        fv_ndot_pfactor = fv.normal_dot(self.pfactor)
        stop_dr = None
        recalc_pre = None
        recalc_post = None
        scores: list[tuple[int, float]] = []
        processed = 0
        for r in summ:
            dr, url = r["dr"], r["url"]
            self.ns += 1
            if self.phase == "estimating" and self.ns > cfg.limit:
                self.stopped = True
                stop_dr = dr
                break
            processed += 1
            acc: list[str] = []
            if dr in cand_vecs:
                vn = cand_vecs[dr].normal
                new_target = self.sense.target.add(vn, lambda: acc.append(url))
                if new_target is not self.sense.target:
                    fv = frozen.factor_view(new_target.normal)
                    fv_dot_central = fv.dot(self.sense.central)
                    fv_ndot_pfactor = fv.normal_dot(self.pfactor)
                self.sense = SemanticEstimator(
                    central=self.sense.central,
                    target=new_target,
                    average=self.sense.average,  # unused in bounded mode —
                    # the distributed avg_sum table is authoritative
                )
            # frozen-average factor for this page's state
            scores.append((dr, float(r["score0"])))
            if self.phase == "targeting":
                if fv_dot_central > cfg.targeting:
                    recalc_post = (
                        "dist", self.sense.target.normal, False, frozen, avg_t0
                    )
                    self.phase = "estimating"
            else:
                if fv_ndot_pfactor < cfg.prioriting:
                    recalc_pre = (
                        "dist", self.sense.target.normal, True, frozen, avg_t0
                    )
            for a in acc:
                self._accept(a)
        self.result.processed += processed
        # running average: one distributed wave delta (under the stop
        # filter in the rare final-wave case); no driver transfer
        with self._timer("fold_avg_update"):
            self._avg_update(
                parsed if stop_dr is None else parsed.filter(F.col("dr") < stop_dr)
            )
        dr2url = {r["dr"]: r["url"] for r in summ}
        return scores, stop_dr, recalc_pre, recalc_post, dr2url


    def _vocab_chain(self, parsed):
        """First-seen word-id assignment (P5 dictionary; Gather-side, all
        phases): order = (dispatch rank, token position) — matches the
        oracle's RevMap growth exactly. Independent of the fold/admission
        chains given `parsed`, so it runs concurrently with them."""
        with self._timer("vocab"):
            wave_words = parsed.select(
                "dr", F.posexplode("terms").alias("wpos", "e")
            ).select("dr", "wpos", F.col("e.word").alias("word"))
            firsts = wave_words.groupBy("word").agg(
                F.min(F.struct("dr", "wpos")).alias("fp")
            )
            known_words = (
                self._t("vocab")
                .join(F.broadcast(firsts.select("word")), "word", "left_semi")
                .select("word")
            )
            fresh = firsts.join(F.broadcast(known_words), "word", "left_anti").select(
                "word",
                F.col("fp.dr").alias("dr"),
                F.col("fp.wpos").alias("pos"),
            )
            new_words, n_new_w = dense_first_seen_ids(
                fresh, "word", "word_id",
                base=self.next_word_id, nb=self._wave_nb, n_parts=self._nparts,
            )
            self.next_word_id += n_new_w
            self._pend("vocab", new_words)
            # lazy union — materialized by the end-of-wave hot-table pool
            self._set("vocab", self._t("vocab").unionByName(new_words))

    def _robots_filter(self, df: DataFrame) -> DataFrame:
        """Robots.txt compliance (new surface): drop rows whose (dst_host,
        dst-path) matches a disallow prefix — anti-join against the matched
        set so fan-out never duplicates rows. Applies to both the wave-1
        FIFO and every frontier add."""
        if self.robots_flat is None:
            return df
        disallowed = (
            df.join(
                F.broadcast(self.robots_flat.withColumnRenamed("host", "dst_host")),
                "dst_host",
            )
            .filter(
                F.coalesce(
                    F.expr("startswith(parse_url(dst, 'PATH'), prefix)"),
                    F.lit(False),
                )
            )
            .select("dst")
        )
        return df.join(disallowed, "dst", "left_anti")

    def _accept(self, url: str):
        self.result.accepted.append(url)
        self._accepts_wave.append(url)

    def _merge_gather_state(self, parsed, admitted, new_links):
        """Seen set, host allowlist, corpus, gml log, link context — Gather
        runs for every fetched page regardless of EPM phase.

        ``new_links`` is already (a) deduped within the wave (first-emitter
        per dst) and (b) anti-joined against ``seen``, so the seen update is
        a pure append — no distinct() reshuffle of the cumulative set
        (the O(|seen|)-per-page blocker of the reference, Gather.scala:177,
        becomes O(wave) here)."""
        base_ord = self.next_ord
        parsed_o = parsed.withColumn("ord", F.col("dr") + F.lit(base_ord))
        seen_delta = new_links.select(F.col("dst").alias("url"))
        self._pend("seen", seen_delta)
        self._set("seen", self._t("seen").unionByName(seen_delta))
        corpus_delta = parsed_o.join(self._t("url_ids"), "url", "left").select(
            "ord", "seed_id", "url", "text", F.lit(self.wave).alias("wave")
        )
        self._pend("corpus", corpus_delta)
        self._set("corpus", self._t("corpus").unionByName(corpus_delta))
        gml_links = (
            admitted.groupBy("dr")
            .agg(F.sort_array(F.collect_list(F.struct("pos", "dst"))).alias("ls"))
            .select("dr", F.col("ls.dst").alias("links"))
        )
        gml_delta = parsed_o.drop("links").join(gml_links, "dr", "left").select(
            "ord",
            "url",
            F.coalesce("links", F.array().cast("array<string>")).alias("links"),
            F.map_from_entries("terms").alias("terms"),
        )
        self._pend("gml_log", gml_delta)
        self._set("gml_log", self._t("gml_log").unionByName(gml_delta))
        linkctx_delta = parsed_o.select(
            "ord", "url", F.explode("linkctx").alias("c")
        ).select("ord", "url", "c.link", "c.feature", "c.weight")
        self._pend("linkctx", linkctx_delta)
        self._set("linkctx", self._t("linkctx").unionByName(linkctx_delta))

    def _await_vocab(self):
        """Deferred vocab-chain barrier: must run before anything reads
        the vocab table (recalc factor join, wave_vocab slice, hot-table
        snapshot)."""
        if self._vocab_fut is not None:
            self._vocab_fut.result()
            self._vocab_fut = None

    def _calculate(self, factor):
        self._await_vocab()  # _calculate_apply joins the vocab table
        with self._timer("calculate"):
            if isinstance(factor, tuple):  # bounded mode's distributed
                # factor snapshot: ("dist", t, normalized, frozen_avg)
                return self._calculate_distributed(*factor[1:])
            return self._calculate_inner(factor)

    def _calculate_inner(self, factor: SparseVector):
        """NetworkEstimator.calculate (:67-84) as a distributed plan:
        page_terms x broadcast(factor.normal) -> per-page score ->
        propagate along net_edges -> groupBy(dst).max -> frontier rewrite.
        Frontier rows covered by no edge vanish (reference quirk).
        Sets pfactor to the factor argument (raw at the targeting
        transition, normalized on drift — exactly the reference)."""
        fn = factor.normal
        if self.cfg.factor_top_m > 0 and len(fn.d) > self.cfg.factor_top_m:
            top = sorted(fn.d.items(), key=lambda kv: -abs(kv[1]))
            fn = SparseVector(dict(top[: self.cfg.factor_top_m]), self.cfg.accuracy)
        factor_df = F.broadcast(
            local_frame(self.spark, list(fn.d.items()), "word string, w double")
        )
        self._calculate_apply(factor_df, broadcast_ids=True)
        self.pfactor = factor

    def _calculate_distributed(self, t: SparseVector, normalized: bool,
                               frozen: _FrozenAvg, avg_df: DataFrame):
        """A7's re-score in bounded mode: the factor (t − Â₀) is built as
        a distributed frame over the avg_sum table — the full average is
        never collected. Norms come from the frozen view's exact scalars.
        pfactor keeps the factor_top_m slice of the factor argument (the
        same truncation the scorer applies; bit-exact _calculate_inner
        semantics when factor_top_m=0)."""
        cfg = self.cfg
        acc = cfg.accuracy
        spark = self.spark
        n_avg = math.sqrt(self._avg_norm_sqr)
        t_df = local_frame(spark, list(t.d.items()), "word string, tw double")
        if n_avg > 0.0:
            f1 = (
                avg_df
                .filter(F.abs(F.col("val")) >= F.lit(acc * n_avg))
                .select("word", (F.col("val") / F.lit(n_avg)).alias("aw"))
                .join(F.broadcast(t_df), "word", "left")
                .select(
                    "word",
                    (F.coalesce(F.col("tw"), F.lit(0.0)) - F.col("aw")).alias("f"),
                )
            )
        else:
            f1 = local_frame(spark, [], "word string, f double")
        # words of t outside the average's support are driver-known:
        # supp(t) is inside the frozen view's restricted support
        extra = [(w, x) for w, x in t.d.items() if w not in frozen.a]
        f2 = local_frame(spark, extra, "word string, f double")
        fct_df = f1.unionByName(f2).filter(F.abs(F.col("f")) >= acc)
        fct_norm = frozen.factor_view(t).norm
        if fct_norm == 0.0:
            factor_df = local_frame(spark, [], "word string, f double")
            arg_norm = 0.0
        elif normalized:
            # drift path passed factor.normal — replicate the prune
            factor_df = (
                fct_df.select("word", (F.col("f") / F.lit(fct_norm)).alias("f"))
                .filter(F.abs(F.col("f")) >= acc)
                .localCheckpoint()
            )
            arg_norm = math.sqrt(
                (factor_df.agg(F.sum(F.col("f") * F.col("f"))).first()[0]) or 0.0
            )
        else:
            factor_df = fct_df.localCheckpoint()
            arg_norm = fct_norm
        pf_df = factor_df
        if cfg.factor_top_m > 0:
            pf_df = factor_df.orderBy(F.abs(F.col("f")).desc()).limit(
                cfg.factor_top_m
            )
        self.pfactor = SparseVector(
            {r["word"]: r["f"] for r in pf_df.collect()}, acc
        )
        if arg_norm == 0.0:
            fn_df = local_frame(spark, [], "word string, w double")
            self._calculate_apply(F.broadcast(fn_df), broadcast_ids=True)
            return
        fn_df = factor_df.select(
            "word", (F.col("f") / F.lit(arg_norm)).alias("w")
        ).filter(F.abs(F.col("w")) >= acc)
        if cfg.factor_top_m > 0:
            fn_df = F.broadcast(
                fn_df.orderBy(F.abs(F.col("w")).desc()).limit(cfg.factor_top_m)
            )
            self._calculate_apply(fn_df, broadcast_ids=True)
        else:
            # untruncated factor: keep the word join distributed
            self._calculate_apply(fn_df, broadcast_ids=False)

    def _calculate_apply(self, factor_df: DataFrame, broadcast_ids: bool):
        """Shared tail of the re-score: factor words -> ids -> page scores
        -> max-propagation along edges -> frontier rewrite."""
        factor_ids = self._t("vocab").join(factor_df, "word").select("word_id", "w")
        if broadcast_ids:
            factor_ids = F.broadcast(factor_ids)
        pscores = (
            self._t("page_terms")
            .join(factor_ids, "word_id")
            .groupBy("seed_id")
            .agg(F.sum(F.col("tf") * F.col("w")).alias("score"))
        )
        pr = (
            self._t("net_edges")
            .join(pscores.withColumnRenamed("seed_id", "src"), "src", "left")
            .na.fill({"score": 0.0})
            .groupBy("dst")
            .agg(F.max("score").alias("new_priority"))
        )
        fr = self._t("frontier")
        self._set(
            "frontier",
            fr.join(pr, fr.seed_id == pr.dst, "inner")
            .select(
                "seed_id", "url", "host",
                F.col("new_priority").alias("priority"), "parents",
            ),
        )

    # ------------------------------------------------------------------
    # checkpointing
    # ------------------------------------------------------------------
    def _checkpoint(self, force: bool = False):
        with self._timer("checkpoint"):
            return self._checkpoint_inner(force)

    def _ckpt_fence(self):
        """Swap in the background-materialized hot tables (if any).

        frontier/net_edges were materialized from the state BEFORE the
        current wave's dispatch elimination, so the recorded elimination
        anti-joins are re-applied lazily on swap-in (idempotent: an id
        already absent is a no-op)."""
        if self._ckpt_fut is not None:
            with self._timer("ckpt_fence"):
                tables, avg_scalars = self._ckpt_fut.result()
            # clear BEFORE the swap-in writes: the fence's own _set calls
            # are the sanctioned resolution of the in-flight snapshot
            self._ckpt_fut = None
            elim_dfs = self._postckpt_elim
            for n, df in tables.items():
                if elim_dfs and n == "frontier":
                    for ids_df in elim_dfs:
                        df = df.join(
                            ids_df, F.col("seed_id") == F.col("sid"), "left_anti"
                        )
                elif elim_dfs and n == "net_edges":
                    for ids_df in elim_dfs:
                        df = df.join(
                            ids_df, F.col("dst") == F.col("sid"), "left_anti"
                        )
                self._set(n, df)
            if avg_scalars is not None:
                self._avg_norm_sqr, self._avg_pruned_sqr = avg_scalars
        self._postckpt_elim = []

    def _avg_scalars(self, avg: DataFrame) -> tuple[float, float]:
        """‖Σv‖² and ‖Â₀‖² (Σv/‖Σv‖ after the accuracy prune) of an
        avg_sum table — two narrow full scans, no shuffle."""
        nsq = (avg.agg(F.sum(F.col("val") * F.col("val"))).first()[0]) or 0.0
        n = math.sqrt(nsq)
        if n == 0.0:
            return nsq, 0.0
        psq = (
            avg.filter(F.abs(F.col("val")) >= F.lit(self.cfg.accuracy * n))
            .agg(F.sum(F.col("val") * F.col("val") / F.lit(nsq)))
            .first()[0]
        ) or 0.0
        return nsq, psq

    def _checkpoint_inner(self, force: bool = False):
        # checkpoints are taken after `wave += 1`: they hold the state
        # after wave `done`, commit under that id and record `self.wave`
        # as the next wave to run. A forced (finalize) checkpoint with no
        # wave processed since the last commit has nothing to add, and
        # reusing that commit's id would overwrite it: it only waits
        done = self.wave - 1
        if force and done in (-1, self._committed_wave):
            if self._commit_fut is not None:
                self._commit_fut.result()
                self._commit_fut = None
            return
        # in-memory lineage truncation runs EVERY wave (commit waves too).
        # ALL hot tables (frontier/net_edges included, round 4) materialize
        # in the background, overlapped with the next wave's
        # dispatch+fetch+parse and swapped in at the fence before the
        # admission/vocab/fold chains need them. The next dispatch top-k
        # runs over the LAZY frontier — cheap, because its lineage is one
        # materialized snapshot + the (always-localCheckpointed) wave delta
        # + broadcast elimination anti-joins; the elimination it performs
        # is re-applied to the materialized table at the fence.
        from concurrent.futures import ThreadPoolExecutor

        self._ckpt_fence()  # safety: never double-materialize
        self._await_vocab()  # snapshot must see the wave's vocab update
        snap = {
            n: self._t(n).coalesce(self._nparts) for n in self._hot_tables
        }
        # cold (export-feed) tables: lineage-truncate every 4 waves, also
        # off the critical path
        if done % 4 == 0:
            for n in _COLD_TABLES:
                snap[n] = self._t(n)

        def _ckpt_job(df):
            # low-priority FAIR pool ('ckpt'): background jobs yield to the
            # in-path dispatch/parse jobs instead of splitting cores evenly
            # (a no-op under FIFO scheduling, e.g. in tests)
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", "ckpt"
            )
            return df.localCheckpoint()

        # background job width scales with task slots: FAIR weights cap the
        # ckpt pool's SHARE, but running tasks are never preempted — at 8
        # slots a 4-job burst churns slots between the dispatch top-k's
        # stages; at 32 slots there is headroom to spare
        bg_width = 4 if self.spark.sparkContext.defaultParallelism >= 16 else 2

        def _materialize():
            # concurrent localCheckpoint jobs: the tables are independent
            # scans, and this whole block is off the critical path — finish
            # before the next wave's fence (dispatch+parse hide it)
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", "ckpt"
            )
            with ThreadPoolExecutor(max_workers=bg_width) as ex:
                futs = {n: ex.submit(_ckpt_job, df) for n, df in snap.items()}
                out = {n: f.result() for n, f in futs.items()}
            # the two average scalars the next wave's fold needs — computed
            # here, off the critical path, on the freshly materialized table
            scalars = (
                self._avg_scalars(out["avg_sum"]) if "avg_sum" in out else None
            )
            return out, scalars

        self._ckpt_fut = self._ckpt_pool.submit(_materialize)
        if not force and (done % self.checkpoint_every) != 0:
            return
        import json as _json

        state = {
            "phase": self.phase,
            "ns": self.ns,
            "next_id": self.next_id,
            "next_word_id": self.next_word_id,
            "next_ord": self.next_ord,
            "next_wave": self.wave,
            "fifo": self.fifo,
            "hosts": sorted(self.hosts_set),
            "stopped": self.stopped,
            "processed": self.result.processed,
            "central_acc": {k: v for k, v in self.central_acc.items()},
            "pfactor": {k: v for k, v in self.pfactor.items()},
            "sense": self.sense.to_dict() if self.sense else None,
            # dispatch order / accepted pages / processed-page ids live in
            # TABLES (dispatch_log, accepted, corpus+url_ids): the manifest
            # holds only counters + the KB-sized estimator, so commit cost
            # stays O(wave) at any crawl length
            "sampler_nseed": self._sampler_nseed,
            "sampler_dumps": self._sampler_dumps,
            "metrics": {
                "frontier_adds_total": self.next_id - 1,
                "target_size": self.sense.size if self.sense else 0,
            },
        }
        # O(wave) durable commit: frontier full (small, heavily rewritten),
        # everything else as [delete keys + appended delta] since the last
        # commit. In-memory tables stay authoritative; the durable chain is
        # the resume path.
        from functools import reduce

        tables: dict[str, DataFrame | None] = {"frontier": self._t("frontier")}
        modes = {"frontier": "full"}
        for name in _STATE_TABLES:
            if name == "frontier":
                continue
            modes[name] = "delta"
            dfs = self._pending_deltas.get(name, [])
            # no pended deltas → written=False in the manifest (no parquet
            # job at all), instead of writing a schema-only empty file
            tables[name] = (
                reduce(lambda a, b: a.unionByName(b), dfs) if dfs else None
            )
        deletes = {
            name: [
                {"key": k, "values": sorted(vals)} for k, vals in per_key.items()
            ]
            for name, per_key in self._pending_deletes.items()
        }
        # asynchronous durable commit: the parquet writes + manifest land on
        # a single background worker while the next wave computes. Ordering
        # and atomicity are preserved — the NEXT commit joins this one
        # before starting, and the manifest is still written last. The
        # state dict is deep-copied (json round-trip) because fifo/hosts
        # keep mutating on the driver; the captured delta plans are frozen
        # lazy frames over localCheckpointed parents.
        if self._commit_fut is not None:
            self._commit_fut.result()
        state = _json.loads(_json.dumps(state))
        def _commit_job(wave=done, tables=tables, state=state,
                        modes=modes, deletes=deletes):
            # durable writes also ride the low-priority pool
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", "ckpt"
            )
            return self.catalog.commit(
                wave, tables, state, modes=modes, deletes=deletes
            )

        self._commit_fut = self._commit_pool.submit(_commit_job)
        self._committed_wave = done
        self._pending_deltas.clear()
        self._pending_deletes.clear()
        if force:  # finalize: block until durable
            self._commit_fut.result()
            self._commit_fut = None

    # ------------------------------------------------------------------
    # main loop
    # ------------------------------------------------------------------
    def run(self, max_waves: int = 100_000, finalize: bool = True) -> CrawlResult:
        """Wave loop. Each iteration dispatches its own batch and processes
        it, so a stop (``stopped`` or ``max_waves``) never leaves a batch
        that was eliminated from the frontier but not processed: every
        commit's frontier still holds every unfetched link."""
        cfg = self.cfg
        while not self.stopped and self.result.waves < max_waves:
            # wave 0 fetches the seeds; later waves (a resumed crawl's
            # first included) dispatch from the FIFO or the frontier
            batch = list(enumerate(cfg.seeds)) if self.wave == 0 else self._dispatch()
            if not batch:
                if self.phase == "targeting" and not self.fifo:
                    self.result.aborted = True  # too little casualties (:225-229)
                break
            self._accepts_wave: list[str] = []
            self._run_wave(batch)
            self._record_accepts()
            if (
                cfg.dump_every > 0
                and self.sense is not None
                and self.ns // cfg.dump_every > self._dump_marks
            ):
                self._dump_marks = self.ns // cfg.dump_every
                with self._timer("dump_snapshot"):
                    self.export_snapshot(os.path.join(self.catalog.root, "export"))
            self.next_ord += len(batch)
            self.wave += 1
            self.result.waves += 1
            self._checkpoint()
        if finalize:
            self.finalize()
        return self.result

    def finalize(self) -> None:
        """Durable snapshot commit + vocabulary sink (separate from the
        wave loop so callers can account commit cost independently). The
        commit goes under the last processed wave's id; when that wave was
        already committed in the loop, finalize only waits for it."""
        self._checkpoint(force=True)
        self._write_vocabulary()
        # drain the background materialization before the caller may stop
        # the session — otherwise spark.stop() races in-flight ckpt tasks
        self._ckpt_fence()

    def _record_accepts(self):
        if self._accepts_wave:
            rows = [(self.next_ord + i, u) for i, u in enumerate(self._accepts_wave)]
            acc_delta = local_frame(self.spark, rows, "ord long, url string")
            self._pend("accepted", acc_delta)
            self._set("accepted", self._t("accepted").unionByName(acc_delta))

    def _dump_sample(self):
        """S9 sample dump: the reference's incremental link-context matrix
        (links ascending by priority × features with global count > 10,
        SampleHierarchy2Priority.scala:66-106) over the CURRENT frontier
        priorities and linkctx feed, written as samples/sample.NNNN."""
        from webcrawler_spark.plans.tune import render_sample, sampler_pivot

        prios = self._t("frontier").select(
            F.col("url").alias("link"), "priority"
        )
        ctx = self._t("linkctx").select("link", "feature", "weight")
        cap = self.cfg.sample_max_links
        piv = sampler_pivot(
            ctx, prios, min_count=10, max_links=cap if cap > 0 else None
        )
        text = render_sample(piv)
        outdir = os.path.join(self.catalog.root, "samples")
        os.makedirs(outdir, exist_ok=True)
        self._sampler_dumps += 1
        with open(
            os.path.join(outdir, f"sample.{self._sampler_dumps:04d}"), "w"
        ) as f:
            f.write(text)

    def export_snapshot(self, outdir: str):
        """S5/S6/S7 snapshot dump (the reference's every-500-pages GML dump,
        EvaluatePriorityMatrix.scala:291-293): writes network.gml,
        statistic.NNNNNNNN.txt and the vectors/ file set from the gml_log
        feed using the current estimator state."""
        import os as _os

        from webcrawler_spark.plans.exports import (
            compute_statistics,
            gml_ids,
            gml_matrix,
            render_gml,
            render_linked_vectors,
            render_statistic,
        )

        if self.sense is None:
            return
        log = self._t("gml_log")
        ids = gml_ids(log)
        terms, out_edges = gml_matrix(log, ids)
        central, factor = self.sense.central, self._factor_vector()
        _os.makedirs(outdir, exist_ok=True)
        with open(_os.path.join(outdir, "network.gml"), "w") as f:
            f.write(
                render_gml(
                    ids, terms, out_edges, central, factor, self.cfg.with_incomplete
                )
            )
        stats = compute_statistics(
            terms, out_edges, central, self.sense.target.normal, factor
        )
        n = stats["size"]
        with open(_os.path.join(outdir, f"statistic.{n:08d}.txt"), "w") as f:
            f.write(render_statistic(stats))
        vdir = _os.path.join(outdir, "vectors")
        _os.makedirs(vdir, exist_ok=True)
        for name, body in render_linked_vectors(log).items():
            with open(_os.path.join(vdir, name), "w") as f:
                f.write(body)

    def _factor_vector(self) -> SparseVector:
        """Driver materialization of the current factor (t − Â₀) for the
        text-export renderers, which are driver-side by design. In bounded
        mode this is the ONLY place the average's full weight set crosses
        the driver boundary — export/finalize time, never the wave loop."""
        if self.cfg.fold_mode != "bounded":
            return self.sense.factor
        acc = self.cfg.accuracy
        n = math.sqrt(self._avg_norm_sqr)
        if n == 0.0:
            return self.sense.target.normal - SparseVector({}, acc)
        rows = (
            self._t("avg_sum")
            .filter(F.abs(F.col("val")) >= F.lit(acc * n))
            .collect()
        )
        a0 = SparseVector({r["word"]: r["val"] / n for r in rows}, acc)
        return self.sense.target.normal - a0

    def _write_vocabulary(self):
        """S8: at crawl end the factor decoded to words -> vocabulary table."""
        if self.sense is None:
            return
        rows = sorted(self._factor_vector().d.items(), key=lambda kv: (-kv[1], kv[0]))
        df = local_frame(self.spark, rows, "word string, weight double")
        # S8 decode: factor terms joined back to their first-seen ids
        df = df.join(self._t("vocab"), "word", "left")
        df.write.mode("overwrite").parquet(f"{self.catalog.root}/vocabulary")

    # ------------------------------------------------------------------
    # resume
    # ------------------------------------------------------------------
    @classmethod
    def resume(
        cls,
        spark: SparkSession,
        cfg: CrawlConfig,
        pages: DataFrame,
        workdir: str,
        robots: DataFrame | None = None,
        checkpoint_every: int = 8,
    ) -> "SparkCrawler":
        """Rebuild from the latest committed wave; the remaining crawl
        replays exactly (kill-and-resume invariant of the north rule)."""
        self = cls(spark, cfg, pages, workdir, robots, checkpoint_every)
        m = self.catalog.latest()
        if m is None:
            return self
        st, w = m["state"], m["wave"]
        # an in-flight batch was already eliminated from the committed
        # frontier, and the full-list keys predate the dispatch_log /
        # accepted / corpus tables: loading either would silently drop state
        retired = [k for k in ("dispatched", "page_ids") if k in st]
        if st.get("inflight"):
            retired.append("inflight")
        if retired:
            path = os.path.join(self.catalog._wave_dir(w), "manifest.json")
            raise ValueError(
                f"{path}: manifest carries retired state key(s) {retired}; "
                "it was written by an older crawler and cannot be resumed"
            )
        self.phase = st["phase"]
        self.ns = st["ns"]
        self.next_id = st["next_id"]
        self.next_word_id = st.get("next_word_id", 1)
        self.next_ord = st["next_ord"]
        # manifests written before `next_wave` existed were all taken
        # right after wave `w`
        self.wave = st.get("next_wave", w + 1)
        self._committed_wave = w
        self.fifo = list(st["fifo"])
        self.hosts_set = set(st.get("hosts", []))
        self.stopped = st["stopped"]
        self.central_acc = SparseVector(st["central_acc"], cfg.accuracy)
        self.pfactor = SparseVector(st["pfactor"], cfg.accuracy)
        self.sense = SemanticEstimator.from_dict(st["sense"]) if st["sense"] else None
        self._sampler_nseed = st.get("sampler_nseed", 0)
        self._sampler_dumps = st.get("sampler_dumps", 0)
        if cfg.dump_every > 0:  # no re-dump of already-passed marks
            self._dump_marks = self.ns // cfg.dump_every
        self.result.processed = st["processed"]
        for name in _STATE_TABLES:
            try:
                self._set(name, self.catalog.load_table(w, name))
            except FileNotFoundError:
                # a table with no written delta anywhere in the chain (e.g.
                # no page was ever accepted) keeps its initial empty frame
                pass
        if cfg.fold_mode == "bounded":
            # the committed chain stores per-wave avg deltas — fold them
            # back into the running sum and recompute its two scalars
            avg = (
                self._t("avg_sum")
                .groupBy("word")
                .agg(F.sum("val").alias("val"))
                .filter(F.abs(F.col("val")) >= cfg.accuracy)
                .localCheckpoint()
            )
            self._set("avg_sum", avg)
            self._avg_norm_sqr, self._avg_pruned_sqr = self._avg_scalars(avg)
        self.result.dispatched = [
            r["url"] for r in self._t("dispatch_log").orderBy("ord").collect()
        ]
        self.result.accepted = [
            r["url"] for r in self._t("accepted").orderBy("ord").collect()
        ]
        # rebuild the processed-page membership filter from the corpus (a
        # superset of EPM-processed pages; extra hits only pend no-op
        # delete keys)
        for r in self._t("corpus").select("url").collect():
            self._page_seen.add(r["url"])
        if self.bloom is not None:
            # rebuild the prefilter from the snapshot's exact seen table
            self.bloom.add_df(self._t("seen"), "url")
        return self
