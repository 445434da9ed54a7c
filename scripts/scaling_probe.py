"""Capacity-probed scaling measurement (north rule: throughput scaling
efficiency >= 0.8 from N to 4N parallelism).

The sandbox host's capacity oscillates 2-3x on ~10-minute scales
(BASELINE.md session-5 pinned this with a zero-coordination pure-Python
burn). A scaling ratio computed from reps taken in different bands
measures the host, not the engine. This harness:

1. probes effective capacity IMMEDIATELY before each rep with a fixed
   8-process integer burn (no Spark, no coordination);
2. interleaves the two levels (8, 2, 8, 2, ...) so neither level is
   systematically luckier;
3. reports every (burn_sec, crawl_sec) pair, plus the efficiency
   computed from each level's best rep AND from the subset of reps
   whose probe was within 1.3x of the session-best probe (the
   "nominal-capacity" estimate).

Usage: python scripts/scaling_probe.py [rounds]
       python scripts/scaling_probe.py [rounds] --confine
Env: SPARK_GRAFT_CRAWL_PAGES/LIMIT/BUDGET control the workload
(default here: the 2x-waves gate workload 65536/32768/16384).

``--confine`` pins each rep's ENTIRE process tree (driver JVM, Python
workers, background commit threads) to exactly N cores with taskset —
the honest instantiation of "N vs 4N cluster sizes" on one box. Without
confinement, local[2] on a 32-core host free-rides: its 2 task slots
are capped but the JVM scheduler/GC/Arrow threads and the async commit
pool spill onto the 30 idle cores, inflating the small leg's
throughput and deflating the measured ratio (round-5 measured the same
tree at 0.55 unconfined vs confined ~4x-resources semantics; a real
2-executor cluster has no such spare capacity). Each confined rep runs
in a fresh subprocess because a pyspark JVM inherits affinity only at
launch.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CRAWL_PAGES", "65536")
os.environ.setdefault("SPARK_GRAFT_CRAWL_LIMIT", "32768")
os.environ.setdefault("SPARK_GRAFT_CRAWL_BUDGET", "16384")


def _burn_one(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def probe(procs: int = 8, n: int = 12_000_000) -> float:
    """Wall seconds for `procs` independent integer burns — pure Python,
    zero coordination; measures the host, not Spark."""
    from multiprocessing import Pool

    t0 = time.time()
    with Pool(procs) as p:
        p.map(_burn_one, [n] * procs)
    return time.time() - t0


def nominal_reps(reps: list[dict], post_key: str) -> tuple[float, list[dict]]:
    """Best burn reading and the reps run at near-nominal host capacity.
    A rep qualifies on the WORSE (max) of its two burn readings, so one
    that became contended mid-run is filtered out. Exits with a message
    when no rep produced a result."""
    if not reps:
        sys.exit("scaling_probe: all reps failed; no result to report")
    worst = [max(x["burn_pre"], x[post_key]) for x in reps]
    best = min(worst)
    return best, [x for x, w in zip(reps, worst) if w <= 1.3 * best]


def make_spark_cluster(n_exec: int, app: str):
    """A REAL multi-executor cluster on one box: ``local-cluster[N,1,m]``
    spawns N separate single-core executor JVMs (own heap, own Python
    workers, own Arrow serialization) under an in-process master — the
    faithful single-host instantiation of "N executors vs 4N executors"
    from the north rule. The driver JVM is NOT part of the scaled
    resource (a real cluster's driver node is constant across cluster
    sizes), so driver memory/cores are identical in both legs."""
    import shutil

    from pyspark.sql import SparkSession
    import bench

    # the north rule's deployment: the package ships to executors as a
    # --py-files zip (local[*] shares the driver's sys.path; a REAL
    # multi-executor cluster does not — exactly what this mode catches)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = shutil.make_archive(
        os.path.join(tempfile.gettempdir(), "webcrawler_spark_pyfiles"),
        "zip", root_dir=root, base_dir="webcrawler_spark",
    )
    spark = (
        SparkSession.builder.master(f"local-cluster[{n_exec},1,10240]")
        .appName(app)
        .config("spark.scheduler.allocation.file", bench._fair_pools_file())
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # heavy ~100 KB pages: bound Arrow batch memory on 1-core executors
        # (default 10k records/batch is a ~1 GB allocation spike -> exit 52)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.addPyFile(zip_path)
    return spark


def one_rep(cpus: int) -> dict:
    """One crawl rep at local[cpus] in THIS process (used confined: the
    parent wraps this subprocess in `taskset -c 0..cpus-1`), or at
    local-cluster[cpus,1,10240] when SPARK_GRAFT_CLUSTER=1."""
    import bench
    from webcrawler_spark.sources.synth import gen_pages_df

    if os.environ.get("SPARK_GRAFT_CLUSTER") == "1":
        spark = make_spark_cluster(cpus, f"sclclus_{cpus}")
    else:
        spark = bench.make_spark(cpus, f"sclconf_{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    spec = bench._bench_spec()
    pages = gen_pages_df(spark, spec).select(*bench._bench_cols(spec)).persist()
    pages.count()
    with tempfile.TemporaryDirectory() as td:
        r = bench.crawl_bench(spark, td, pages=pages)
    pages.unpersist()
    spark.stop()
    return r


def main_confined(rounds: int, cluster: bool = False):
    import subprocess

    reps = []
    for rnd in range(rounds):
        for cpus in (8, 2):
            b = probe()
            if cluster:
                # N separate executor JVMs; no taskset — the executor
                # processes ARE the scaled resource, the driver is the
                # constant (both fit in the 32-core host with headroom)
                env = dict(os.environ, SPARK_GRAFT_CLUSTER="1")
                cmd = [
                    sys.executable, os.path.abspath(__file__),
                    "--one-rep", str(cpus),
                ]
            else:
                env = dict(os.environ)
                cmd = [
                    "taskset", "-c", f"0-{cpus - 1}",
                    sys.executable, os.path.abspath(__file__),
                    "--one-rep", str(cpus),
                ]
            out = subprocess.run(
                cmd, capture_output=True, text=True, env=env,
            )
            b2 = probe()
            line = [l for l in out.stdout.splitlines() if l.startswith("{")]
            if not line:
                print(f"rep failed: {out.stderr[-500:]}", flush=True)
                continue
            r = json.loads(line[-1])
            reps.append(
                {
                    "cpus": cpus,
                    "round": rnd,
                    "burn_pre": round(b, 2),
                    "burn_post": round(b2, 2),
                    "crawl_sec": r["crawl_sec"],
                    "urls_per_sec": r["urls_per_sec"],
                }
            )
            print(json.dumps(reps[-1]), flush=True)

    best_burn, nominal = nominal_reps(reps, "burn_post")

    def eff(pool):
        lo = [x for x in pool if x["cpus"] == 2]
        hi = [x for x in pool if x["cpus"] == 8]
        if not lo or not hi:
            return None, None, None
        bl = max(x["urls_per_sec"] for x in lo)
        bh = max(x["urls_per_sec"] for x in hi)
        return round((bh / bl) / 4.0, 3), bl, bh

    e_all, l_all, h_all = eff(reps)
    e_nom, l_nom, h_nom = eff(nominal)
    print(
        json.dumps(
            {
                "metric": (
                    "CLUSTER scaling efficiency 2 -> 8 single-core executor JVMs (2x waves, local-cluster)"
                    if cluster
                    else "CONFINED scaling efficiency 2 cores -> 8 cores (2x waves, taskset whole-tree)"
                ),
                "best_of_all_reps": {"eff": e_all, "lo_urls_s": l_all, "hi_urls_s": h_all},
                "nominal_capacity_reps": {
                    "eff": e_nom,
                    "lo_urls_s": l_nom,
                    "hi_urls_s": h_nom,
                    "n_reps": len(nominal),
                },
                "best_burn_sec": best_burn,
                "reps": reps,
            }
        ),
        flush=True,
    )


def main():
    if "--one-rep" in sys.argv:
        i = sys.argv.index("--one-rep")
        print(json.dumps(one_rep(int(sys.argv[i + 1]))), flush=True)
        return
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 3
    if "--cluster" in sys.argv:
        main_confined(rounds, cluster=True)
        return
    if "--confine" in sys.argv:
        main_confined(rounds)
        return
    import bench

    reps = []  # (cpus, burn_sec, crawl_sec, urls_per_sec)
    from webcrawler_spark.sources.synth import gen_pages_df

    for rnd in range(rounds):
        for cpus in (8, 2):
            b = probe()
            spark = bench.make_spark(cpus, f"sclprobe_{cpus}_{rnd}")
            spark.sparkContext.setLogLevel("ERROR")
            spec = bench._bench_spec()
            pages = (
                gen_pages_df(spark, spec)
                .select(*bench._bench_cols(spec))
                .persist()
            )
            pages.count()
            b2 = probe()  # second probe after generation, right before the rep
            with tempfile.TemporaryDirectory() as td:
                r = bench.crawl_bench(spark, td, pages=pages)
            pages.unpersist()
            spark.stop()
            reps.append(
                {
                    "cpus": cpus,
                    "round": rnd,
                    "burn_pre": round(b, 2),
                    "burn_at": round(b2, 2),
                    "crawl_sec": r["crawl_sec"],
                    "urls_per_sec": r["urls_per_sec"],
                }
            )
            print(json.dumps(reps[-1]), flush=True)

    best_burn, nominal = nominal_reps(reps, "burn_at")

    def eff(pool):
        lo = [x for x in pool if x["cpus"] == 2]
        hi = [x for x in pool if x["cpus"] == 8]
        if not lo or not hi:
            return None, None, None
        bl = max(x["urls_per_sec"] for x in lo)
        bh = max(x["urls_per_sec"] for x in hi)
        return round((bh / bl) / 4.0, 3), bl, bh

    e_all, l_all, h_all = eff(reps)
    e_nom, l_nom, h_nom = eff(nominal)
    print(
        json.dumps(
            {
                "metric": "scaling efficiency local[2] -> local[8] (2x waves)",
                "best_of_all_reps": {"eff": e_all, "lo_urls_s": l_all, "hi_urls_s": h_all},
                "nominal_capacity_reps": {
                    "eff": e_nom,
                    "lo_urls_s": l_nom,
                    "hi_urls_s": h_nom,
                    "n_reps": len(nominal),
                },
                "best_burn_sec": best_burn,
                "reps": reps,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
