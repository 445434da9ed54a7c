"""Benchmark runner for webcrawler_spark.

    python3 perfbench/run.py --workload crawl_waves --seed 1 --seconds 5 --trace 0

Runs one workload in this (fresh) process and Spark session, checks its
outputs, and prints as the last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
the per-layer metrics (a layer the workload leaves idle reads 0; any other
metric it did not measure counts as a failure).
The line before it is a JSON object of run details (host sizing,
digests, per-pass samples, failures). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

sys.path.insert(1, common.REPO)

#: per workload, the per-layer metric prefixes of the layers it leaves
#: idle: these read 0, and any other metric it does not set is a failure
IDLE = {
    "crawl_waves": ("queries.",),
    "query_sweep": ("udfs.", "crawler.", "catalog.", "bloom."),
}
WORKLOADS = tuple(IDLE)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measurement window; passes repeat until it is spent")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs (tests); metrics are not comparable")
    p.add_argument("--pin", action="store_true",
                   help="print pins.json entries for seeds [seed, seed + "
                        "pin-count): uninterrupted-crawl digests, or "
                        "oracle-verified operator hashes")
    p.add_argument("--pin-count", type=int, default=1)
    return p.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(common.REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    with contextlib.suppress(OSError):  # still in use by a concurrent run
        os.rmdir(os.path.dirname(work))


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = load_spec()
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # the program under test: fail fast (no result line) without it
    import webcrawler_spark  # noqa: F401

    import crawl
    import sweep

    seed = crawl.web_seed(args.seed, args.smoke) if args.workload == "crawl_waves" else args.seed
    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f).get(args.workload, {}).get(str(seed), {})
    work = os.path.join(common.REPO, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sess = common.Session(work)
    out = {
        "failures": [], "attempted": 0, "pins": {} if args.smoke else pins,
        "metrics": {}, "layers": {},
        "details": {"workload": args.workload, "seed": args.seed,
                    "cpus": sess.cpus, "driver_heap_mb": sess.heap_mb,
                    "mem_total_mb": common.mem_total_mb()},
    }
    if args.pin:
        try:
            mod = crawl if args.workload == "crawl_waves" else sweep
            print(json.dumps({args.workload: mod.pin(sess, args, work)}))
        finally:
            common.shutdown(sess)
            remove_work(work)
        return 0
    error = None
    t0 = time.time()
    try:
        with common.MemSampler() as mem:
            if args.workload == "crawl_waves":
                crawl.run(sess, args, work, out, common.Spans() if args.trace else None)
            else:
                sweep.run(sess, args, work, out, bool(args.trace))
    except Exception:
        error = traceback.format_exc()
    finally:
        common.shutdown(sess)
        remove_work(work)
    if error is not None:
        print(error, file=sys.stderr)
        out["failures"].append("run aborted: " + error.strip().splitlines()[-1])
        if not out["metrics"]:
            return 1  # nothing was measured: no result line
    out["details"]["wall_s"] = time.time() - t0

    out["layers"]["process.peak_pss_mb"] = mem.peak_mb
    out["details"]["peak_pss_mb"] = mem.peak_mb
    if args.trace:
        names = spec["per_layer"]
        values = out["layers"]
    else:
        names = spec["end_to_end"]
        values = dict(out["metrics"])
        values["setup_s"] = common.median(out["setup"])

    metrics = {}
    for m in names:
        name = m["name"]
        if name not in values:
            if not (args.trace and name.startswith(IDLE[args.workload])):
                out["failures"].append(f"metric {name} was not measured")
            values[name] = 0.0
        metrics[name] = {"value": float(values[name]), "unit": m["unit"]}
    failed = len(out["failures"])
    out["details"].update(setup_s=out.get("setup"), digests=out.get("digests"),
                          failures=out["failures"])
    print(json.dumps({"details": out["details"]}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(1, out["attempted"]),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
