"""query_sweep workload: registry operators over seeded tables. Each
operator runs once cold (its first execution in the session, collected
to the driver), then warm to completion with ``write.format("noop")``.
The collected results are checked against each operator's DuckDB oracle
SQL with the project's dtype-strict comparator
(scripts/check_oracle_strict.py) and against pinned hashes."""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

from common import REPO, SETUP_REPS, StageLog, cpu_clock, median

#: the first six are the doc-tokenize cohort whose warm times regressed
#: in the round-5 sweep; then sketch planning, rank fusion, TPC-H, graph
#: and the two crawl-shaped operators
OPERATORS = [
    "ngram_jaccard_pairs", "simhash", "image_resize", "ann_cosine_topk",
    "robots_admission", "url_canonical_dedup",
    "multi_index_hamming_plan", "copeland_fusion",
    "tpch_q1", "triangle_count", "frontier_topk", "seen_antijoin",
]

SCALE = 0.02
SMOKE_SCALE = 0.01


def strict():
    """The project's dtype-strict oracle comparator,
    scripts/check_oracle_strict.py: exact column types, exact values."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import check_oracle_strict

    return check_oracle_strict


def spark_result(chk, df):
    """(columns, canonical types, rows) of an operator's result."""
    rows = [tuple(r) for r in df.collect()]
    return df.columns, [chk.spark_type_canon(f.dataType) for f in df.schema.fields], rows


def oracle(chk, data: str):
    import duckdb

    con = duckdb.connect()
    for t in chk.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data, t + '.parquet')}'")
    return con


def oracle_result(chk, con, name: str):
    """(columns, canonical types, rows) of the operator's DuckDB oracle SQL,
    read the way check_oracle_strict.py reads it."""
    from webcrawler_spark.queries import REGISTRY

    tbl = con.execute(REGISTRY[name][1]).fetch_arrow_table()
    rows = list(zip(*(c.to_pylist() for c in tbl.columns))) if tbl.num_columns else []
    if tbl.num_rows and not rows:
        rows = [() for _ in range(tbl.num_rows)]
    return tbl.column_names, [chk.arrow_type_canon(f.type) for f in tbl.schema], rows


def fingerprint(chk, cols, types, rows) -> list:
    """``[rows, md5]``: an order-insensitive hash over the column types and
    check_oracle_strict's exact canonical rows, columns sorted by name."""
    h = hashlib.md5(json.dumps(sorted(zip(cols, types))).encode())
    for r in chk.canon_rows(rows, cols):
        h.update(("\n" + "\x1f".join(r)).encode())
    return [len(rows), h.hexdigest()]


def verify(chk, con, name, spark_side, pinned=None) -> tuple[list, list[str]]:
    """Strict comparison with the oracle, then with the pin if one is given."""
    ok, msgs = chk.compare(name, *spark_side, *oracle_result(chk, con, name))
    got = fingerprint(chk, *spark_side)
    fails = [] if ok else [f"{name}: " + "; ".join(msgs)[:500]]
    if pinned is not None and list(pinned) != got:
        fails.append(f"{name}: {got} != pinned {pinned}")
    return got, fails


def pin(sess, args, work: str) -> dict:
    """Oracle-verified ``[rows, hash]`` of every operator for seeds
    [seed, seed + pin_count): the values pins.json holds."""
    from webcrawler_spark.queries import REGISTRY

    import tables as gen

    chk = strict()
    spark = sess.start()
    pins = {}
    for seed in range(args.seed, args.seed + args.pin_count):
        data = os.path.join(work, f"data{seed}")
        gen.generate(data, seed, SMOKE_SCALE if args.smoke else SCALE)
        con = oracle(chk, data)
        pins[str(seed)] = {}
        for name in OPERATORS:
            got, fails = verify(chk, con, name, spark_result(chk, REGISTRY[name][0](spark, data)))
            if fails:
                raise RuntimeError(f"seed {seed}: {fails}")
            pins[str(seed)][name] = got
        con.close()
    return pins


def run(sess, args, work: str, out: dict, trace: bool) -> None:
    from webcrawler_spark.queries import REGISTRY

    import tables as gen

    ops = OPERATORS
    data = os.path.join(work, "data")
    t0 = time.time()
    rows = gen.generate(data, args.seed, SMOKE_SCALE if args.smoke else SCALE)
    out["details"]["input_gen_s"] = time.time() - t0
    out["details"]["table_rows"] = rows

    # set-up: the product session (each operator binds its own tables)
    setup = []
    for rep in range(SETUP_REPS):
        t0 = time.time()
        spark = sess.start()
        setup.append(time.time() - t0)
        if rep < SETUP_REPS - 1:
            sess.stop()
    out["setup"] = setup

    def execute(name):
        REGISTRY[name][0](spark, data).write.format("noop").mode("overwrite").save()

    # cold: each operator's first execution, collected to the driver; the
    # collected rows are what the output check reads
    chk = strict()
    cold, warm, results = {}, {n: [] for n in ops}, {}
    for name in ops:
        t0 = time.time()
        results[name] = spark_result(chk, REGISTRY[name][0](spark, data))
        cold[name] = time.time() - t0
    # warm: passes over every operator until --seconds is spent, at least
    # one; each operator's warm time is the median of its passes. Traced
    # runs read the status store after every pass, outside the windows
    stage_log = StageLog(spark) if trace else None
    passes, windows = [], []
    clock0 = cpu_clock()
    t_start = time.time()
    while not passes or time.time() - t_start < args.seconds:
        p0 = time.time()
        for name in ops:
            t0 = time.time()
            execute(name)
            warm[name].append(time.time() - t0)
        passes.append(time.time() - p0)
        windows.append((p0, time.time()))
        if stage_log is not None:
            stage_log.snapshot()
    warm_s = sum(passes)
    out["details"]["cpu_s"], out["details"]["steal_s"] = (
        b - a for a, b in zip(clock0, cpu_clock()))

    # correctness (untimed): the cold results against the DuckDB oracle
    # with the strict comparator, and against the pin
    t0 = time.time()
    con = oracle(chk, data)
    hashes = {}
    for name in ops:
        hashes[name], fails = verify(chk, con, name, results[name], out["pins"].get(name))
        out["failures"] += fails
    con.close()
    out["details"]["check_s"] = time.time() - t0
    out["attempted"] += len(ops) * (2 + len(passes))
    out["digests"] = hashes

    per_op = {n: median(v) for n, v in warm.items()}
    pass_s = sum(per_op.values())
    out["metrics"] = {"items_per_s": len(ops) * len(passes) / warm_s, "pass_s": pass_s}
    out["details"].update({
        "operators": len(ops), "warm_passes": len(passes),
        "cold_s": cold, "warm_s": warm, "passes_s": passes,
    })
    layer = out["layers"]
    layer["queries.cold_pass_s"] = sum(cold.values())
    layer["queries.op_ms_p50"] = median(per_op.values()) * 1000.0
    for name in ops:
        layer[f"queries.{name}.cold_s"] = cold[name]
        layer[f"queries.{name}.warm_s"] = per_op[name]
    if stage_log is None:
        return
    tot = stage_log.totals(windows)
    k = len(windows)
    layer["queries.executor_cpu_s"] = tot["cpu_s"] / k
    layer["queries.shuffle_mb"] = tot["shuffle_mb"] / k
    layer["queries.spill_mb"] = tot["spill_mb"] / k
    layer["queries.gc_s"] = tot["gc_s"] / k
    layer["queries.stages_per_pass"] = tot["stages"] / k
    layer["trace.counter_s"] = stage_log.cost_s
    layer["trace.overhead_frac"] = stage_log.cost_s / (time.time() - t_start)
    layer["trace.pass_s"] = pass_s
