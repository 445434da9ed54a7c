"""Dtype-strict local stand-in for the driver's correctness gate.

It replaced a lenient comparator (since deleted) that let round-3's two
oracle dtype bugs ship. It is:

* **Type-strict**: every output column's type must match between Spark and
  DuckDB at exact width (int32 vs int64, float32 vs float64, decimal(p,s)).
  DuckDB HUGEINT surfaces as decimal(38,0) via Arrow and is therefore a
  hard FAIL against a Spark bigint — the exact divergence class that made
  the driver's dtype-sensitive value hash fail ``sessionize``/``lsh_eval``
  in CORRECTNESS_r03 while the lenient checker said PASS.
* **Value-exact**: no 6-dp rounding, no stringify-and-forgive. Floats are
  compared by exact ``repr`` (catches last-ulp divergence a hash would),
  integers/strings/bools exactly, Decimals as Decimals (so a DECIMAL
  oracle column against a double Spark column fails), timestamps at
  microsecond resolution, arrays recursively.

Usage: python scripts/check_oracle_strict.py [sf_dir] [name ...]
       python scripts/check_oracle_strict.py /root/testdata/sf0.01 --shard 0/4
       python scripts/check_oracle_strict.py /root/testdata/sf0.1 --headline --shard 0/4
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


# --------------------------------------------------------------------------
# canonical type names — shared namespace for Spark schema and Arrow schema
# --------------------------------------------------------------------------

def spark_type_canon(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, T.LongType):
        return "int64"
    if isinstance(dt, T.IntegerType):
        return "int32"
    if isinstance(dt, T.ShortType):
        return "int16"
    if isinstance(dt, T.ByteType):
        return "int8"
    if isinstance(dt, T.DoubleType):
        return "float64"
    if isinstance(dt, T.FloatType):
        return "float32"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, T.ArrayType):
        return f"list<{spark_type_canon(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return (
            f"map<{spark_type_canon(dt.keyType)},"
            f"{spark_type_canon(dt.valueType)}>"
        )
    if isinstance(dt, T.StructType):
        inner = ",".join(spark_type_canon(f.dataType) for f in dt.fields)
        return f"struct<{inner}>"
    return f"spark:{dt.simpleString()}"


def arrow_type_canon(t: pa.DataType) -> str:
    if pa.types.is_int64(t):
        return "int64"
    if pa.types.is_int32(t):
        return "int32"
    if pa.types.is_int16(t):
        return "int16"
    if pa.types.is_int8(t):
        return "int8"
    if pa.types.is_uint64(t) or pa.types.is_uint32(t):
        return f"uint:{t}"
    if pa.types.is_float64(t):
        return "float64"
    if pa.types.is_float32(t):
        return "float32"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bytes"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{arrow_type_canon(t.value_type)}>"
    if pa.types.is_map(t):
        return f"map<{arrow_type_canon(t.key_type)},{arrow_type_canon(t.item_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(arrow_type_canon(f.type) for f in t)
        return f"struct<{inner}>"
    return f"arrow:{t}"


# --------------------------------------------------------------------------
# exact value canonicalization — no rounding, no cross-type forgiveness
# --------------------------------------------------------------------------

def canon_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"B:{int(v)}"
    if isinstance(v, int):
        return f"I:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "F:NaN"
        return f"F:{v!r}"
    if isinstance(v, decimal.Decimal):
        # exact: Decimal('1.50') != Decimal('1.5') textually; normalize
        return f"D:{v.normalize()}"
    if isinstance(v, str):
        return f"S:{v}"
    if isinstance(v, (bytes, bytearray)):
        return f"X:{bytes(v).hex()}"
    if isinstance(v, datetime.datetime):
        return f"T:{v.replace(tzinfo=None).isoformat(timespec='microseconds')}"
    if isinstance(v, datetime.date):
        return f"d:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "L:[" + ",".join(canon_val(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted((canon_val(k), canon_val(x)) for k, x in v.items())
        return "M:{" + ",".join(f"{k}={x}" for k, x in items) + "}"
    try:
        import numpy as np

        if isinstance(v, np.integer):
            return f"I:{int(v)}"
        if isinstance(v, np.floating):
            f = float(v)
            return "F:NaN" if math.isnan(f) else f"F:{f!r}"
        if isinstance(v, np.ndarray):
            return "L:[" + ",".join(canon_val(x) for x in v.tolist()) + "]"
    except Exception:
        pass
    return f"?:{v!r}"


def canon_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_val(r[i]) for i in order) for r in rows)


def compare(name, scols, stypes, srows, dcols, dtypes, drows):
    """Return (ok, msgs). Type canon compared per sorted column name."""
    msgs = []
    if sorted(scols) != sorted(dcols):
        return False, [f"cols spark={sorted(scols)} duck={sorted(dcols)}"]
    smap = dict(zip(scols, stypes))
    dmap = dict(zip(dcols, dtypes))
    for c in sorted(scols):
        if smap[c] != dmap[c]:
            msgs.append(f"dtype[{c}] spark={smap[c]} duck={dmap[c]}")
    if len(srows) != len(drows):
        msgs.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        return False, msgs
    cs, cd = canon_rows(srows, scols), canon_rows(drows, dcols)
    if cs != cd:
        diff = [(x, y) for x, y in zip(cs, cd) if x != y][:2]
        msgs.append(f"values differ ({sum(1 for x, y in zip(cs, cd) if x != y)} rows), first: {diff}")
    return (not msgs), msgs


def main():
    args = [a for a in sys.argv[1:]]
    shard = None
    if "--shard" in args:
        i = args.index("--shard")
        shard = args[i + 1]
        del args[i : i + 2]
    # --headline restricts the sweep to bench.HEADLINE (the ~200-query
    # bench set) BEFORE sharding — the VERDICT r4 item-3 sf0.1 sweep
    headline = "--headline" in args
    if headline:
        args.remove("--headline")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    from pyspark.sql import SparkSession

    # not webcrawler_spark.session: this stands in for the correctness
    # gate's own session (no Arrow, no coalescing), not the product's
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('CHECK_CPUS', '8')}]")
        .appName("check_oracle_strict")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = list(qs)
    if headline:
        import bench

        hl = set(bench.HEADLINE)
        names = [nm for nm in names if nm in hl]
    if shard:
        k, n = (int(x) for x in shard.split("/"))
        names = [nm for i, nm in enumerate(names) if i % n == k]
    n_pass = n_fail = 0
    failed = []
    for name in names:
        if only and name not in only:
            continue
        fn = qs[name]
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stypes = [spark_type_canon(f.dataType) for f in sdf.schema.fields]
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}", flush=True)
            n_fail += 1
            failed.append(name)
            continue
        dt_spark = time.time() - t0
        sql = oracles.get(name)
        if sql is None:
            print(
                f"PASS {name} (rows-only: {len(srows)} rows, {dt_spark:.1f}s)",
                flush=True,
            )
            n_pass += 1
            continue
        try:
            tbl = con.execute(sql).fetch_arrow_table()
            dcols = tbl.column_names
            dtypes = [arrow_type_canon(f.type) for f in tbl.schema]
            drows = list(zip(*(c.to_pylist() for c in tbl.columns))) if tbl.num_columns else []
            if tbl.num_rows and not drows:
                drows = [() for _ in range(tbl.num_rows)]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}", flush=True)
            n_fail += 1
            failed.append(name)
            continue
        ok, msgs = compare(name, scols, stypes, srows, dcols, dtypes, drows)
        if ok:
            print(f"PASS {name} ({len(srows)} rows, {dt_spark:.1f}s)", flush=True)
            n_pass += 1
        else:
            print(f"FAIL {name}: {'; '.join(msgs)[:500]}", flush=True)
            n_fail += 1
            failed.append(name)
    print(f"== {n_pass} pass, {n_fail} fail ==")
    if failed:
        print("failed: " + " ".join(failed))
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
