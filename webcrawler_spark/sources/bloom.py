"""Partitioned Bloom filter for the URL-seen membership check (north rule:
"partitioned bloom/cuckoo URL-seen filter keyed on canonicalized URL
hashes"; replaces the reference's unbounded in-heap Set[String],
Gather.scala:126,176-177 — the 10^10 blocker).

Design for 10^10 URLs:
- key = xxhash64(canonical url) (JVM-side, functions/udfs.with_url_hash);
- the filter is PARTITIONED: bucket = key mod n_buckets; each bucket owns
  an independent (bits, k) Bloom array, so build parallelizes per bucket
  and a bucket's bitmap stays cache-sized. At 10^10 keys / 1% fpp the
  total bitmap is ~12 GB — sharded across executors as a map-side
  broadcast per bucket range; in this sandbox it is a driver dict of
  numpy arrays broadcast whole.
- build = groupBy(bucket) applyInPandas -> per-bucket OR-reduced bitmaps;
  incremental adds OR new-wave bitmaps into the existing buckets
  (bitwise-idempotent, associative — safe under retries);
- query = vectorized pandas UDF: definitely-new rows skip the exact
  anti-join entirely; "maybe" rows fall through to the exact check
  (bloom guarantees no false negatives, so no correctness risk).

Double hashing (Kirsch-Mitzenheimer): h_i = h1 + i*h2 over the 128 bits
of two xxhash64 salts — standard Bloom construction.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _salted(col: str, salt: int):
    return F.xxhash64(F.col(col), F.lit(salt))


class PartitionedBloom:
    def __init__(self, n_buckets: int = 64, bits_per_bucket: int = 1 << 20, k: int = 5):
        # power-of-two bucket count and bit width: Spark's signed pmod and
        # numpy's unsigned modulo agree exactly when the modulus divides 2^64
        assert n_buckets & (n_buckets - 1) == 0
        assert bits_per_bucket & (bits_per_bucket - 1) == 0
        self.n_buckets = n_buckets
        self.m = bits_per_bucket  # bits per bucket
        self.k = k
        self.buckets: dict[int, np.ndarray] = {}  # bucket -> uint8 bitmap

    # -- build -----------------------------------------------------------
    def add_df(self, df: DataFrame, col: str = "url"):
        """OR the keys of ``df[col]`` into the filter. Bitmaps are built
        per-bucket in parallel (applyInPandas), only the compact bitmaps
        come back to the driver."""
        m, k, nb = self.m, self.k, self.n_buckets
        keyed = df.select(
            _salted(col, 0xB10).alias("h1"), _salted(col, 0xF17).alias("h2")
        ).withColumn("bucket", F.pmod(F.col("h1"), F.lit(nb)).cast("int"))

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            bm = np.zeros(m // 8, dtype=np.uint8)
            h1 = pdf["h1"].to_numpy(dtype=np.uint64)
            h2 = pdf["h2"].to_numpy(dtype=np.uint64)
            for i in range(k):
                idx = (h1 + np.uint64(i) * h2) % np.uint64(m)
                np.bitwise_or.at(bm, (idx >> np.uint64(3)).astype(np.int64),
                                 (1 << (idx & np.uint64(7))).astype(np.uint8))
            return pd.DataFrame(
                {"bucket": [int(pdf["bucket"].iloc[0])], "bitmap": [bm.tobytes()]}
            )

        rows = (
            keyed.groupBy("bucket")
            .applyInPandas(build, "bucket int, bitmap binary")
            .collect()
        )
        for r in rows:
            bm = np.frombuffer(r["bitmap"], dtype=np.uint8)
            b = r["bucket"]
            if b in self.buckets:
                self.buckets[b] = self.buckets[b] | bm
            else:
                self.buckets[b] = bm.copy()

    # -- query -----------------------------------------------------------
    def might_contain_udf(self, spark):
        """Vectorized membership probe; True = possibly seen, False =
        definitely new."""
        from pyspark.sql.functions import pandas_udf

        m, k, nb = self.m, self.k, self.n_buckets
        # ship bitmaps via Spark broadcast (one copy per executor, not task)
        bc = spark.sparkContext.broadcast(
            {b: bm.tobytes() for b, bm in self.buckets.items()}
        )

        @pandas_udf("boolean")
        def probe(h1s: pd.Series, h2s: pd.Series) -> pd.Series:
            buckets = {b: np.frombuffer(v, dtype=np.uint8) for b, v in bc.value.items()}
            h1 = h1s.to_numpy(dtype=np.uint64)
            h2 = h2s.to_numpy(dtype=np.uint64)
            bkt = (h1 % np.uint64(nb)).astype(np.int64)
            out = np.ones(len(h1), dtype=bool)
            # vectorized per bucket group: fancy-index each bucket's bitmap
            # for all k probe positions of the rows in that bucket
            grouped: dict[int, np.ndarray] = {}
            for b in np.unique(bkt):
                grouped[int(b)] = np.nonzero(bkt == b)[0]
            for b, rows_idx in grouped.items():
                bm = buckets.get(b)
                if bm is None:
                    out[rows_idx] = False
                    continue
                hit = np.ones(len(rows_idx), dtype=bool)
                g1, g2 = h1[rows_idx], h2[rows_idx]
                for i in range(k):
                    idx = (g1 + np.uint64(i) * g2) % np.uint64(m)
                    byte_i = (idx >> np.uint64(3)).astype(np.int64)
                    mask = (1 << (idx & np.uint64(7))).astype(np.uint8)
                    hit &= (bm[byte_i] & mask) != 0
                out[rows_idx] = hit
            return pd.Series(out)

        return probe

    def prefilter(self, candidates: DataFrame, seen: DataFrame, col: str = "url") -> DataFrame:
        """The scale-path seen filter: bloom-reject definitely-new rows
        map-side; only 'maybe seen' rows take the exact anti-join
        (candidates ∖ seen, exact — bloom has no false negatives)."""
        spark = candidates.sparkSession
        probe = self.might_contain_udf(spark)
        tagged = candidates.withColumn(
            "_maybe", probe(_salted(col, 0xB10), _salted(col, 0xF17))
        )
        definitely_new = tagged.filter(~F.col("_maybe")).drop("_maybe")
        maybe = tagged.filter(F.col("_maybe")).drop("_maybe")
        checked = maybe.join(seen, col, "left_anti")
        return definitely_new.unionByName(checked)

    # -- introspection ---------------------------------------------------
    @property
    def total_bits_set(self) -> int:
        return int(sum(np.unpackbits(bm).sum() for bm in self.buckets.values()))

    def fpp_estimate(self) -> float:
        """Expected false-positive probability from actual fill ratio."""
        if not self.buckets:
            return 0.0
        fill = self.total_bits_set / (len(self.buckets) * self.m)
        return float(fill**self.k)
