"""Partitioned Cuckoo filter — the deletable alternative to the bloom
prefilter for the URL-seen membership check (north rule: "partitioned
bloom/cuckoo URL-seen filter keyed on canonicalized URL hashes").

Why a cuckoo filter at all when bloom.py exists: fingerprint DELETION.
A production crawler expires seen-entries on a recrawl window ("this URL
may be fetched again after N days"); a bloom filter cannot unset bits,
so expiry forces a full rebuild — a cuckoo filter deletes the
fingerprint and keeps serving.

Sharding mirrors the bloom design: shard = xxhash64(url, salt) mod
n_shards; each shard owns an independent (m buckets x k slots) uint16
fingerprint table, built/updated one shard per task (applyInPandas, only
the compact tables reach the driver) and probed by a vectorized pandas
UDF. Standard partial-key cuckoo hashing (Fan et al., CoNLL'14 design):
fp = 16-bit nonzero fingerprint; i1 = h mod m; i2 = i1 XOR H(fp) — the
XOR trick lets either bucket derive the other from the stored
fingerprint alone, which is what makes deletion and eviction work
without the original key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_FP_SALT = 0xC0C0
_IX_SALT = 0x1D01
_MIX = np.uint64(0x5BD1E995)


def _salted(col: str, salt: int):
    return F.xxhash64(F.col(col), F.lit(salt))


def _fp_of(h1: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprint from the high bits of h1."""
    fp = ((h1 >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1
    return fp


def _alt_index(i: np.ndarray, fp: np.ndarray, m: int) -> np.ndarray:
    return (i ^ ((fp.astype(np.uint64) * _MIX) & np.uint64(m - 1))).astype(np.uint64)


class PartitionedCuckoo:
    def __init__(
        self,
        n_shards: int = 64,
        buckets_per_shard: int = 1 << 12,  # must be a power of two
        slots: int = 4,
        max_kicks: int = 500,
    ):
        assert buckets_per_shard & (buckets_per_shard - 1) == 0
        # power-of-two shard count: Spark's signed pmod and numpy's
        # unsigned % agree exactly when the modulus divides 2^64
        assert n_shards & (n_shards - 1) == 0
        self.n_shards = n_shards
        self.m = buckets_per_shard
        self.slots = slots
        self.max_kicks = max_kicks
        # shard -> (m, slots) uint16 table; 0 = empty
        self.tables: dict[int, np.ndarray] = {}
        self.n_overflow = 0  # keys that could not be placed (fall back exact)

    # -- hashing ---------------------------------------------------------
    def _keyed(self, df: DataFrame, col: str) -> DataFrame:
        return df.select(
            _salted(col, _FP_SALT).alias("h1"), _salted(col, _IX_SALT).alias("h2")
        ).withColumn("shard", F.pmod(F.col("h1"), F.lit(self.n_shards)).cast("int"))

    @staticmethod
    def _insert_batch(table: np.ndarray, fps, i1s, m, slots, max_kicks, rng) -> int:
        """Sequential cuckoo insertion with eviction; returns overflow count."""
        overflow = 0
        for fp, i1 in zip(fps, i1s):
            fp = np.uint16(fp)
            i = np.uint64(i1)
            # NO presence check: distinct keys that collide on (fp, bucket
            # pair) must EACH occupy a slot — a shared slot would let
            # delete_df remove membership for both, a false negative that
            # breaks the prefilter contract. Standard cuckoo filters store
            # duplicate fingerprints for exactly this reason; identical
            # keys are deduped per batch by the caller instead.
            j = _alt_index(np.array([i]), np.array([fp]), m)[0]
            placed = False
            for cand in (i, j):
                row = table[int(cand)]
                empty = np.where(row == 0)[0]
                if len(empty):
                    row[empty[0]] = fp
                    placed = True
                    break
            if placed:
                continue
            # eviction loop
            cur_fp, cur_i = fp, i if rng.random() < 0.5 else j
            for _ in range(max_kicks):
                row = table[int(cur_i)]
                victim_slot = rng.integers(0, slots)
                cur_fp, row[victim_slot] = row[victim_slot], cur_fp
                cur_i = _alt_index(
                    np.array([cur_i], dtype=np.uint64),
                    np.array([cur_fp], dtype=np.uint16),
                    m,
                )[0]
                row = table[int(cur_i)]
                empty = np.where(row == 0)[0]
                if len(empty):
                    row[empty[0]] = cur_fp
                    cur_fp = None
                    break
            if cur_fp is not None:
                overflow += 1  # table saturated for this key
        return overflow

    # -- build / update --------------------------------------------------
    def add_df(self, df: DataFrame, col: str = "url"):
        """Insert keys shard-parallel; existing shard tables ship to the
        tasks (broadcast) and updated tables return to the driver."""
        m, slots, kicks = self.m, self.slots, self.max_kicks
        spark = df.sparkSession
        bc = spark.sparkContext.broadcast(
            {s: t.tobytes() for s, t in self.tables.items()}
        )
        insert = PartitionedCuckoo._insert_batch

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            shard = int(pdf["shard"].iloc[0])
            prev = bc.value.get(shard)
            table = (
                np.frombuffer(prev, dtype=np.uint16).reshape(m, slots).copy()
                if prev is not None
                else np.zeros((m, slots), dtype=np.uint16)
            )
            h1 = pdf["h1"].to_numpy(dtype=np.uint64)
            h2 = pdf["h2"].to_numpy(dtype=np.uint64)
            # dedupe IDENTICAL keys within the batch (the one safe
            # idempotency — same URL listed twice); colliding distinct
            # keys are NOT deduped, see _insert_batch
            _, uniq = np.unique(np.stack([h1, h2], axis=1), axis=0, return_index=True)
            h1, h2 = h1[np.sort(uniq)], h2[np.sort(uniq)]
            fps = _fp_of(h1)
            i1s = (h2 & np.uint64(m - 1)).astype(np.uint64)
            rng = np.random.default_rng(shard)  # deterministic evictions
            overflow = insert(table, fps, i1s, m, slots, kicks, rng)
            return pd.DataFrame(
                {
                    "shard": [shard],
                    "table": [table.tobytes()],
                    "overflow": [overflow],
                }
            )

        rows = (
            self._keyed(df, col)
            .groupBy("shard")
            .applyInPandas(build, "shard int, table binary, overflow long")
            .collect()
        )
        for r in rows:
            self.tables[r["shard"]] = (
                np.frombuffer(r["table"], dtype=np.uint16).reshape(self.m, self.slots).copy()
            )
            self.n_overflow += r["overflow"]
        bc.destroy()

    def delete_df(self, df: DataFrame, col: str = "url"):
        """Remove keys (recrawl-window expiry): fingerprints are deleted
        from whichever candidate bucket holds them. Key hashes are computed
        distributed; the (small) expiry batch mutates the driver tables."""
        m = self.m
        rows = self._keyed(df, col).collect()
        for r in rows:
            t = self.tables.get(r["shard"])
            if t is None:
                continue
            # xxhash64 is signed; mask to the unsigned 64-bit value first
            h1 = np.array([r["h1"] & 0xFFFFFFFFFFFFFFFF], dtype=np.uint64)
            fp = _fp_of(h1)[0]
            i1 = np.uint64((r["h2"] & 0xFFFFFFFFFFFFFFFF) & (m - 1))
            i2 = _alt_index(np.array([i1]), np.array([fp]), m)[0]
            for i in (int(i1), int(i2)):
                hit = np.where(t[i] == fp)[0]
                if len(hit):
                    t[i][hit[0]] = 0
                    break

    # -- probe -----------------------------------------------------------
    def might_contain_udf(self, spark):
        from pyspark.sql.functions import pandas_udf

        m, slots, n_shards = self.m, self.slots, self.n_shards
        bc = spark.sparkContext.broadcast(
            {s: t.tobytes() for s, t in self.tables.items()}
        )

        @pandas_udf("boolean")
        def probe(h1s: pd.Series, h2s: pd.Series) -> pd.Series:
            tables = {
                s: np.frombuffer(v, dtype=np.uint16).reshape(m, slots)
                for s, v in bc.value.items()
            }
            h1 = h1s.to_numpy(dtype=np.uint64)
            h2 = h2s.to_numpy(dtype=np.uint64)
            shard = (h1 % np.uint64(n_shards)).astype(np.int64)
            fps = _fp_of(h1)
            i1s = (h2 & np.uint64(m - 1)).astype(np.uint64)
            i2s = _alt_index(i1s, fps, m)
            out = np.zeros(len(h1), dtype=bool)
            # vectorized per shard group: gather both candidate buckets with
            # fancy indexing, compare against the fingerprint column-wise
            for s, t in tables.items():
                idx = np.nonzero(shard == s)[0]
                if not len(idx):
                    continue
                fp_col = fps[idx][:, None]
                b1 = t[i1s[idx].astype(np.int64)]
                b2 = t[i2s[idx].astype(np.int64)]
                out[idx] = (b1 == fp_col).any(1) | (b2 == fp_col).any(1)
            return pd.Series(out)

        return probe

    def prefilter(self, candidates: DataFrame, seen: DataFrame, col: str = "url") -> DataFrame:
        """Same contract as the bloom prefilter: definitely-new rows skip
        the exact anti-join; 'maybe seen' rows take it. Overflowed keys
        never entered the table, so they probe False — but they ARE in the
        exact `seen` table; to stay correct under overflow the prefilter
        only short-circuits when no overflow occurred."""
        spark = candidates.sparkSession
        if self.n_overflow > 0:
            return candidates.join(seen, col, "left_anti")
        probe = self.might_contain_udf(spark)
        tagged = candidates.withColumn(
            "_maybe", probe(_salted(col, _FP_SALT), _salted(col, _IX_SALT))
        )
        definitely_new = tagged.filter(~F.col("_maybe")).drop("_maybe")
        maybe = tagged.filter(F.col("_maybe")).drop("_maybe")
        return definitely_new.unionByName(maybe.join(seen, col, "left_anti"))

    # -- introspection ---------------------------------------------------
    @property
    def load_factor(self) -> float:
        if not self.tables:
            return 0.0
        used = sum(int((t != 0).sum()) for t in self.tables.values())
        return used / (len(self.tables) * self.m * self.slots)
