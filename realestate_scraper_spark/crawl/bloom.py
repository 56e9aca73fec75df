"""Sharded Bloom filter for URL-seen dedup at 10^10-frontier scale.

The O1 operator (SURVEY.md §4): dedupe-before-fetch. The reference holds a
Python ``set`` of normalized URLs in memory (scrapper/core/dedup.py:16-33) —
fine for 10^3 URLs, impossible for 10^10. Design here (north_rule:
"broadcast-partitioned Bloom filter … over canonicalized+murmur3-hashed
URLs"):

- one Bloom shard per ``domain_salt`` partition key. At 10^10 keys / 1% fpp
  the monolithic filter is ~12 GB — unshippable; sharded across ~1024
  domain-salt keys each shard is ~12 MB, and a fetch partition only ever
  consults its *own* shard (frontier is hash-partitioned by the same key), so
  the executor-resident working set stays tiny.
- ``build`` is the one way a filter comes to exist, and it runs
  distributed (``groupBy(shard).applyInPandas`` — each group builds its
  bitmap JVM→Arrow→numpy). The engine builds its filter from the seen
  store on first use and drops it whenever the store grows; eviction
  rebuilds only the shards that lost keys.
- **false positives never drop URLs**: ``filter_maybe_seen`` only ever
  admits "definitely-new" rows without the exact check; "maybe-seen" rows
  go through the exact anti-join (crawl/frontier.py). The crawl round loop
  sends every candidate through the exact check, so it never reads the
  filter.
- nothing is snapshotted: the durable seen store is the checkpointed state
  (north_rule: "resumable from checkpoint"), and the filter is rebuilt from
  it on demand after a resume.

A cuckoo-filter variant (deletable entries, for frontier eviction) is in
crawl/cuckoo.py with the same interface.

Double hashing: g_i(x) = h1 + i*h2 (mod m) with h1/h2 = low/high halves of
xxhash64(url_canon) — the standard Kirsch–Mitzenmacher construction.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _params(expected_n: int, fpp: float) -> tuple[int, int]:
    """(m bits, k hashes) for n keys at target fpp."""
    n = max(expected_n, 16)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(256, (m + 63) // 64 * 64)  # round to whole uint64 words
    k = max(1, int(round(m / n * math.log(2))))
    return m, min(k, 16)


def _positions(h64: np.ndarray, m: int, k: int) -> np.ndarray:
    """(len(h64), k) bit positions via double hashing; h64 is int64."""
    u = h64.astype(np.uint64)
    h1 = u & np.uint64(0xFFFFFFFF)
    h2 = (u >> np.uint64(32)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m)).astype(np.int64)


class BloomShard:
    __slots__ = ("m", "k", "bits")

    def __init__(self, m: int, k: int, bits: np.ndarray | None = None):
        self.m, self.k = m, k
        self.bits = bits if bits is not None else np.zeros(m // 64, dtype=np.uint64)

    def add_hashes(self, h64: np.ndarray) -> None:
        if len(h64) == 0:
            return
        pos = _positions(np.asarray(h64, dtype=np.int64), self.m, self.k).ravel()
        np.bitwise_or.at(self.bits, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64))

    def maybe_contains(self, h64: np.ndarray) -> np.ndarray:
        if len(h64) == 0:
            return np.zeros(0, dtype=bool)
        pos = _positions(np.asarray(h64, dtype=np.int64), self.m, self.k)
        word = self.bits[pos >> 6]
        bit = (word >> (pos & 63).astype(np.uint64)) & np.uint64(1)
        return bit.all(axis=1).astype(bool)


class ShardedBloom:
    """dict[domain_salt → BloomShard] with build / test."""

    def __init__(self, shards: dict[str, BloomShard] | None = None,
                 expected_per_shard: int = 1 << 16, fpp: float = 0.01):
        self.shards: dict[str, BloomShard] = shards or {}
        self.expected_per_shard = expected_per_shard
        self.fpp = fpp

    # ---------------------------------------------------------------- build
    @classmethod
    def build(
        cls,
        df: DataFrame,
        key_col: str = "url_hash64",
        shard_col: str = "domain_salt",
        expected_per_shard: int = 1 << 16,
        fpp: float = 0.01,
    ) -> "ShardedBloom":
        """Build shard bitmaps distributed: one Arrow group per shard."""
        m, k = _params(expected_per_shard, fpp)

        def _build(pdf: pd.DataFrame) -> pd.DataFrame:
            shard = BloomShard(m, k)
            shard.add_hashes(pdf[key_col].to_numpy())
            return pd.DataFrame(
                {
                    "shard": [pdf[shard_col].iloc[0]],
                    "bits": [shard.bits.tobytes()],
                    "n": [len(pdf)],
                }
            )

        rows = (
            df.select(shard_col, key_col)
            .groupBy(shard_col)
            .applyInPandas(_build, schema="shard string, bits binary, n long")
            .collect()
        )
        shards = {
            r["shard"]: BloomShard(m, k, np.frombuffer(bytes(r["bits"]), dtype=np.uint64).copy())
            for r in rows
        }
        return cls(shards, expected_per_shard, fpp)

    # ----------------------------------------------------------------- test
    def filter_maybe_seen(
        self,
        df: DataFrame,
        key_col: str = "url_hash64",
        shard_col: str = "domain_salt",
        out_col: str = "maybe_seen",
    ) -> DataFrame:
        """Attach ``maybe_seen`` via a broadcast of the shard bitmaps.

        Arrow-vectorized membership test; rows whose shard has no filter yet
        are definitely-new.
        """
        spark = df.sparkSession
        payload = {key: (s.m, s.k, s.bits.tobytes()) for key, s in self.shards.items()}
        bc = spark.sparkContext.broadcast(payload)

        @F.pandas_udf("boolean")
        def _maybe(h64: pd.Series, shard: pd.Series) -> pd.Series:
            local: dict[str, BloomShard] = {}
            out = np.zeros(len(h64), dtype=bool)
            hv = h64.to_numpy()
            sv = shard.to_numpy()
            for key in pd.unique(sv):
                blob = bc.value.get(key)
                if blob is None:
                    continue
                if key not in local:
                    m, k, bits = blob
                    local[key] = BloomShard(m, k, np.frombuffer(bits, dtype=np.uint64))
                mask = sv == key
                out[mask] = local[key].maybe_contains(hv[mask])
            return pd.Series(out)

        return df.withColumn(out_col, _maybe(F.col(key_col), F.col(shard_col)))
