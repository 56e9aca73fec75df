"""Cuckoo filter — the deletable fallback to the Bloom filter (north_rule:
"bloom/cuckoo URL-seen ... cuckoo-filter fallback for deletable entries").

Consumer: the frontier-eviction path (``CrawlEngine.evict_seen``, re-crawl-
after-TTL): a DONE offer URL older than the TTL is removed from the durable
seen store AND, when one has been built, from the in-memory prefilter, so
the next listing sweep that links it re-admits it as a fresh PENDING row. A
Bloom filter cannot delete; a cuckoo filter can — ``CrawlEngine(...,
prefilter="cuckoo")`` swaps :class:`ShardedCuckoo` in for ``ShardedBloom``
with the same interface. Like the Bloom, it is built from the seen store on
first use and never snapshotted.

(2,4)-cuckoo filter with 16-bit **reference-counted** fingerprints over
numpy: fingerprint f = 16 low bits of the key (never 0); bucket
i1 = h mod nb, i2 = i1 XOR (fp * 0x5bd1e995) mod nb.

Why refcounts: an anti-join gated by the prefilter
(crawl/frontier.anti_join_seen with a filter) admits ``maybe_seen = false``
rows WITHOUT an exact store check — sound only if the prefilter can never
read false-negative for an inserted key. Two
distinct URLs can collide on the same (bucket-pair, fingerprint); a plain
cuckoo delete of one would erase the shared entry and turn the other URL
into a false negative → duplicate fetch. Here each (bucket, fp) slot
carries a count: colliding inserts increment it, deletes decrement it, and
the entry disappears only at zero — multiset semantics, so an inserted key
stays present until *it* is deleted. The second protection layer lives in
``CrawlEngine.evict_seen``: only keys the durable store ACTUALLY deleted
are forwarded to ``delete_df``, so a double-eviction can never decrement a
count that was not incremented.

Capacity is a hard invariant, not best-effort: the insert path
(``ShardedCuckoo.build``) RAISES on an unplaceable fingerprint instead of
silently dropping it (a dropped fingerprint is a future false negative).
Size shards via ``expected_per_shard`` (exposed as ``CrawlEngine(
prefilter_expected_per_shard=...)``) above the per-shard key volume.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_FP_SEED = np.uint64(0x5BD1E995)
SLOTS = 4
MAX_KICKS = 500
_COUNT_MAX = np.uint16(0xFFFF)


class CuckooFilter:
    def __init__(self, capacity: int):
        nb = 1
        while nb * SLOTS < capacity * 1.25:
            nb <<= 1
        self.nb = nb
        self.table = np.zeros((nb, SLOTS), dtype=np.uint16)
        # per-slot reference count (0 iff the slot is empty); colliding
        # (bucket-pair, fp) inserts merge into one slot + count
        self.counts = np.zeros((nb, SLOTS), dtype=np.uint16)
        self._rng = np.random.default_rng(0xC0FFEE)

    # ----------------------------------------------------------- internals
    def _fp(self, h64: np.ndarray) -> np.ndarray:
        fp = (h64.astype(np.uint64) & np.uint64(0xFFFF)).astype(np.uint16)
        fp[fp == 0] = 1
        return fp

    def _i1(self, h64: np.ndarray) -> np.ndarray:
        return ((h64.astype(np.uint64) >> np.uint64(16)) % np.uint64(self.nb)).astype(
            np.int64
        )

    def _i2(self, i1: np.ndarray, fp: np.ndarray) -> np.ndarray:
        return (
            (i1.astype(np.uint64) ^ (fp.astype(np.uint64) * _FP_SEED))
            % np.uint64(self.nb)
        ).astype(np.int64)

    def _alt(self, i: int, fp: int) -> int:
        return int(
            (np.uint64(i) ^ (np.uint64(fp) * _FP_SEED)) % np.uint64(self.nb)
        )

    def _bump(self, i: int, slot: int, count: int) -> None:
        # saturating add — a saturated count never decrements back to zero
        # (sticky-seen is the safe failure direction; 65535 colliding live
        # keys on one (bucket, fp) is unreachable in practice)
        c = int(self.counts[i, slot]) + count
        self.counts[i, slot] = min(c, int(_COUNT_MAX))

    # ------------------------------------------------------------------ api
    def insert_fp(self, i1: int, fp: int) -> bool:
        """Insert a fingerprint given EITHER of its buckets (the cuckoo
        partial-key property: the alternate is i ^ h(fp)), so kicked
        fingerprints move without their original keys. An existing
        (bucket-pair, fp) entry absorbs the insert as a count increment."""
        i2 = self._alt(i1, fp)
        for i in (i1, i2):
            row = self.table[i]
            same = np.where((row == fp) & (self.counts[i] > 0))[0]
            if len(same):
                self._bump(i, int(same[0]), 1)
                return True
        for i in (i1, i2):
            row = self.table[i]
            empty = np.where(self.counts[i] == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                self.counts[i, empty[0]] = 1
                return True
        # cuckoo kicks — displaced (fp, count) pairs move together
        i = i1 if self._rng.integers(2) else i2
        cur_fp, cur_cnt = fp, 1
        for _ in range(MAX_KICKS):
            slot = int(self._rng.integers(SLOTS))
            cur_fp, self.table[i, slot] = int(self.table[i, slot]), cur_fp
            cur_cnt, self.counts[i, slot] = int(self.counts[i, slot]), cur_cnt
            i = self._alt(i, cur_fp)
            same = np.where((self.table[i] == cur_fp) & (self.counts[i] > 0))[0]
            if len(same):
                self._bump(i, int(same[0]), cur_cnt)
                return True
            empty = np.where(self.counts[i] == 0)[0]
            if len(empty):
                self.table[i, empty[0]] = cur_fp
                self.counts[i, empty[0]] = cur_cnt
                return True
        return False  # table full — caller must raise/rebuild, never drop

    def insert(self, h64: int) -> bool:
        arr = np.array([h64], dtype=np.int64)
        return self.insert_fp(int(self._i1(arr)[0]), int(self._fp(arr)[0]))

    def add_hashes(self, h64: np.ndarray) -> int:
        """Bulk insert; returns the number that could NOT be placed (0 when
        the table was sized for the load — callers treat >0 as fatal).

        Vectorized empty-slot placement: each pass picks every pending
        key's first bucket with a free slot, ranks keys that chose the same
        bucket, and scatters the ones whose rank fits into that bucket's
        free slots (slot = the (rank+1)-th zero-count position, so deletion
        holes are reused); the rest retry against the updated occupancy.
        Keys still unplaced after the fast passes (near-full table) go
        through the per-key kick path. Intra-batch (bucket, fp) collisions
        take separate slots rather than merging counts — deletion handles
        either representation (each entry absorbs one decrement)."""
        arr = np.asarray(h64, dtype=np.int64)
        if len(arr) == 0:
            return 0
        fps = self._fp(arr)
        i1s = self._i1(arr)
        i2s = self._i2(i1s, fps)
        pending = np.arange(len(arr))
        for _ in range(8):
            if len(pending) == 0:
                return 0
            b1, b2 = i1s[pending], i2s[pending]
            free1 = (self.counts[b1] == 0).sum(axis=1)
            pick = np.where(free1 > 0, b1, b2)
            order = np.argsort(pick, kind="stable")
            sp = pick[order]
            # rank within each same-bucket run
            starts = np.r_[True, sp[1:] != sp[:-1]]
            run_start = np.maximum.accumulate(
                np.where(starts, np.arange(len(sp)), 0)
            )
            rank = np.arange(len(sp)) - run_start
            free = self.counts[sp] == 0  # (m, SLOTS) pre-pass state
            nfree = free.sum(axis=1)
            fits = rank < nfree
            if not fits.any():
                break
            cs = np.cumsum(free, axis=1)
            slot = np.argmax((cs == (rank + 1)[:, None]) & free, axis=1)
            sel = order[fits]  # positions within `pending`
            self.table[sp[fits], slot[fits]] = fps[pending[sel]]
            self.counts[sp[fits], slot[fits]] = 1
            keep = np.ones(len(pending), dtype=bool)
            keep[sel] = False
            pending = pending[keep]
        # near-full table: per-key cuckoo kicks for the stragglers
        return sum(
            0 if self.insert_fp(int(i1s[j]), int(fps[j])) else 1
            for j in pending
        )

    def delete_hashes(self, h64: np.ndarray) -> int:
        """Vectorized bulk delete: resolve every key's (bucket, slot) target
        in one numpy pass, scatter-add the decrements (``np.add.at`` — keys
        sharing a slot aggregate), clip at the live counts, and free slots
        that reach zero. Semantics match per-key deletion except in one
        pathological case — MORE colliding keys in a single batch than the
        slot's count — where the surplus keys are not re-tried against the
        alternate bucket; the clip guarantees the safe direction (never
        remove more than was inserted: a leftover fingerprint is a false
        positive, routed to the exact join; never a false negative)."""
        arr = np.asarray(h64, dtype=np.int64)
        if len(arr) == 0:
            return 0
        fp = self._fp(arr)
        i1 = self._i1(arr)
        i2 = self._i2(i1, fp)
        m1 = (self.table[i1] == fp[:, None]) & (self.counts[i1] > 0)
        has1 = m1.any(axis=1)
        s1 = m1.argmax(axis=1)
        m2 = (self.table[i2] == fp[:, None]) & (self.counts[i2] > 0)
        has2 = (~has1) & m2.any(axis=1)
        s2 = m2.argmax(axis=1)
        bi = np.concatenate([i1[has1], i2[has2]])
        si = np.concatenate([s1[has1], s2[has2]])
        dec = np.zeros(self.counts.shape, dtype=np.int64)
        np.add.at(dec, (bi, si), 1)
        applied = np.minimum(dec, self.counts.astype(np.int64))
        removed = int(applied.sum())
        self.counts = (self.counts.astype(np.int64) - applied).astype(np.uint16)
        self.table[self.counts == 0] = 0
        return removed

    def delete(self, h64: int) -> bool:
        """Decrement the key's (bucket, fp) count; the entry is freed only
        at zero, so colliding keys that were inserted stay present."""
        arr = np.array([h64], dtype=np.int64)
        fp = int(self._fp(arr)[0])
        i1 = int(self._i1(arr)[0])
        i2 = int(self._i2(np.array([i1]), np.array([fp], dtype=np.uint16))[0])
        for i in (i1, i2):
            hits = np.where((self.table[i] == fp) & (self.counts[i] > 0))[0]
            if len(hits):
                s = int(hits[0])
                self.counts[i, s] -= 1
                if self.counts[i, s] == 0:
                    self.table[i, s] = 0
                return True
        return False

    def maybe_contains(self, h64: np.ndarray) -> np.ndarray:
        # fp table alone decides membership: fps are never 0 and a slot is
        # zeroed the moment its count reaches 0, so table != 0 ⟺ live entry
        # (lets filter_maybe_seen broadcast tables without count arrays)
        arr = np.asarray(h64, dtype=np.int64)
        if len(arr) == 0:
            return np.zeros(0, dtype=bool)
        fp = self._fp(arr)
        i1 = self._i1(arr)
        i2 = self._i2(i1, fp)
        in1 = (self.table[i1] == fp[:, None]).any(axis=1)
        in2 = (self.table[i2] == fp[:, None]).any(axis=1)
        return in1 | in2


def _from_blobs(nb: int, table: bytes, counts: bytes) -> CuckooFilter:
    """A writable filter from its (nb, table, counts) blobs."""
    f = CuckooFilter(1)
    f.nb = int(nb)
    f.table = np.frombuffer(table, dtype=np.uint16).reshape(int(nb), SLOTS).copy()
    f.counts = np.frombuffer(counts, dtype=np.uint16).reshape(int(nb), SLOTS).copy()
    return f


class ShardedCuckoo:
    """dict[domain_salt → CuckooFilter] — the deletable twin of
    bloom.ShardedBloom, duck-type compatible with it (build /
    filter_maybe_seen) plus ``delete_df`` for the eviction path.

    All shards share one table size (derived from ``expected_per_shard``).
    ``fpp`` is accepted for interface parity; the (2,4)-cuckoo
    false-positive rate is ≈ 2·SLOTS/2^16 ≈ 0.012 %, far below the Bloom's
    1 % default.
    """

    def __init__(
        self,
        shards: dict[str, CuckooFilter] | None = None,
        expected_per_shard: int = 1 << 16,
        fpp: float = 0.01,
    ):
        self.shards: dict[str, CuckooFilter] = shards or {}
        self.expected_per_shard = expected_per_shard
        self.fpp = fpp

    # ---------------------------------------------------------------- build
    @classmethod
    def build(
        cls,
        df,
        key_col: str = "url_hash64",
        shard_col: str = "domain_salt",
        expected_per_shard: int = 1 << 16,
        fpp: float = 0.01,
    ) -> "ShardedCuckoo":
        """Build shard tables distributed: one Arrow group per shard (the
        ShardedBloom.build shape); tables come back as ~KB binary blobs."""
        cap = expected_per_shard

        def _build(pdf: pd.DataFrame) -> pd.DataFrame:
            f = CuckooFilter(cap)
            fails = f.add_hashes(pdf[key_col].to_numpy())
            return pd.DataFrame(
                {
                    "shard": [pdf[shard_col].iloc[0]],
                    "table": [f.table.tobytes()],
                    "counts": [f.counts.tobytes()],
                    "nb": [f.nb],
                    "fails": [fails],
                }
            )

        rows = (
            df.select(shard_col, key_col)
            .groupBy(shard_col)
            .applyInPandas(
                _build,
                schema="shard string, table binary, counts binary, nb long, fails long",
            )
            .collect()
        )
        overflow = sum(r["fails"] for r in rows)
        if overflow:
            raise RuntimeError(
                f"cuckoo shard overflow ({overflow} keys unplaced): raise "
                "expected_per_shard above the per-shard key volume"
            )
        shards = {
            r["shard"]: _from_blobs(r["nb"], bytes(r["table"]), bytes(r["counts"]))
            for r in rows
        }
        return cls(shards, expected_per_shard, fpp)

    # ----------------------------------------------------------------- test
    def filter_maybe_seen(
        self,
        df,
        key_col: str = "url_hash64",
        shard_col: str = "domain_salt",
        out_col: str = "maybe_seen",
    ):
        """Attach ``maybe_seen`` via a broadcast of the shard tables —
        identical plan shape to ShardedBloom.filter_maybe_seen (narrow Arrow
        pandas UDF, no shuffle). Membership needs only the fp tables (a
        slot's fp is nonzero iff its count is — deletion zeroes freed
        slots), so the refcount arrays stay out of the broadcast."""
        from pyspark.sql import functions as F

        spark = df.sparkSession
        payload = {
            k: (f.nb, f.table.tobytes()) for k, f in self.shards.items()
        }
        bc = spark.sparkContext.broadcast(payload)

        @F.pandas_udf("boolean")
        def _maybe(h64: pd.Series, shard: pd.Series) -> pd.Series:
            local: dict[str, CuckooFilter] = {}
            out = np.zeros(len(h64), dtype=bool)
            hv = h64.to_numpy()
            sv = shard.to_numpy()
            for key in pd.unique(sv):
                blob = bc.value.get(key)
                if blob is None:
                    continue
                if key not in local:
                    nb, table = blob
                    f = CuckooFilter(1)
                    f.nb = int(nb)
                    f.table = np.frombuffer(table, dtype=np.uint16).reshape(
                        int(nb), SLOTS
                    )
                    local[key] = f
                mask = sv == key
                out[mask] = local[key].maybe_contains(hv[mask])
            return pd.Series(out)

        return df.withColumn(out_col, _maybe(F.col(key_col), F.col(shard_col)))

    # --------------------------------------------------------------- delete
    def delete_df(
        self,
        df,
        key_col: str = "url_hash64",
        shard_col: str = "domain_salt",
        shard_keys: list | None = None,
    ) -> int:
        """Remove the rows' fingerprints from their shards, DISTRIBUTED:
        the AFFECTED shard tables broadcast out, the eviction set groups into
        one Arrow batch per shard (the exact mirror of :meth:`build`), each
        task vector-deletes its group's keys against its shard table, and
        only the updated ~KB (table, counts) blobs come back — the driver
        collects O(affected shards) blobs, never O(evicted) rows.

        ``shard_keys`` (the distinct shards in ``df``) bounds the broadcast:
        a TTL eviction usually touches a few shards of a large filter, and
        untouched shards have nothing to delete — shipping them would make
        the broadcast O(total filter) instead of O(affected shards). When
        the caller has not already computed the set (the engine has, from
        its affected-shards stats), one O(shards) metadata collect derives
        it here. Returns the number of entries removed."""
        if not self.shards:
            return 0
        spark = df.sparkSession
        if shard_keys is None:
            shard_keys = [
                r[0] for r in df.select(shard_col).distinct().collect()
            ]
        payload = {
            k: (f.nb, f.table.tobytes(), f.counts.tobytes())
            for k, f in ((k, self.shards.get(k)) for k in shard_keys)
            if f is not None
        }
        if not payload:
            return 0
        bc = spark.sparkContext.broadcast(payload)

        def _delete(pdf: pd.DataFrame) -> pd.DataFrame:
            key = pdf[shard_col].iloc[0]
            blob = bc.value.get(key)
            if blob is None:
                return pd.DataFrame(
                    {"shard": [], "table": [], "counts": [], "nb": [], "removed": []}
                )
            f = _from_blobs(*blob)
            removed = f.delete_hashes(np.unique(pdf[key_col].to_numpy()))
            return pd.DataFrame(
                {
                    "shard": [key],
                    "table": [f.table.tobytes()],
                    "counts": [f.counts.tobytes()],
                    "nb": [f.nb],
                    "removed": [removed],
                }
            )

        rows = (
            df.select(shard_col, key_col)
            .groupBy(shard_col)
            .applyInPandas(
                _delete,
                schema="shard string, table binary, counts binary, nb long, removed long",
            )
            .collect()
        )
        removed = 0
        for r in rows:
            self.shards[r["shard"]] = _from_blobs(
                r["nb"], bytes(r["table"]), bytes(r["counts"])
            )
            removed += int(r["removed"])
        bc.unpersist()
        return removed
