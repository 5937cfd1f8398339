"""Cuckoo filter over the URL-seen set (the north_rule's
"bloom/cuckoo" alternative to frontier/bloom.py).

Standard partial-key cuckoo hashing (Fan et al., "Cuckoo Filter:
Practically Better Than Bloom", CoNEXT 2014): m buckets × 4 slots of
16-bit fingerprints; a key lives in bucket ``i1 = h mod m`` or its
partner ``i2 = i1 XOR (hash(fp) mod m)`` — the XOR trick makes the
partner computable from (bucket, fp) alone, enabling eviction
chains AND deletion, which a bloom filter cannot do.

Why it exists next to the bloom: same dedup contract (no false
negatives while membership is a superset; exact anti-join catches
false positives), plus O(1) DELETE — a frontier that expires or
re-crawls URLs (revalidation, recrawl-after-TTL) can remove entries
without a full rebuild.  Lookup is numpy-vectorized for the
broadcast probe; inserts are driver-side (they happen once per
committed batch on the politeness-bounded delta).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_SLOTS = 4
_MAX_KICKS = 500
_FP_MIX = np.uint64(0x5BD1E995)


class CuckooFilter:
    def __init__(self, n_buckets: int):
        # power-of-two bucket count → mod is a mask, and i1^delta
        # stays in range
        self.n_buckets = 1 << int(np.ceil(np.log2(max(n_buckets, 8))))
        self.table = np.zeros((self.n_buckets, _SLOTS), dtype=np.uint16)
        self._mask = np.uint64(self.n_buckets - 1)

    @staticmethod
    def sized_for(n_items: int, load: float = 0.84) -> "CuckooFilter":
        return CuckooFilter(max(8, int(n_items / load / _SLOTS) + 1))

    # ---- key → (fingerprint, i1, i2), all from the sha256 hex key

    def _parts_series(self, hex_hashes: pd.Series):
        from spacetime_crawler4py_spark.frontier.bloom import hex_spans_u64

        h1, fp0 = hex_spans_u64(hex_hashes, [(0, 15), (15, 19)])
        fp = (fp0 % 65535 + 1).astype(np.uint16)
        i1 = (h1 & self._mask).astype(np.uint64)
        i2 = (i1 ^ ((fp.astype(np.uint64) * _FP_MIX) & self._mask)) & self._mask
        return fp, i1, i2

    def _alt(self, i: int, fp: int) -> int:
        return int(
            (np.uint64(i) ^ ((np.uint64(fp) * _FP_MIX) & self._mask)) & self._mask
        )

    # ------------------------------------------------------------ ops

    def add_series(self, hex_hashes: pd.Series, rng_seed: int = 42) -> None:
        fps, i1s, i2s = self._parts_series(hex_hashes)
        rng = np.random.default_rng(rng_seed)
        for fp, i1, i2 in zip(fps.tolist(), i1s.tolist(), i2s.tolist()):
            if self._insert(int(fp), int(i1), int(i2), rng):
                continue
            raise RuntimeError(
                "cuckoo filter full — size it with sized_for(expected_n)"
            )

    def _insert(self, fp: int, i1: int, i2: int, rng) -> bool:
        for i in (i1, i2):
            row = self.table[i]
            if (row == fp).any():  # already present (idempotent add)
                return True
            empty = np.flatnonzero(row == 0)
            if len(empty):
                row[empty[0]] = fp
                return True
        # evict: random walk
        i = i1 if rng.integers(2) else i2
        cur = fp
        for _ in range(_MAX_KICKS):
            slot = int(rng.integers(_SLOTS))
            cur, self.table[i, slot] = int(self.table[i, slot]), cur
            i = self._alt(i, cur)
            row = self.table[i]
            empty = np.flatnonzero(row == 0)
            if len(empty):
                row[empty[0]] = cur
                return True
        return False

    def contains_series(self, hex_hashes: pd.Series) -> np.ndarray:
        if len(hex_hashes) == 0:
            return np.zeros(0, dtype=bool)
        fps, i1s, i2s = self._parts_series(hex_hashes)
        t = self.table
        in1 = (t[i1s.astype(np.int64)] == fps[:, None]).any(axis=1)
        in2 = (t[i2s.astype(np.int64)] == fps[:, None]).any(axis=1)
        return in1 | in2

    def delete_series(self, hex_hashes: pd.Series) -> int:
        """Remove entries (the capability blooms lack). Returns the
        number actually removed."""
        fps, i1s, i2s = self._parts_series(hex_hashes)
        removed = 0
        for fp, i1, i2 in zip(fps.tolist(), i1s.tolist(), i2s.tolist()):
            for i in (int(i1), int(i2)):
                row = self.table[i]
                hit = np.flatnonzero(row == fp)
                if len(hit):
                    row[hit[0]] = 0
                    removed += 1
                    break
        return removed


# -------------------------------------------- host_bucket sharding


class ShardedCuckoo:
    """host_bucket-sharded cuckoo (the 10^10-scale layout, mirroring
    bloom.ShardedBloom): one CuckooFilter per frontier host_bucket.

    Eviction-chain inserts are sequential WITHIN a filter but
    independent ACROSS shards — so both the build and the per-batch
    delta run as applyInPandas over host_bucket groups: each worker
    owns its shard's chains, and only (touched-shard count × table
    size) bytes ever reach the driver, never the delta rows.  The
    probe side is the same vectorized contains as the sharded bloom.
    """

    def __init__(self, shards: dict[int, CuckooFilter]):
        self.shards = shards

    def contains_pairs(self, hashes: pd.Series, buckets: pd.Series) -> np.ndarray:
        out = np.zeros(len(hashes), dtype=bool)
        b = buckets.to_numpy()
        for bucket, cf in self.shards.items():
            mask = b == bucket
            if mask.any():
                out[mask] = cf.contains_series(hashes[mask])
        return out

    def delete_pairs(self, hashes: pd.Series, buckets: pd.Series) -> int:
        """O(1)-per-key delete (the capability the bloom layout
        lacks) routed to each key's shard."""
        removed = 0
        b = buckets.to_numpy()
        for bucket in np.unique(b):
            cf = self.shards.get(int(bucket))
            if cf is not None:
                removed += cf.delete_series(hashes[b == bucket])
        return removed


_SHARD_SCHEMA = "bucket int, ok int, n_buckets long, table binary"


def _shard_from_row(row) -> CuckooFilter:
    cf = CuckooFilter(int(row["n_buckets"]))  # already a power of two
    cf.table = (
        np.frombuffer(row["table"], dtype=np.uint16)
        .reshape(-1, _SLOTS)
        .copy()
    )
    return cf


def build_sharded_cuckoo(
    seen,
    hash_col: str = "url_hash",
    bucket_col: str = "host_bucket",
    headroom: float = 2.0,
) -> ShardedCuckoo:
    """Distributed sharded build: each host_bucket group builds its
    filter IN A WORKER (the eviction chains never touch the driver);
    the driver only assembles the returned (bucket, table-bytes)
    rows."""

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        bkt = int(pdf[bucket_col].iloc[0])
        cf = CuckooFilter.sized_for(int(max(len(pdf), 1024) * headroom))
        cf.add_series(pdf[hash_col].astype(str))
        return pd.DataFrame(
            {
                "bucket": [bkt],
                "ok": [1],
                "n_buckets": [cf.n_buckets],
                "table": [cf.table.tobytes()],
            }
        )

    rows = (
        seen.select(hash_col, bucket_col)
        .groupBy(bucket_col)
        .applyInPandas(build_shard, _SHARD_SCHEMA)
        .collect()
    )
    return ShardedCuckoo(
        {int(r["bucket"]): _shard_from_row(r) for r in rows}
    )


def merge_sharded_cuckoo_delta(
    sharded: ShardedCuckoo,
    delta,
    spark,
    hash_col: str = "url_hash",
    bucket_col: str = "host_bucket",
) -> bool:
    """Fold a delta DataFrame into a live ShardedCuckoo — the
    incremental-add twin of build_sharded_cuckoo: each touched
    shard's insert chain runs in a worker against a COPY of the
    current shard table (shipped via broadcast), and the driver
    swaps in the returned tables.  Returns False if any shard hit
    its load ceiling mid-insert — the partially-updated copy is
    discarded (the live filter is untouched) and the caller must
    rebuild freshly sized.  Driver traffic is bounded by
    (#touched buckets × table size), never the delta row count."""
    bshards = spark.sparkContext.broadcast(sharded.shards)

    def upd(pdf: pd.DataFrame) -> pd.DataFrame:
        bkt = int(pdf[bucket_col].iloc[0])
        cur = bshards.value.get(bkt)
        if cur is None:
            cf = CuckooFilter.sized_for(int(max(len(pdf), 1024) * 2.0))
        else:
            cf = CuckooFilter(cur.n_buckets)
            cf.table = cur.table.copy()
        ok = 1
        try:
            cf.add_series(pdf[hash_col].astype(str))
        except RuntimeError:
            ok = 0
        return pd.DataFrame(
            {
                "bucket": [bkt],
                "ok": [ok],
                "n_buckets": [cf.n_buckets],
                "table": [cf.table.tobytes()],
            }
        )

    try:
        rows = (
            delta.select(hash_col, bucket_col)
            .groupBy(bucket_col)
            .applyInPandas(upd, _SHARD_SCHEMA)
            .collect()
        )
    finally:
        bshards.unpersist()
    if any(r["ok"] == 0 for r in rows):
        return False
    for r in rows:
        sharded.shards[int(r["bucket"])] = _shard_from_row(r)
    return True
