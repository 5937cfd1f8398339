"""Broadcast Bloom filter over the URL-seen set.

Replaces the shelve membership probe (crawler/frontier.py:59
``urlhash not in self.save``) as the FAST PATH of frontier dedup.
Semantics contract (SURVEY.md F8): the bloom is a prefilter only —
"definitely new" candidates skip the exact anti-join entirely;
"possibly seen" candidates fall through to the exact left-anti join,
so the final URL-seen set is EXACTLY the reference's (no false
negatives by construction, false positives only cost a join probe).

Build is fully distributed: each partition folds its url_hashes into
a local bitmap (numpy, vectorized), partial bitmaps OR-reduce on the
driver (``treeAggregate``-shaped), and the result broadcasts.  For a
10^10-URL frontier at 1% fpp the bitmap is ~11 GiB — too big for one
broadcast, so at that scale the filter shards by ``host_bucket``
(the frontier's write partition key) and each executor holds only
the shards for the buckets it schedules; here a single bitmap
suffices and the sharding is exercised with N_HOST_BUCKETS small.

Hashing: k indexes per key by double hashing (Kirsch-Mitzenmacher)
over the two 64-bit halves of the already-sha256'd url_hash — the
key IS a cryptographic hash, no further mixing needed.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType


def hex_spans_u64(
    s: pd.Series, spans: list[tuple[int, int]]
) -> list[np.ndarray]:
    """Vectorized hex→uint64 for fixed-width slices of equal-length
    hex keys: ONE join over the series, chars → nibbles →
    positional fold, all numpy — no per-row Python int() (the
    former ``.apply(int, base=16)`` was the hottest line of every
    probe batch).  Accepts upper/lower hex; span width ≤ 16."""
    arr = np.frombuffer("".join(s).encode("ascii"), np.uint8).reshape(
        len(s), -1
    )
    outs = []
    for start, stop in spans:
        sub = arr[:, start:stop]
        # branch-free ASCII-hex → nibble: (c & 15) + 9·(c is a letter)
        nib = ((sub & 15) + ((sub >> 6) & 1) * 9).astype(np.uint64)
        out = np.zeros(arr.shape[0], np.uint64)
        for j in range(stop - start):
            out = out * np.uint64(16) + nib[:, j]
        outs.append(out)
    return outs


class BloomFilter:
    def __init__(self, n_bits: int, k: int, bits: np.ndarray | None = None):
        self.n_bits = n_bits
        self.k = k
        self.bits = bits if bits is not None else np.zeros(n_bits // 8 + 1, dtype=np.uint8)

    @staticmethod
    def sized_for(n_items: int, fpp: float = 0.01) -> "BloomFilter":
        n_items = max(n_items, 1024)
        m = int(-n_items * math.log(fpp) / (math.log(2) ** 2))
        k = max(1, round(m / n_items * math.log(2)))
        return BloomFilter(m, k)

    def _indexes_h(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        ks = np.arange(self.k, dtype=np.uint64)
        return (h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(self.n_bits)

    def _indexes(self, hex_hashes: pd.Series) -> np.ndarray:
        """(len, k) bit indexes from sha256-hex keys, vectorized."""
        h1, h2 = hex_spans_u64(hex_hashes, [(0, 15), (15, 30)])
        return self._indexes_h(h1, h2)

    def add_series(self, hex_hashes: pd.Series) -> None:
        idx = self._indexes(hex_hashes).ravel()
        np.bitwise_or.at(self.bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))

    def contains_h(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """Probe with pre-parsed key halves — lets a sharded layout
        parse each batch ONCE and slice integer arrays per shard."""
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        idx = self._indexes_h(h1, h2)
        got = (self.bits[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1
        return got.all(axis=1)

    def contains_series(self, hex_hashes: pd.Series) -> np.ndarray:
        if len(hex_hashes) == 0:
            return np.zeros(0, dtype=bool)
        h1, h2 = hex_spans_u64(hex_hashes, [(0, 15), (15, 30)])
        return self.contains_h(h1, h2)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert self.n_bits == other.n_bits and self.k == other.k
        return BloomFilter(self.n_bits, self.k, np.bitwise_or(self.bits, other.bits))


class ShardedBloom:
    """host_bucket-sharded bloom (the 10^10-scale layout, SCALE.md §3).

    One BloomFilter per frontier host_bucket: at 10^10 keys / 1% fpp
    a monolithic filter is ~11 GiB — unbroadcastable — while 64
    shards are ~180 MiB each and each scheduler partition only needs
    the shards of the buckets it handles.  In-sandbox all shards
    ride one broadcast; the probe path is identical either way.
    """

    def __init__(self, shards: dict[int, BloomFilter]):
        self.shards = shards

    def contains_pairs(self, hashes: pd.Series, buckets: pd.Series) -> np.ndarray:
        out = np.zeros(len(hashes), dtype=bool)
        if not len(hashes):
            return out
        # parse the hex keys ONCE for the whole batch, then probe
        # only the buckets actually present — per-shard work is pure
        # integer-array slicing, no per-subset pandas string ops
        h1, h2 = hex_spans_u64(hashes, [(0, 15), (15, 30)])
        b = buckets.to_numpy()
        for bucket in np.unique(b):
            bf = self.shards.get(int(bucket))
            if bf is not None:
                mask = b == bucket
                out[mask] = bf.contains_h(h1[mask], h2[mask])
        return out

    def add_pairs(self, hashes: pd.Series, buckets: pd.Series) -> None:
        b = buckets.to_numpy()
        for bucket in np.unique(b):
            bf = self.shards.get(int(bucket))
            if bf is None:
                bf = BloomFilter.sized_for(1024)
                self.shards[int(bucket)] = bf
            bf.add_series(hashes[b == bucket])


def build_sharded_bloom(
    seen: DataFrame,
    hash_col: str = "url_hash",
    bucket_col: str = "host_bucket",
    fpp: float = 0.01,
) -> ShardedBloom:
    """Distributed sharded build: per-bucket counts size each shard,
    then one pass folds partition rows into per-bucket partial
    bitmaps which OR-merge by bucket on the driver."""
    counts = {
        r[bucket_col]: r["n"]
        for r in seen.groupBy(bucket_col).agg(F.count("*").alias("n")).collect()
    }
    sizes = {int(b): BloomFilter.sized_for(n, fpp) for b, n in counts.items() if b is not None}
    params = {b: (bf.n_bits, bf.k) for b, bf in sizes.items()}

    def partial(it):
        local: dict[int, BloomFilter] = {}
        for pdf in it:
            for bucket, grp in pdf.groupby(bucket_col):
                bkt = int(bucket)
                if bkt not in local:
                    n_bits, k = params[bkt]
                    local[bkt] = BloomFilter(n_bits, k)
                local[bkt].add_series(grp[hash_col].astype(str))
        for bkt, bf in local.items():
            yield pd.DataFrame({"bucket": [bkt], "bits": [bf.bits.tobytes()]})

    parts = (
        seen.select(hash_col, bucket_col)
        .mapInPandas(partial, "bucket int, bits binary")
        .collect()
    )
    shards: dict[int, BloomFilter] = {}
    for row in parts:
        bkt = row["bucket"]
        if bkt not in shards:
            n_bits, k = params[bkt]
            shards[bkt] = BloomFilter(n_bits, k)
        shards[bkt].bits |= np.frombuffer(row["bits"], dtype=np.uint8)
    return ShardedBloom(shards)


def with_might_contain_sharded(
    df: DataFrame,
    sharded: Broadcast,
    hash_col: str = "url_hash",
    bucket_col: str = "host_bucket",
    out_col: str = "might_be_seen",
) -> DataFrame:
    """``with_might_contain`` for a broadcast host_bucket-sharded
    filter (ShardedBloom or frontier.cuckoo.ShardedCuckoo)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BooleanType())
    def probe(hashes: pd.Series, buckets: pd.Series) -> pd.Series:
        return pd.Series(sharded.value.contains_pairs(hashes.astype(str), buckets))

    return df.withColumn(out_col, probe(F.col(hash_col), F.col(bucket_col)))


def build_bloom(
    seen: DataFrame,
    hash_col: str = "url_hash",
    fpp: float = 0.01,
    n_bits: int | None = None,
    k: int | None = None,
) -> BloomFilter:
    """Distributed build: per-partition bitmaps, OR-reduced — only P
    partial bitmaps reach the driver, never the keys.

    Without explicit ``(n_bits, k)`` the filter is sized by a count
    job over ``seen``; a caller that already knows the key count
    (the crawl loop's seq high-water mark) passes
    ``BloomFilter.sized_for(n)``'s parameters and skips that job.
    """
    if n_bits is None or k is None:
        n = seen.count()
        proto = BloomFilter.sized_for(n, fpp)
        n_bits, k = proto.n_bits, proto.k

    def partial(it):
        bf = BloomFilter(n_bits, k)
        for pdf in it:
            bf.add_series(pdf[hash_col].astype(str))
        yield pd.DataFrame({"bits": [bf.bits.tobytes()]})

    parts = (
        seen.select(hash_col)
        .mapInPandas(partial, "bits binary")
        .collect()
    )
    out = BloomFilter(n_bits, k)
    for row in parts:
        out.bits |= np.frombuffer(row["bits"], dtype=np.uint8)
    return out


def with_might_contain(
    df: DataFrame, seen_filter: Broadcast, hash_col: str = "url_hash",
    out_col: str = "might_be_seen",
) -> DataFrame:
    """Add the membership-probe column via a broadcast filter +
    Arrow-batched pandas UDF.

    ``seen_filter`` broadcasts any object with a vectorized
    ``contains_series(pd.Series) -> np.ndarray`` — the BloomFilter
    here or frontier.cuckoo.CuckooFilter (both are
    numpy-array-backed and broadcast-picklable).  The caller owns
    the broadcast: one per filter build, reused across probes."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BooleanType())
    def probe(hashes: pd.Series) -> pd.Series:
        return pd.Series(seen_filter.value.contains_series(hashes.astype(str)))

    return df.withColumn(out_col, probe(F.col(hash_col)))
