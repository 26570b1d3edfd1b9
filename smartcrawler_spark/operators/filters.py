"""Partitioned bloom + cuckoo URL-seen prefilters (numpy, deterministic).

Role in the frontier (north_rule): these are PREFILTERS in front of the
exact anti-join — a candidate whose bucket filter says "definitely unseen"
skips the exact join entirely; "maybe seen" candidates still go through it.
False positives therefore cost one extra join lookup and can never corrupt
the seen set; the exact seen join (operators.frontier.tag_seen, composed
with the probe by operators.frontier.admission_round) remains the
authority, matching the reference's insert-if-absent semantics
(/root/reference/src/storage.rs:78-89) bit-for-bit.

Keys are the engine's 64-bit `url_hash` (xxhash64 of the canonical URL), so
filter probes are pure uint64 numpy arithmetic — no string hashing in
Python. Mixing uses the splitmix64 finalizer (public-domain constants).

Scale design: one filter per `pmod(url_hash, n_buckets)` bucket, built
inside `applyInPandas` ON THE EXECUTORS (one task per bucket) and kept as
(bucket, bloom, cuckoo) rows in the crawl's bucketed filter table
(plans.crawl `t_filters`), so blobs never pass through the driver and
resume reuses them. At 10^10 URLs keep n_buckets == number of frontier
partitions so probe tasks align with frontier partitions.

The cuckoo filter complements the bloom: the blooms cover the frontier as
of the last rebuild, and a per-bucket cuckoo holds the delta admitted
since then — a sliding window over the rounds since the rebuild. It
supports DELETE (bloom can't) and gives a bounded false-positive rate at
higher load factors.
"""

from __future__ import annotations

import numpy as np

# Sentinel blob marking a bucket whose cuckoo delta OVERFLOWED: admitted
# keys could not all be inserted, so the filter pair would return false
# NEGATIVES (bloom fast path would skip the exact join and re-admit seen
# URLs). A degraded bucket answers maybe_seen=True for everything — every
# candidate in it pays the exact join (correct, just slower) until the next
# bloom rebuild absorbs the delta. 6 bytes, shorter than any valid blob
# (cuckoo blobs are 8 + n_buckets*8 bytes), so it can never be misparsed.
CUCKOO_SATURATED = b"\xffCKSAT"

_C1 = np.uint64(0xBF58476D1CE4E5B9)
_C2 = np.uint64(0x94D049BB133111EB)
_PHI = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + _PHI).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x *= _C1
    x ^= x >> np.uint64(27)
    x *= _C2
    x ^= x >> np.uint64(31)
    return x


def _as_u64(keys) -> np.ndarray:
    return np.asarray(keys, dtype=np.int64).view(np.uint64)


class BloomFilter:
    """Double-hashed bloom over int64 keys. m bits, k probes."""

    def __init__(self, capacity: int, fp_rate: float = 0.01):
        capacity = max(capacity, 16)
        m = int(-capacity * np.log(fp_rate) / (np.log(2) ** 2))
        self.m = max(64, (m + 63) // 64 * 64)
        self.k = max(1, int(round(self.m / capacity * np.log(2))))
        self.words = np.zeros(self.m // 64, dtype=np.uint64)

    def add_many(self, keys) -> None:
        u = _as_u64(keys)
        if u.size == 0:
            return
        h1 = _splitmix64(u)
        h2 = _splitmix64(u ^ _C2) | np.uint64(1)
        for i in range(self.k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(self.m)
            np.bitwise_or.at(self.words, (pos >> np.uint64(6)).astype(np.int64),
                             np.uint64(1) << (pos & np.uint64(63)))

    def contains_many(self, keys) -> np.ndarray:
        u = _as_u64(keys)
        if u.size == 0:
            return np.zeros(0, dtype=bool)
        h1 = _splitmix64(u)
        h2 = _splitmix64(u ^ _C2) | np.uint64(1)
        out = np.ones(u.size, dtype=bool)
        for i in range(self.k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(self.m)
            bits = self.words[(pos >> np.uint64(6)).astype(np.int64)]
            out &= (bits >> (pos & np.uint64(63))) & np.uint64(1) != 0
        return out

    def to_bytes(self) -> bytes:
        header = np.array([self.m, self.k], dtype=np.uint64).tobytes()
        return header + self.words.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "BloomFilter":
        header = np.frombuffer(blob[:16], dtype=np.uint64)
        bf = cls.__new__(cls)
        bf.m, bf.k = int(header[0]), int(header[1])
        bf.words = np.frombuffer(blob[16:], dtype=np.uint64).copy()
        return bf


class CuckooFilter:
    """4-way bucketed cuckoo filter over int64 keys (16-bit fingerprints).

    Supports add/contains/delete. Deterministic eviction path (seeded by the
    key being inserted), bounded kicks; returns False on insert failure
    (caller falls back to exact join — correctness unaffected)."""

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, capacity: int):
        nb = 1
        while nb * self.SLOTS < max(capacity, 16) * 1.1:
            nb <<= 1
        self.n_buckets = nb
        self.table = np.zeros((nb, self.SLOTS), dtype=np.uint16)  # 0 = empty

    def _fp_and_idx(self, u: np.ndarray):
        h = _splitmix64(u)
        fp = ((h >> np.uint64(48)) % np.uint64(65535) + np.uint64(1)).astype(np.uint16)
        i1 = (h % np.uint64(self.n_buckets)).astype(np.int64)
        i2 = (i1 ^ (_splitmix64(fp.astype(np.uint64)) % np.uint64(self.n_buckets)).astype(np.int64))
        return fp, i1, i2

    def _alt(self, idx: int, fp: int) -> int:
        return int(
            idx ^ int(_splitmix64(np.array([fp], dtype=np.uint64))[0] % np.uint64(self.n_buckets))
        )

    def add(self, key: int) -> bool:
        fp, i1, i2 = self._fp_and_idx(_as_u64([key]))
        fp, i1, i2 = int(fp[0]), int(i1[0]), int(i2[0])
        for idx in (i1, i2):
            row = self.table[idx]
            empty = np.where(row == 0)[0]
            if empty.size:
                row[empty[0]] = fp
                return True
        idx, cur = i1, fp
        rng = np.random.default_rng(int(_as_u64([key])[0]))  # deterministic per key
        for _ in range(self.MAX_KICKS):
            slot = int(rng.integers(self.SLOTS))
            cur, self.table[idx, slot] = int(self.table[idx, slot]), cur
            idx = self._alt(idx, cur)
            row = self.table[idx]
            empty = np.where(row == 0)[0]
            if empty.size:
                row[empty[0]] = cur
                return True
        return False  # full — caller falls back to exact join

    def add_many(self, keys) -> int:
        return sum(self.add(int(k)) for k in np.asarray(keys, dtype=np.int64))

    def contains_many(self, keys) -> np.ndarray:
        u = _as_u64(keys)
        if u.size == 0:
            return np.zeros(0, dtype=bool)
        fp, i1, i2 = self._fp_and_idx(u)
        in1 = (self.table[i1] == fp[:, None]).any(axis=1)
        in2 = (self.table[i2] == fp[:, None]).any(axis=1)
        return in1 | in2

    def delete(self, key: int) -> bool:
        fp, i1, i2 = self._fp_and_idx(_as_u64([key]))
        fp = fp[0]
        for idx in (int(i1[0]), int(i2[0])):
            row = self.table[idx]
            hit = np.where(row == fp)[0]
            if hit.size:
                row[hit[0]] = 0
                return True
        return False

    def to_bytes(self) -> bytes:
        return np.array([self.n_buckets], dtype=np.uint64).tobytes() + self.table.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CuckooFilter":
        nb = int(np.frombuffer(blob[:8], dtype=np.uint64)[0])
        cf = cls.__new__(cls)
        cf.n_buckets = nb
        cf.table = np.frombuffer(blob[8:], dtype=np.uint16).reshape(nb, cls.SLOTS).copy()
        return cf

