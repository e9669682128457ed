"""Salted-hash cuckoo filter + Bloom pre-filter for the URL-seen set.

North-rule machinery (BASELINE.json): the 10^10-URL frontier cannot
afford a full shuffle of every outlink against the seen table each
round. Per-partition slabs of these filters answer "definitely new"
locally; only "maybe seen" candidates pay the exact anti-join, and —
critically — a filter hit NEVER drops a URL by itself (false positives
fall through to the exact join; see spark/crawl.py), so the seen set
stays exact.

Numpy plus one Python-int loop, serializable to bytes, deterministic:
all hashing derives from the 64-bit url_hash computed once Spark-side
(xxhash64), salted with a fixed engine seed. Membership tests are fully
vectorized; CuckooFilter.insert_many hashes the batch in numpy and runs
only placement and eviction (inherently sequential) on Python ints over
the table in place. No reference-code analog exists (goskyr's only
dedup is a per-item memo map, scraper.go:394) — this is new machinery
per SURVEY §2.8.
"""

from __future__ import annotations

import numpy as np

SALT = np.uint64(0x9E3779B97F4A7C15)  # fixed engine salt (golden ratio)
_M1 = np.uint64(0xFF51AFD7ED558CCD)
_M2 = np.uint64(0xC4CEB9FE1A85EC53)


def _mix(h: np.ndarray) -> np.ndarray:
    """splitmix64-style avalanche over uint64 arrays (vectorized)."""
    h = h.astype(np.uint64, copy=True)
    h ^= h >> np.uint64(33)
    h *= _M1
    h ^= h >> np.uint64(33)
    h *= _M2
    h ^= h >> np.uint64(33)
    return h


_U64 = 0xFFFFFFFFFFFFFFFF
_SALT = int(SALT)


def _mix_int(h: int) -> int:
    """_mix on one Python int (the eviction loop's scalar path)."""
    h ^= h >> 33
    h = (h * 0xFF51AFD7ED558CCD) & _U64
    h ^= h >> 33
    h = (h * 0xC4CEB9FE1A85EC53) & _U64
    return h ^ (h >> 33)


def _put(t, i: int, fp: int) -> bool:
    """fp into the first empty slot of bucket i of the flat table t."""
    j = i * CuckooFilter.SLOTS
    for s in range(j, j + CuckooFilter.SLOTS):
        if not t[s]:
            t[s] = fp
            return True
    return False


def _evict(t, key: int, fp: int, i: int, mask: int) -> bool:
    """Cuckoo kicks from full bucket i: swap fp into a slot picked by the
    key-seeded state, move the victim to its alternate bucket
    (i XOR H(victim)), repeat. False after 500 kicks, with the last
    victim dropped."""
    state = _mix_int(key)
    for _ in range(500):
        state = _mix_int(state)
        s = i * CuckooFilter.SLOTS + state % CuckooFilter.SLOTS
        fp, t[s] = t[s], fp
        i = (i ^ _mix_int(fp ^ _SALT)) & mask
        if _put(t, i, fp):
            return True
    return False


class BloomFilter:
    """Per-partition pre-filter: k=2 double-hashed probes over a bit array.

    'absent' answers are authoritative (definitely new); 'present' falls
    through to the cuckoo filter and, if still present, the exact join.
    """

    HEADER = 16  # nbits(u64) + count(u64)

    def __init__(self, nbits: int):
        nbits = max(64, int(nbits))
        self.nbits = nbits
        self.bits = np.zeros((nbits + 7) // 8, dtype=np.uint8)
        self.count = 0

    @classmethod
    def sized_for(cls, n_items: int, bits_per_item: int = 12):
        return cls(max(64, n_items * bits_per_item))

    def _probes(self, hashes: np.ndarray):
        h = _mix(np.asarray(hashes, dtype=np.uint64) ^ SALT)
        h2 = _mix(h ^ _M2)
        nb = np.uint64(self.nbits)
        return (h % nb, (h + h2) % nb)

    def add_many(self, hashes) -> None:
        if len(hashes) == 0:
            return
        for idx in self._probes(hashes):
            np.bitwise_or.at(self.bits, (idx // np.uint64(8)).astype(np.int64),
                             np.left_shift(np.uint8(1),
                                           (idx % np.uint64(8)).astype(np.uint8)))
        self.count += len(hashes)

    def contains_many(self, hashes) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        res = np.ones(len(hashes), dtype=bool)
        for idx in self._probes(hashes):
            byte = self.bits[(idx // np.uint64(8)).astype(np.int64)]
            bit = np.left_shift(np.uint8(1), (idx % np.uint64(8)).astype(np.uint8))
            res &= (byte & bit) != 0
        return res

    def to_bytes(self) -> bytes:
        head = np.array([self.nbits, self.count], dtype=np.uint64).tobytes()
        return head + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes):
        head = np.frombuffer(data[:cls.HEADER], dtype=np.uint64)
        f = cls(int(head[0]))
        f.count = int(head[1])
        f.bits = np.frombuffer(data[cls.HEADER:], dtype=np.uint8).copy()
        return f


class CuckooFilter:
    """4-way bucketed cuckoo filter with 16-bit fingerprints (~0.95 load).

    Partial-key cuckoo hashing: i2 = i1 XOR H(fingerprint), so membership
    tests need only the stored fingerprint. Deletion-free test-and-insert
    is all the crawl needs (URLs are never unseen).
    """

    SLOTS = 4
    HEADER = 16  # nbuckets(u64) + count(u64)

    def __init__(self, nbuckets: int):
        # power-of-two buckets for mask indexing
        nb = 1
        while nb < nbuckets:
            nb <<= 1
        self.nbuckets = nb
        self.mask = np.uint64(nb - 1)
        self.table = np.zeros((nb, self.SLOTS), dtype=np.uint16)
        self.count = 0

    @classmethod
    def sized_for(cls, n_items: int, load: float = 0.84):
        return cls(max(8, int(n_items / (cls.SLOTS * load)) + 1))

    def contains_many(self, hashes) -> np.ndarray:
        """Vectorized membership for uint64 hash arrays."""
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        h = np.asarray(hashes, dtype=np.uint64) ^ SALT
        m = _mix(h)
        fp = ((m >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)
        i1 = (m & self.mask).astype(np.int64)
        fph = _mix(fp.astype(np.uint64) ^ SALT)
        i2 = ((i1.astype(np.uint64) ^ fph) & self.mask).astype(np.int64)
        fpc = fp[:, None]
        return ((self.table[i1] == fpc).any(axis=1) |
                (self.table[i2] == fpc).any(axis=1))

    def insert_many(self, hashes) -> int:
        """Insert uint64 hashes in order; returns the number inserted.

        Fingerprints and both candidate buckets come from numpy for the
        whole batch; placement and eviction then run on Python ints over
        a flat 'H' view of the table, in place. A key goes to the first
        empty slot of i1, then of i2; when both are full it evicts with a
        deterministic kick sequence (state _mix(h), 500 kicks), and if
        that overflows the last displaced fingerprint is dropped and the
        key does not count — the caller then rebuilds (spark/crawl.py).
        """
        h = np.asarray(hashes, dtype=np.uint64)
        if len(h) == 0:
            return 0
        m = _mix(h ^ SALT)
        fp = (m >> np.uint64(48)) & np.uint64(0xFFFF)
        fp[fp == 0] = 1
        i1 = m & self.mask
        i2 = (i1 ^ _mix(fp ^ SALT)) & self.mask
        mask = int(self.mask)
        n = 0
        with memoryview(self.table).cast("B").cast("H") as t:
            for key, f, a, b in zip(h.tolist(), fp.tolist(), i1.tolist(),
                                    i2.tolist()):
                if (_put(t, a, f) or _put(t, b, f)
                        or _evict(t, key, f, a if f & 1 == 0 else b, mask)):
                    n += 1
        self.count += n
        return n

    def to_bytes(self) -> bytes:
        head = np.array([self.nbuckets, self.count], dtype=np.uint64).tobytes()
        return head + self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes):
        head = np.frombuffer(data[:cls.HEADER], dtype=np.uint64)
        f = cls(int(head[0]))
        f.count = int(head[1])
        f.table = np.frombuffer(data[cls.HEADER:], dtype=np.uint16).reshape(
            int(head[0]), cls.SLOTS).copy()
        return f
