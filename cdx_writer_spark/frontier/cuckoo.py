"""Vectorized partial-key cuckoo filter over pre-hashed 64-bit keys.

The north rule names "bloom/cuckoo URL-seen"; :mod:`.bloom` is the
Bloom half, this is the cuckoo half (Fan et al., "Cuckoo Filter:
Practically Better Than Bloom", CoNEXT 2014 — public paper).  Compared
to the Bloom blobs it adds **deletion** (``seen.remove_from_filters``
retracts a URL; no crawl round deletes today) at a
comparable space budget, and its probe touches exactly two words
instead of k scattered bits.

Layout and arithmetic are chosen so the probe can ALSO run as a pure
Catalyst expression (seen.py's native strategy), exactly like the
Bloom path:

* **4-way buckets, 16-bit fingerprints, one bucket per int64 word.**
  The table is ``n_buckets`` little-endian int64 words, each packing
  its bucket's 4 fingerprint lanes (lane j = bits 16j..16j+15).  A
  probe is two ``element_at`` lookups + 8 masked lane compares — a
  flat whole-stage-codegen AND/OR chain, no arrays allocated per row.
* **Power-of-two buckets** so the partial-key alternate bucket
  ``i2 = i1 XOR h(fp)`` stays in range with a plain mask; both sides
  (numpy int64, Spark ANSI long) use identical two's-complement
  ``&``/``^``/``>>`` semantics, so probes are bit-identical across the
  engine boundary (property-tested).
* **Fingerprints never 0** (0 = empty slot): ``fp = ((h2 >> 24) &
  0xFFFF) or 1``.  h2's high bits keep fp decorrelated from the
  bucket index (h1's low bits) and from the Bloom step (h2's low
  bits).
* **No false negatives, ever**: inserts that still have a homeless
  fingerprint after the bounded eviction walk land in a small sorted
  **stash** (serialized with the blob, checked by both probe paths);
  a full stash raises a clear "resize" error instead of silently
  dropping — a dropped fingerprint would be a false NEGATIVE, i.e. a
  re-enqueued already-crawled URL.  False positives (~2·4/2^16 ≈
  0.012% plus stash collisions) only route rows into the exact
  anti-join, as with Bloom — they cost time, never correctness.

Determinism: a cuckoo table's layout depends on insertion order, so
``add_many`` canonicalizes each batch — sort by (h1, h2), drop
exact duplicate hash pairs — making every fold a pure function of the
key *set*.  The per-round folds in seen.py hand each partition's
whole delta to one ``add_many`` call, so checkpoint blobs are
byte-identical across input partitionings and parallelism levels
(tested), mirroring the Bloom guarantee.

Deletion caveat (inherent to cuckoo filters, documented in the paper):
``delete_many`` removes ONE matching fingerprint per key and is safe
when each key was inserted at most once — which the crawl's
exactly-new fold discipline guarantees (a key reaches update_filters
only the round it is first seen).

Serialization: 4-byte magic ``CKF1`` + ``<BIQ`` header (log2 buckets,
stash length, n_items) + table bytes + stash int64s.  Blobs without
the magic raise the same "incompatible filter checkpoint" error as
Bloom blobs — rebuild from the exact seen table instead of mis-probing.
"""

from __future__ import annotations

import math
import struct

import numpy as np

_MAGIC = b"CKF1"
_HEADER = struct.Struct("<BIQ")

SLOTS = 4                 # slots per bucket (fixed: one int64 word)
FP_BITS = 16              # fingerprint width (fixed: 4 lanes per word)
FP_SHIFT = 24             # fp = (h2 >> FP_SHIFT) & 0xFFFF, or 1
FP_MASK = (1 << FP_BITS) - 1
ALT_MULT = 0x5BD1E995     # MurmurHash2 multiplier for the alt-bucket mix
MAX_KICKS = 500           # bounded eviction walk before stashing
MAX_STASH = 4096          # hard cap; a fuller stash means "resize"
TARGET_LOAD = 0.84        # sizing headroom (4-way cuckoo is safe to ~0.95)


def _fingerprints(h2: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprints; int64 dtype (arithmetic stays in
    int64 everywhere so numpy and Spark ANSI longs agree exactly)."""
    fp = (h2.astype(np.int64, copy=False) >> np.int64(FP_SHIFT)) \
        & np.int64(FP_MASK)
    return np.where(fp == 0, np.int64(1), fp)


class CuckooFilter:
    """Fixed-geometry cuckoo filter with vectorized probe/delete and a
    deterministic (order-canonicalized) insert."""

    def __init__(self, m: int, table: np.ndarray | None = None,
                 stash: np.ndarray | None = None, n_items: int = 0):
        if not (1 <= m <= 40):
            raise ValueError("log2 bucket count out of range")
        self.m = int(m)
        self.n_buckets = 1 << self.m
        self.n_items = int(n_items)
        if table is None:
            self.table = np.zeros((self.n_buckets, SLOTS),
                                  dtype=np.uint16)
        else:
            if table.dtype != np.uint16 or table.shape != (
                    self.n_buckets, SLOTS):
                raise ValueError("table does not match bucket count")
            self.table = table
        self.stash = (np.zeros(0, dtype=np.int64) if stash is None
                      else stash.astype(np.int64, copy=False))

    @classmethod
    def sized_for(cls, n_items: int, fpr: float | None = None
                  ) -> "CuckooFilter":
        """Geometry for ``n_items`` keys at ≤ TARGET_LOAD occupancy.
        ``fpr`` is accepted for signature parity with
        :meth:`~.bloom.BloomFilter.sized_for` but the fingerprint
        width is fixed (16 bits → ~0.012% FPR); a requested rate the
        geometry cannot meet raises instead of silently under-
        delivering."""
        if fpr is not None and fpr < (2 * SLOTS) / (1 << FP_BITS):
            raise ValueError(
                f"16-bit fingerprints cannot reach fpr={fpr}; "
                f"floor is {(2 * SLOTS) / (1 << FP_BITS):.6f}")
        need = max(1, math.ceil(max(1, n_items) / (SLOTS * TARGET_LOAD)))
        return cls(max(1, math.ceil(math.log2(need))))

    # --- hashing -----------------------------------------------------

    def _i1(self, h1: np.ndarray) -> np.ndarray:
        return h1.astype(np.int64, copy=False) \
            & np.int64(self.n_buckets - 1)

    def _alt_delta(self, fp: np.ndarray) -> np.ndarray:
        """XOR mix applied to hop between a fingerprint's two buckets
        (symmetric: applying it twice returns to the start)."""
        return (fp * np.int64(ALT_MULT)) & np.int64(self.n_buckets - 1)

    def _stash_key(self, bucket: np.ndarray, fp: np.ndarray
                   ) -> np.ndarray:
        """Order-independent stash entry: min of the two buckets a
        fingerprint can live in, tagged with the fingerprint."""
        other = bucket ^ self._alt_delta(fp)
        return (np.minimum(bucket, other) << np.int64(FP_BITS)) | fp

    # --- insert ------------------------------------------------------

    def add_many(self, h1: np.ndarray, h2: np.ndarray) -> None:
        """Insert a batch.  The batch is canonicalized (sorted by
        (h1, h2), exact duplicate hash pairs dropped) so the resulting
        table bytes depend only on the key set — see module doc."""
        if len(h1) == 0:
            return
        pairs = np.stack([h1.astype(np.int64, copy=False),
                          h2.astype(np.int64, copy=False)], axis=1)
        pairs = np.unique(pairs, axis=0)          # sorts by (h1, h2)
        h1s, h2s = pairs[:, 0], pairs[:, 1]
        fps = _fingerprints(h2s)
        i1s = self._i1(h1s)
        tbl = self.table
        stash_new: list[int] = []
        for i1, fp in zip(i1s.tolist(), fps.tolist()):
            i2 = i1 ^ int(self._alt_delta(np.int64(fp)))
            placed = False
            for b in (i1, i2):
                row = tbl[b]
                empties = np.flatnonzero(row == 0)
                if empties.size:
                    row[empties[0]] = fp
                    placed = True
                    break
            if placed:
                continue
            # bounded deterministic eviction walk: kick slot cycles
            # 0,1,2,3 — no randomness, so layout is reproducible
            b, cur = i1, fp
            for kick in range(MAX_KICKS):
                slot = kick & (SLOTS - 1)
                cur, tbl[b, slot] = int(tbl[b, slot]), cur
                b = b ^ int(self._alt_delta(np.int64(cur)))
                row = tbl[b]
                empties = np.flatnonzero(row == 0)
                if empties.size:
                    row[empties[0]] = cur
                    placed = True
                    break
            if not placed:
                stash_new.append(int(self._stash_key(
                    np.int64(b), np.int64(cur))))
        if stash_new:
            self.stash = np.unique(np.concatenate(
                [self.stash, np.asarray(stash_new, dtype=np.int64)]))
        if len(self.stash) > MAX_STASH:
            raise ValueError(
                f"cuckoo filter over capacity: stash {len(self.stash)} "
                f"> {MAX_STASH} at {self.n_items + len(h1s)} items in "
                f"{self.n_buckets} buckets — size the filter for the "
                "partition's cardinality (sized_for) or re-shard")
        self.n_items += int(len(h1s))

    # --- probe -------------------------------------------------------

    def contains_many(self, h1: np.ndarray, h2: np.ndarray
                      ) -> np.ndarray:
        """Boolean array: True = maybe seen, False = definitely new.
        Fully vectorized — two gathers + lane compares + stash isin.
        MUST stay expression-for-expression identical to seen.py's
        native cuckoo probe (property-tested)."""
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        h1v = h1.astype(np.int64, copy=False)
        h2v = h2.astype(np.int64, copy=False)
        fps = _fingerprints(h2v).astype(np.uint16)
        i1 = self._i1(h1v)
        i2 = i1 ^ self._alt_delta(fps.astype(np.int64))
        hit = ((self.table[i1] == fps[:, None]).any(axis=1)
               | (self.table[i2] == fps[:, None]).any(axis=1))
        if len(self.stash):
            keys = self._stash_key(i1, fps.astype(np.int64))
            hit |= np.isin(keys, self.stash)
        return hit

    # --- delete ------------------------------------------------------

    def delete_many(self, h1: np.ndarray, h2: np.ndarray) -> int:
        """Remove ONE stored fingerprint per key (bucket i1 first,
        then i2, then stash).  Returns how many keys actually removed
        an entry.  Safe under insert-once discipline (module doc)."""
        removed = 0
        if len(h1) == 0:
            return removed
        h1v = h1.astype(np.int64, copy=False)
        h2v = h2.astype(np.int64, copy=False)
        fps = _fingerprints(h2v)
        i1s = self._i1(h1v)
        drop_stash: list[int] = []
        for i1, fp in zip(i1s.tolist(), fps.tolist()):
            i2 = i1 ^ int(self._alt_delta(np.int64(fp)))
            done = False
            for b in (i1, i2):
                row = self.table[b]
                where = np.flatnonzero(row == fp)
                if where.size:
                    row[where[0]] = 0
                    done = True
                    break
            if not done:
                key = int(self._stash_key(np.int64(i1), np.int64(fp)))
                if np.isin(key, self.stash):
                    drop_stash.append(key)
                    done = True
            if done:
                removed += 1
        if drop_stash:
            self.stash = self.stash[~np.isin(
                self.stash, np.asarray(drop_stash, dtype=np.int64))]
        self.n_items = max(0, self.n_items - removed)
        return removed

    # --- native-probe word view ---------------------------------------

    def to_longs(self) -> list[int]:
        """Table + stash as little-endian int64 words: words[0..nb-1]
        pack each bucket's 4 uint16 lanes (lane j = bits 16j..), then
        the sorted stash keys follow.  The native Catalyst probe does
        ``element_at`` on the first nb words and ``array_contains`` on
        the tail — same array, zero Python."""
        words = np.ascontiguousarray(self.table).view("<i8").ravel()
        return [int(w) for w in words] + [int(s) for s in self.stash]

    @classmethod
    def from_longs(cls, longs, m: int, n_items: int = 0
                   ) -> "CuckooFilter":
        nb = 1 << int(m)
        arr = np.asarray(longs, dtype="<i8")
        table = arr[:nb].view(np.uint16).reshape(nb, SLOTS).copy()
        stash = arr[nb:].astype(np.int64, copy=True)
        return cls(m, table=table, stash=stash, n_items=n_items)

    # --- serialization -------------------------------------------------

    def to_bytes(self) -> bytes:
        return (_MAGIC
                + _HEADER.pack(self.m, len(self.stash), self.n_items)
                + np.ascontiguousarray(self.table).tobytes()
                + self.stash.astype("<i8").tobytes())

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CuckooFilter":
        if blob[:len(_MAGIC)] != _MAGIC:
            raise ValueError(
                "incompatible filter checkpoint: blob lacks the "
                f"{_MAGIC!r} format magic (written by an older or "
                "different-kind build); rebuild the filters from the "
                "exact seen table instead of resuming them")
        m, stash_len, n_items = _HEADER.unpack_from(blob, len(_MAGIC))
        nb = 1 << m
        off = len(_MAGIC) + _HEADER.size
        table = np.frombuffer(
            blob, dtype=np.uint16, count=nb * SLOTS, offset=off
        ).reshape(nb, SLOTS).copy()
        off += nb * SLOTS * 2
        stash = np.frombuffer(blob, dtype="<i8", count=stash_len,
                              offset=off).astype(np.int64, copy=True)
        return cls(m, table=table, stash=stash, n_items=n_items)
