"""Partitioned bloom filter for the URL-seen set (SURVEY.md J2/O1, §4.2).

The reference enforces URL uniqueness with a ScyllaDB LWT row lock
(``/root/reference/src/db/model.ts:115-128``).  At 10^10-frontier scale
the batch equivalent (north_rule) is a *partitioned* bloom filter: the
url-hash space is split into P partitions (``partition_id =
url_hash mod P``); each partition owns an independent bit array sized
for its expected load.  Candidates are co-partitioned with their bloom
partition, probed vectorised (numpy), and hits are exact-confirmed with
an anti-join against the exact seen-set table, so the final URL-seen
set is *exactly* the reference's (no false-positive loss).

Hash scheme: the 64-bit url_hash (Spark ``xxhash64`` of the canonical
url, computed JVM-side) is split via Kirsch–Mitzenmacher double hashing
into k indexes: ``idx_i = (h1 + i*h2) mod m`` — standard, public
construction.  All bit math is numpy (vectorized), no per-row Python.
"""

from __future__ import annotations

import math

import numpy as np

DEFAULT_FPP = 0.01


def optimal_bits(n_items: int, fpp: float = DEFAULT_FPP) -> int:
    """Standard bloom sizing: m = -n ln(p) / (ln 2)^2, byte-aligned."""
    n_items = max(n_items, 1)
    m = int(math.ceil(-n_items * math.log(fpp) / (math.log(2) ** 2)))
    return max((m + 7) // 8 * 8, 64)


def optimal_hashes(m_bits: int, n_items: int) -> int:
    n_items = max(n_items, 1)
    k = int(round(m_bits / n_items * math.log(2)))
    return min(max(k, 1), 16)


def _split_hash(hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """h1/h2 from the 64-bit hash (reinterpret signed → unsigned)."""
    h = hashes.astype(np.int64).view(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = (h >> np.uint64(32)) | np.uint64(1)  # odd ⇒ full-period stride
    return h1, h2


class BloomPartition:
    """One partition's bit array; stored as bytes in the urlseen table."""

    __slots__ = ("bits", "m_bits", "k", "n_items")

    def __init__(self, m_bits: int, k: int, bits: np.ndarray | None = None,
                 n_items: int = 0) -> None:
        self.m_bits = m_bits
        self.k = k
        self.bits = bits if bits is not None else np.zeros(m_bits // 8, dtype=np.uint8)
        self.n_items = n_items

    @classmethod
    def sized_for(cls, n_items: int, fpp: float = DEFAULT_FPP) -> "BloomPartition":
        m = optimal_bits(n_items, fpp)
        return cls(m, optimal_hashes(m, n_items))

    @classmethod
    def from_bytes(cls, payload: bytes) -> "BloomPartition":
        """Layout: 4B k (LE) | 8B n_items (LE) | bit array.

        Rejects payloads no `to_bytes` can produce (k outside 1..16, or
        no bit array) — e.g. a foreign filter's header, whose k would
        otherwise size the (k, n) index matrix in `_indexes`."""
        k = int.from_bytes(payload[:4], "little")
        if not 1 <= k <= 16 or len(payload) <= 12:
            raise ValueError(
                f"not a bloom partition payload: k={k}, "
                f"{max(len(payload) - 12, 0)} bit-array bytes"
            )
        n_items = int.from_bytes(payload[4:12], "little")
        bits = np.frombuffer(payload[12:], dtype=np.uint8).copy()
        return cls(len(bits) * 8, k, bits, n_items)

    def to_bytes(self) -> bytes:
        return (
            int(self.k).to_bytes(4, "little")
            + int(self.n_items).to_bytes(8, "little")
            + self.bits.tobytes()
        )

    def _indexes(self, hashes: np.ndarray) -> np.ndarray:
        h1, h2 = _split_hash(np.asarray(hashes, dtype=np.int64))
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        return ((h1[None, :] + i * h2[None, :]) % np.uint64(self.m_bits)).astype(
            np.int64
        )

    def add(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        idx = self._indexes(hashes).ravel()
        np.bitwise_or.at(self.bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))
        self.n_items += len(hashes)

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorised probe → bool array (no false negatives)."""
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        idx = self._indexes(hashes)  # (k, n)
        bit_set = (self.bits[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1
        return bit_set.all(axis=0).astype(bool)
