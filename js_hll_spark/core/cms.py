"""Count-min sketch (Cormode & Muthukrishnan 2005): point-frequency
estimates with one-sided error — overcount <= e/width * N with probability
1 - e^-depth. Same commutative-monoid merge contract as HLL (element-wise
+), so it rides the identical partial/tree-merge Spark harness
(SURVEY.md §2.3).

Row hashes derive from one 64-bit input hash via Kirsch-Mitzenmacher
double hashing: pos_i = (h1 + i*h2) mod width — vectorized on uint64.
"""

from __future__ import annotations

import struct

import numpy as np

_U = np.uint64
_MAGIC = b"CMS1"
_TOPK_MAGIC = b"CMK1"


def _mix(h: np.ndarray) -> np.ndarray:
    """fmix64 finalizer — decorrelates h2 from h1."""
    with np.errstate(over="ignore"):
        h = h ^ (h >> _U(33))
        h = h * _U(0xFF51AFD7ED558CCD)
        h = h ^ (h >> _U(33))
        h = h * _U(0xC4CEB9FE1A85EC53)
        return h ^ (h >> _U(33))


def km_positions(hashes: np.ndarray, rows: int, modulus: int) -> np.ndarray:
    """Kirsch–Mitzenmacher double hashing: a (rows, n) int64 index matrix
    h1 + i*h2 mod ``modulus``, shared by CMS (rows=depth, modulus=width)
    and Bloom (rows=n_hashes, modulus=n_bits)."""
    h1 = hashes.astype(_U, copy=False)
    h2 = _mix(h1) | _U(1)
    with np.errstate(over="ignore"):
        return np.stack(
            [
                ((h1 + _U(i) * h2) % _U(modulus)).astype(np.int64)
                for i in range(rows)
            ]
        )


class CountMinSketch:
    __slots__ = ("depth", "width", "table", "total")

    def __init__(self, depth: int = 5, width: int = 2048) -> None:
        if depth < 1 or width < 2:
            raise ValueError("depth >= 1 and width >= 2 required")
        self.depth = depth
        self.width = width
        self.table = np.zeros((depth, width), dtype=np.int64)
        self.total = 0

    def _positions(self, hashes: np.ndarray) -> np.ndarray:
        """(depth, n) matrix of table column indexes."""
        return km_positions(hashes, self.depth, self.width)

    def update_hashed(self, hashes: np.ndarray, counts: np.ndarray | None = None) -> None:
        pos = self._positions(hashes)
        if counts is None:
            for i in range(self.depth):
                np.add.at(self.table[i], pos[i], 1)
            self.total += int(hashes.size)
        else:
            c = counts.astype(np.int64, copy=False)
            for i in range(self.depth):
                np.add.at(self.table[i], pos[i], c)
            self.total += int(c.sum())

    def query_hashed(self, hashes: np.ndarray) -> np.ndarray:
        pos = self._positions(hashes)
        ests = np.stack(
            [self.table[i][pos[i]] for i in range(self.depth)]
        )
        return ests.min(axis=0)

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        if (other.depth, other.width) != (self.depth, self.width):
            raise ValueError("count-min shape mismatch")
        self.table += other.table
        self.total += other.total
        return self

    def to_bytes(self) -> bytes:
        head = _MAGIC + struct.pack("<iiq", self.depth, self.width, self.total)
        return head + self.table.astype("<i8").tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "CountMinSketch":
        if data[:4] != _MAGIC:
            raise ValueError("not a CMS1 blob")
        depth, width, total = struct.unpack_from("<iiq", data, 4)
        expect = 20 + depth * width * 8
        if len(data) != expect:
            raise ValueError(
                f"truncated/oversized CMS1 blob: {len(data)} bytes, "
                f"header declares {expect}"
            )
        out = cls(depth, width)
        out.total = total
        out.table = (
            np.frombuffer(data, dtype="<i8", offset=20)
            .reshape(depth, width)
            .astype(np.int64)
        )
        return out

    @property
    def relative_error(self) -> float:
        return float(np.e) / self.width


class CountMinTopK:
    """A count-min sketch plus a bounded candidate list for top-k
    queries over PRE-COUNTED input: each update brings distinct values
    with their exact counts and 64-bit hashes (each value once per
    sketch, so the counts are exact too). The list keeps the ``pool``
    largest counts, ties broken by ascending value. ``merge`` sums the
    tables and unions the lists untruncated; ``top`` ranks candidates by
    their count-min estimate, so answers keep CMS error semantics."""

    __slots__ = ("cms", "pool", "values", "hashes", "counts")

    def __init__(self, depth: int = 5, width: int = 2048, pool: int = 200) -> None:
        self.cms = CountMinSketch(depth, width)
        self.pool = pool
        self.values = np.empty(0, dtype=object)
        self.hashes = np.empty(0, dtype=_U)
        self.counts = np.empty(0, dtype=np.int64)

    def _extend(self, values, hashes, counts) -> None:
        self.values = np.concatenate([self.values, values])
        self.hashes = np.concatenate([self.hashes, hashes.astype(_U, copy=False)])
        self.counts = np.concatenate([self.counts, counts.astype(np.int64, copy=False)])

    def update(self, values: np.ndarray, hashes: np.ndarray, counts: np.ndarray) -> None:
        self.cms.update_hashed(hashes, counts)
        self._extend(values, hashes, counts)
        if len(self.values) > self.pool:
            keep = np.lexsort((self.values, -self.counts))[: self.pool]
            self.values = self.values[keep]
            self.hashes = self.hashes[keep]
            self.counts = self.counts[keep]

    def merge(self, other: "CountMinTopK") -> "CountMinTopK":
        self.cms.merge(other.cms)
        self._extend(other.values, other.hashes, other.counts)
        return self

    def top(self, k: int) -> tuple[list, list]:
        """(values, estimates) of the k highest-estimate candidates,
        estimate descending then value ascending."""
        est = self.cms.query_hashed(self.hashes)
        order = np.lexsort((self.values, -est))[:k]
        return self.values[order].tolist(), est[order].tolist()

    def to_bytes(self) -> bytes:
        cms = self.cms.to_bytes()
        enc = [v.encode("utf-8") for v in self.values]
        return b"".join(
            [
                _TOPK_MAGIC,
                struct.pack("<iqi", self.pool, len(cms), len(enc)),
                cms,
                self.hashes.astype("<u8").tobytes(),
                self.counts.astype("<i8").tobytes(),
                np.array([len(b) for b in enc], dtype="<i4").tobytes(),
                *enc,
            ]
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "CountMinTopK":
        if data[:4] != _TOPK_MAGIC:
            raise ValueError("not a CMK1 blob")
        pool, n_cms, n = struct.unpack_from("<iqi", data, 4)
        off = 20 + n_cms
        out = cls(pool=pool)
        out.cms = CountMinSketch.from_bytes(data[20:off])
        out.hashes = np.frombuffer(data, "<u8", n, off).astype(_U)
        out.counts = np.frombuffer(data, "<i8", n, off + 8 * n).astype(np.int64)
        lens = np.frombuffer(data, "<i4", n, off + 16 * n)
        bounds = off + 20 * n + np.concatenate([[0], np.cumsum(lens)])
        if bounds[-1] != len(data):
            raise ValueError(f"truncated/oversized CMK1 blob: {len(data)} bytes")
        out.values = np.array(
            [data[a:b].decode("utf-8") for a, b in zip(bounds[:-1], bounds[1:])],
            dtype=object,
        )
        return out
