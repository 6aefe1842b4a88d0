"""HyperLogLog — distinct-count sketch (north-rule extension, not in the
reference; SURVEY.md §2.7).

Flajolet–Fuss–Gandouet–Meunier 2007 registers over a 64-bit hash, read
by Ertl's improved estimator (arXiv:1702.01284, Alg. 6), which is unbiased
across the whole range with no empirical bias tables and no switch between
linear counting and the raw estimate.  State: m = 2^b uint8 registers.

  register index = top b bits of the 64-bit hash
  rank           = leading zeros of the remaining q = 64-b bits + 1 (≤ q+1)
  merge          = element-wise max (associative, commutative, idempotent)
  estimate       = m² / (2 ln 2 · z), z from the register histogram
                   (± 1.04/√m std error)
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from ..core import hashing
from ..core.serde import Reader, pack_u32, pack_u64
from .base import register


@dataclass(frozen=True)
class HLLParams:
    b: int = 14  # precision: m = 2^b registers
    seed: int = hashing.DEFAULT_SEED
    m: int = field(init=False)

    def __post_init__(self):
        if not (4 <= self.b <= 18):
            raise ValueError("HLL precision b must be in [4, 18]")
        object.__setattr__(self, "m", 1 << self.b)

    @property
    def std_error(self) -> float:
        return 1.04 / (self.m ** 0.5)


def _sigma(x: float) -> float:
    """σ(x) = x + Σ_k x^(2^k) 2^(k-1) — the all-zero-register correction."""
    if x == 1.0:
        return float("inf")
    y, z = 1.0, x
    while True:
        x *= x
        z_old, z = z, z + x * y
        y += y
        if z == z_old:
            return z


def _tau(x: float) -> float:
    """τ(x) = (1 - x - Σ_k (1 - x^(2^-k))² 2^-k) / 3 — the saturated-
    register correction."""
    if x == 0.0 or x == 1.0:
        return 0.0
    y, z = 1.0, 1.0 - x
    while True:
        x = math.sqrt(x)
        z_old = z
        y *= 0.5
        z -= (1.0 - x) ** 2 * y
        if z == z_old:
            return z / 3.0


@register
class HLLSketch:
    kind = "hll"

    def __init__(self, params: HLLParams):
        self.params = params

    def empty(self) -> np.ndarray:
        return np.zeros(self.params.m, dtype=np.uint8)

    def _update_hashes(self, state: np.ndarray, h: np.ndarray) -> None:
        b = self.params.b
        idx = (h >> np.uint64(64 - b)).astype(np.int64)
        rest = (h << np.uint64(b)).astype(np.uint64)
        rank = np.minimum(hashing.clz64(rest), 64 - b).astype(np.uint8) + np.uint8(1)
        hashing.max_reduce_at(state, idx, rank)

    def update_i32(self, state, values) -> None:
        # registers are a max over hashed values — multiplicity never
        # matters, so collapse duplicates before hashing (bit-identical
        # state; zipfian token batches shrink ~31×)
        packed = hashing.compact_i32_counts(values)
        if packed is not None:
            values = packed[0]
        self._update_hashes(state, hashing.hash64_i32(values, self.params.seed))

    def update_i64(self, state, values) -> None:
        self._update_hashes(state, hashing.hash64_i64(values, self.params.seed))

    def update_str(self, state, values) -> None:
        self._update_hashes(state, hashing.hash64_str(values, self.params.seed))

    def merge(self, a, b) -> np.ndarray:
        return np.maximum(a, b)

    def estimate(self, state: np.ndarray) -> float:
        q = 64 - self.params.b
        m = float(self.params.m)
        c = np.bincount(state, minlength=q + 2).tolist()
        z = m * _tau(1.0 - c[q + 1] / m)
        for k in range(q, 0, -1):
            z = 0.5 * (z + c[k])
        z += m * _sigma(c[0] / m)
        return m * m / (2.0 * math.log(2.0) * z)

    def serialize(self, state: np.ndarray) -> bytes:
        """LE u32 b | u64 seed | u8 mode | payload.

        Format v2 (round 2): NOT backward-compatible with v1 blobs (which
        had registers directly after the seed) — v1 blobs were never
        persisted beyond a single run (checkpoints are per-run), so no
        migration path is carried.

        mode 0 = dense (m raw registers); mode 1 = SPARSE — u32 count then
        count × (u32 idx | u8 rank).  Sparse is chosen automatically when it
        is smaller (occupied < ~m/5): per-group sketches over small groups
        dominate grouped-build shuffle volume at scale, and a b=14 group
        with 100 distinct items shrinks from 16 KiB to ~500 B.
        """
        p = self.params
        head = pack_u32(p.b) + pack_u64(p.seed)
        nz = np.flatnonzero(state)
        if nz.size * 5 + 4 < p.m:
            return (head + b"\x01" + pack_u32(nz.size)
                    + nz.astype("<u4").tobytes()
                    + state[nz].astype(np.uint8).tobytes())
        return head + b"\x00" + state.tobytes()

    @classmethod
    def deserialize(cls, blob: bytes):
        r = Reader(blob)
        b = r.u32()
        seed = r.u64()
        mode = int(r.array(np.uint8, 1)[0])
        if mode == 1:
            cnt = r.u32()
            idx = r.array("<u4", cnt).astype(np.int64)
            ranks = r.array(np.uint8, cnt)
            state = np.zeros(1 << b, dtype=np.uint8)
            state[idx] = ranks
        else:
            state = r.array(np.uint8, 1 << b)
        return cls(HLLParams(b=b, seed=seed)), state
