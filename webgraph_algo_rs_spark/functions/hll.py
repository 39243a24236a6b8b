"""HyperLogLog kernel — vectorized numpy port of the reference's counter
logic (`/root/reference/src/utils/hyper_log_log/hyper_log_log_logic.rs`).

The reference packs registers into machine words and merges them with a
branchless word-parallel max (`hyper_log_log_logic.rs:461-568`); we keep
registers as plain ``uint8`` numpy arrays (one byte per register,
serialized to a Spark ``binary`` column) and merge with
``np.maximum`` — the bit-twiddling exists only because the reference
bit-packs, which Arrow/Parquet encoding makes unnecessary (SURVEY §4).

Everything here is batch-vectorized: ``add``/``estimate`` operate on
whole batches of counters at once, never per element.

Kernel map (SURVEY §2.4):

* K1 ``add`` — hash → register index ``j = x & (m−1)``, value
  ``ρ = trailing_zeros((x >> log2m) | sentinel) + 1``, register = max
  (`hyper_log_log_logic.rs:144-159`).
* K2 ``estimate`` — harmonic mean ``α·m²/Σ2^{−reg}`` with small-range
  linear-counting correction (`hyper_log_log_logic.rs:161-178`).
* K3 merge — ``np.maximum`` (replaces `merge_hyperloglog_bitwise`).
* K4 parameter math — ``log2m`` from target RSD, RSD per ``log2m``, α
  constants (`hyper_log_log_logic.rs:267-295,380-385`).
* K5/K6 counter abstraction — :class:`HllParams` + the ``binary``
  sketch column contract used by ``operators.hyperball``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

# splitmix64 constants — public-domain mixer (Steele et al.); the
# reference pins a Jenkins hasher + seed 42 for its golden test
# (`tests/test_hyperball.rs:159-165`); we pin splitmix64 + an explicit
# seed for the same reproducibility guarantee.
_SM64_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM64_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM64_M2 = np.uint64(0x94D049BB133111EB)


def splitmix64(x: np.ndarray, seed: int = 42) -> np.ndarray:
    """Vectorized 64-bit finalizer hash of an int64/uint64 array."""
    z = x.astype(np.uint64, copy=True)
    # python-int modular arithmetic avoids numpy scalar-overflow warnings
    z += np.uint64(((seed + 1) * 0x9E3779B97F4A7C15) % (1 << 64))
    z ^= z >> np.uint64(30)
    z *= _SM64_M1
    z ^= z >> np.uint64(27)
    z *= _SM64_M2
    z ^= z >> np.uint64(31)
    return z


def jenkins64(x: np.ndarray, seed: int = 42) -> np.ndarray:
    """Vectorized one-word Jenkins hash — byte-compatible with the Java
    ``HyperLogLogCounterArray`` hasher the reference pins for its golden
    cnr-2000 test (`tests/test_hyperball.rs:16-165`: a=b=seed,
    c=0x9e3779b97f4a7c13, one digest round of the 64-bit Jenkins mix,
    result = c). All arithmetic is uint64-wrapping; shifts are logical.
    """
    x = x.astype(np.uint64, copy=False)
    a = np.uint64(seed % (1 << 64)) + x
    b = np.full_like(x, np.uint64(seed % (1 << 64)))
    c = np.full_like(x, np.uint64(0x9E3779B97F4A7C13))
    a -= b; a -= c; a ^= c >> np.uint64(43)  # noqa: E702
    b -= c; b -= a; b ^= a << np.uint64(9)  # noqa: E702
    c -= a; c -= b; c ^= b >> np.uint64(8)  # noqa: E702
    a -= b; a -= c; a ^= c >> np.uint64(38)  # noqa: E702
    b -= c; b -= a; b ^= a << np.uint64(23)  # noqa: E702
    c -= a; c -= b; c ^= b >> np.uint64(5)  # noqa: E702
    a -= b; a -= c; a ^= c >> np.uint64(35)  # noqa: E702
    b -= c; b -= a; b ^= a << np.uint64(49)  # noqa: E702
    c -= a; c -= b; c ^= b >> np.uint64(11)  # noqa: E702
    a -= b; a -= c; a ^= c >> np.uint64(12)  # noqa: E702
    b -= c; b -= a; b ^= a << np.uint64(18)  # noqa: E702
    c -= a; c -= b; c ^= b >> np.uint64(22)  # noqa: E702
    return c


def register_size(n: int) -> int:
    """Register width in bits for an upper bound of ``n`` elements
    (`hyper_log_log_logic.rs:293-295`: max(5, ⌈log₂log₂n⌉))."""
    return max(5, int(math.ceil(math.log2(math.log2(max(n, 4))))))


def alpha(m: int) -> float:
    """Bias-correction constant (`hyper_log_log_logic.rs:380-385`)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def rsd(log2m: int) -> float:
    """Relative standard deviation for 2^log2m registers
    (`hyper_log_log_logic.rs:267-271`)."""
    return 1.106 / math.sqrt(float(1 << log2m))


def log2m_for_rsd(target_rsd: float) -> int:
    """Smallest log2m achieving the target RSD
    (`hyper_log_log_logic.rs:273-277`)."""
    return int(math.ceil(math.log2((1.106 / target_rsd) ** 2)))


# 2^-k for every possible uint8 register value; integer powers of two
# are exactly representable, so table lookup ≡ np.power bit-for-bit
_POW2_NEG = np.power(2.0, -np.arange(256, dtype=np.float64))


@dataclass(frozen=True)
class HllParams:
    """Counter-logic parameters (K5 analog of ``HyperLogLogCounterLogic``).

    ``hasher``: ``"splitmix64"`` (default) or ``"jenkins"`` — the latter
    reproduces the reference's golden-array setup bit-for-bit
    (`tests/test_hyperball.rs:159-165`). ``n_upper``: optional element
    upper bound; when set, the sentinel mask uses the reference's
    register-size formula (`hyper_log_log_logic.rs:378-379`:
    ``1 << ((1 << register_size(n)) − 2)``), required for golden parity;
    unset keeps the effectively-uncapped ``1 << 63`` sentinel.
    """

    log2m: int = 8
    seed: int = 42
    hasher: str = "splitmix64"
    n_upper: int | None = None

    @property
    def m(self) -> int:
        return 1 << self.log2m

    @property
    def sentinel(self) -> np.uint64:
        if self.n_upper is None:
            return np.uint64(1) << np.uint64(63)
        return np.uint64(1) << np.uint64((1 << register_size(self.n_upper)) - 2)

    def _hash(self, elements: np.ndarray) -> np.ndarray:
        if self.hasher == "jenkins":
            return jenkins64(np.asarray(elements, dtype=np.int64), self.seed)
        return splitmix64(np.asarray(elements, dtype=np.int64), self.seed)

    @property
    def alpha(self) -> float:
        return alpha(self.m)

    @property
    def rsd(self) -> float:
        return rsd(self.log2m)

    # ---------------------------------------------------------------- K1
    def add(self, regs: np.ndarray, elements: np.ndarray) -> None:
        """Fold ``elements[i]`` into counter row ``regs[i]`` in place.

        ``regs``: (n, m) uint8; ``elements``: (n,) integer ids.
        Mirrors `hyper_log_log_logic.rs:144-159`: low ``log2m`` hash bits
        pick the register, the remaining bits' trailing-zero count + 1 is
        the candidate value; a sentinel bit bounds ρ.
        """
        h = self._hash(elements)
        j = (h & np.uint64(self.m - 1)).astype(np.int64)
        rest = (h >> np.uint64(self.log2m)) | self.sentinel
        rho = (_trailing_zeros(rest) + 1).astype(np.uint8)
        rows = np.arange(regs.shape[0])
        regs[rows, j] = np.maximum(regs[rows, j], rho)

    def add_multi(
        self, regs: np.ndarray, rows: np.ndarray, elements: np.ndarray
    ) -> None:
        """Fold ``elements[i]`` into counter row ``rows[i]`` in place —
        many elements per counter (weighted-node init), unbuffered max
        scatter."""
        h = self._hash(elements)
        j = (h & np.uint64(self.m - 1)).astype(np.int64)
        rest = (h >> np.uint64(self.log2m)) | self.sentinel
        rho = (_trailing_zeros(rest) + 1).astype(np.uint8)
        np.maximum.at(regs, (np.asarray(rows, dtype=np.int64), j), rho)

    # ---------------------------------------------------------------- K2
    def estimate(self, regs: np.ndarray) -> np.ndarray:
        """Cardinality estimates for a (n, m) uint8 register batch
        (`hyper_log_log_logic.rs:161-178`).

        ``2^-reg`` comes from a 256-entry lookup table — bit-identical
        to the elementwise ``np.power`` it replaces (integer powers of
        two are exact in float64) and ~10× faster on wide batches (the
        pow was the hot path of both the distributed ``est_udf`` and
        the local kernel)."""
        regs = np.ascontiguousarray(regs)
        m = float(self.m)
        # fancy indexing, NOT .take: on uint8 index arrays take() falls
        # off numpy's fast path (measured 12.6 s vs 0.4 s on a 325k×256
        # batch)
        harm = _POW2_NEG[regs].sum(axis=1)
        est = self.alpha * m * m / harm
        zeros = (regs == 0).sum(axis=1)
        # strict < matches the reference exactly (`:173`)
        small = (est < 2.5 * m) & (zeros > 0)
        with np.errstate(divide="ignore"):
            linear = m * np.log(m / np.maximum(zeros, 1).astype(np.float64))
        return np.where(small, linear, est)

    # ---------------------------------------------------------------- K3
    @staticmethod
    def merge(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        """Register-wise max union (replaces the word-parallel kernel
        `hyper_log_log_logic.rs:461-568`)."""
        return np.maximum(a, b)

    # -------------------------------------------------- column contract
    def empty(self, n: int) -> np.ndarray:
        return np.zeros((n, self.m), dtype=np.uint8)

    def singletons(self, elements: np.ndarray) -> np.ndarray:
        """Counter i initialized with element i — HyperBall's init
        (`/root/reference/src/algo/hyperball/hyperball_impl.rs:1161-1163`)."""
        regs = self.empty(len(elements))
        self.add(regs, elements)
        return regs

    def weighted(self, vertices: np.ndarray, weights: np.ndarray) -> np.ndarray:
        """Counter i initialized with ``weights[i]`` distinct elements —
        HyperBall's weighted init (`hyperball_impl.rs:41-42,1150-1159`).
        The reference draws them at random; element k of vertex v is
        ``(v << 24) + k`` here (vertex ids < 2^39, weights < 2^24)."""
        regs = self.empty(len(vertices))
        rows = np.repeat(np.arange(len(vertices)), weights)
        csum = np.concatenate(([0], np.cumsum(weights)[:-1]))
        k = np.arange(rows.size, dtype=np.int64) - np.repeat(csum, weights)
        self.add_multi(regs, rows, np.repeat(vertices, weights) * np.int64(1 << 24) + k)
        return regs

    @staticmethod
    def to_bytes(regs: np.ndarray) -> list[bytes]:
        """(n, m) uint8 → list of m-byte payloads for a binary column."""
        return [row.tobytes() for row in regs]

    def from_bytes(self, blobs) -> np.ndarray:
        """Binary column values → (n, m) uint8 matrix."""
        if len(blobs) == 0:
            return self.empty(0)
        return np.frombuffer(b"".join(blobs), dtype=np.uint8).reshape(-1, self.m)


def _trailing_zeros(x: np.ndarray) -> np.ndarray:
    """Vectorized count-trailing-zeros for uint64 (x must be nonzero)."""
    # isolate lowest set bit, its log2 is the trailing-zero count
    low = x & (~x + np.uint64(1))
    # float64 mantissa is exact for single-bit values up to 2^63
    return np.log2(low.astype(np.float64)).astype(np.int64)
