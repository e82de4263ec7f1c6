"""Numpy HyperLogLog core with EXPLICIT -> SPARSE -> FULL promotion.

Estimator math, register-update semantics, union and fold follow the
reference (js-hll, /root/reference/src/hll.js) exactly, with two deliberate
upgrades documented in SURVEY.md §1.2/§1.3:

- rho examines the full 64-bit substream (js-hll only looks at the lower
  32 bits, src/hll.js:249-253 — a JS artifact, not the spec);
- native EXPLICIT and SPARSE in-RAM modes with promotion (js-hll promotes
  everything to FULL on decode, README.markdown:6).

All hot paths are numpy-vectorized over ``uint64`` arrays — this module is
what runs inside Arrow-batched pandas UDFs on executors.
"""

from __future__ import annotations

import math

import numpy as np

from ..config import (
    ALG_EMPTY,
    ALG_EXPLICIT,
    ALG_FULL,
    ALG_SPARSE,
    HLLConfig,
    default_cutoff_byte,
)

_U64_ONE = np.uint64(1)


def rho64(w: np.ndarray, max_register_value: int) -> np.ndarray:
    """Vectorized 1-based least-significant-set-bit position of each uint64,
    capped at ``max_register_value``; 0 maps to 0 (java-hll p(0)=0 convention).

    Reference scalar semantics: src/hll.js:248-255 (minus the 32-bit quirk).
    Uses the isolate-lowest-bit + float64-exponent trick: every power of two
    up to 2**63 is exact in float64, and frexp(2**k) = (0.5, k+1).
    """
    w = w.astype(np.uint64, copy=False)
    lowest = w & (~w + _U64_ONE)
    _, exp = np.frexp(lowest.astype(np.float64))
    return np.minimum(exp, max_register_value).astype(np.uint8)


def registers_from_hashes(hashes: np.ndarray, config: HLLConfig) -> np.ndarray:
    """Build a FULL register file from an array of 64-bit hashed values.

    Register index = low ``log2m`` bits (LSB indexing, src/hll.js:265);
    register value = rho(h >> log2m) (src/hll.js:266-267); max-merge.
    """
    regs = np.zeros(config.m, dtype=np.uint8)
    update_registers(regs, hashes, config)
    return regs


def update_registers(regs: np.ndarray, hashes: np.ndarray, config: HLLConfig) -> None:
    """In-place max-merge a batch of 64-bit hashes into ``regs``."""
    h = hashes.astype(np.uint64, copy=False)
    idx = (h & np.uint64(config.register_index_mask)).astype(np.int64)
    val = rho64(h >> np.uint64(config.log2m), config.max_register_value)
    np.maximum.at(regs, idx, val)


# 2^-r for every possible register value (rw=8 -> max 255): computed once,
# sliced per call — the same exp2 float64 values as a per-call arange
_NEG_POW2 = np.exp2(-np.arange(256, dtype=np.float64))


def estimate_from_registers(regs: np.ndarray, config: HLLConfig) -> float:
    """Flajolet estimator with small/large-range corrections
    (src/hll.js:276-299) over a FULL register file; see
    :func:`estimate_from_counts`."""
    return estimate_from_counts(
        np.bincount(regs, minlength=config.max_register_value + 1), config
    )


def estimate_from_counts(counts: np.ndarray, config: HLLConfig) -> float:
    """The estimator and its correction ladder over the register-value
    histogram (``counts[r]`` = registers holding r; ``counts[0]`` = zero
    registers) — the one body behind every representation. Returns NaN
    when the large-range log argument is negative (JS Math.log
    semantics; the reference test maps this case to NaN,
    test/hll-test.js:458-480) and +inf when it is exactly zero.
    """
    m = config.m
    zeroes = int(counts[0])
    # sum(2**-M[j]) grouped by register value: each term count*2**-r is an
    # exact float64 product, so this matches index-order summation to <1ulp.
    indicator = float(np.dot(counts, _NEG_POW2[: len(counts)]))

    estimator = config.alpha_m_squared / indicator
    if zeroes != 0 and estimator < config.small_estimator_cutoff:
        return m * math.log(m / zeroes)
    if estimator <= config.large_estimator_cutoff:
        return estimator
    x = 1.0 - estimator / config.two_to_l
    if x < 0.0:
        return float("nan")
    if x == 0.0:
        return float("inf")
    return -config.two_to_l * math.log(x)


def estimate_many(regs: np.ndarray, config: HLLConfig) -> np.ndarray:
    """Batched :func:`estimate_from_registers` over a (n, m) register
    matrix — bit-identical per row (same bincount+dot arithmetic and the
    same scalar correction branches).

    Batching note (VERDICT r3 #6, measured on this box): the kernel IS
    the histogram — np.bincount over one 8192-register file costs
    ~12.4 us (~1.5 ns/register, a generic C counting pass), and every
    "more vectorized" formulation loses: a single offset-bincount over
    the raveled matrix pays an n*m int64 materialization (21k est/s),
    np.add.at scatter is ~9k/s, and a LUT-gather row-sum writes n*m
    float64 (29k/s) — all slower than per-row bincount (~70k/s). So the
    batch API's win is limited to shaving the per-call object/dispatch
    overhead; the residual gap to a JIT-fused scalar loop (the
    reference's ~92.7k/s single-call leg) is structural to numpy. See
    BENCH/BASELINE.md for the A/B table.

    Delegates to :func:`estimate_from_registers` per row — ONE estimator
    body to maintain, and the bit-identical contract holds by
    construction rather than by keeping two copies in sync."""
    return np.array(
        [estimate_from_registers(r, config) for r in regs], dtype=np.float64
    )


def fold_registers(
    regs: np.ndarray,
    config: HLLConfig,
    new_log2m: int,
    *,
    reference_compat: bool = False,
) -> np.ndarray:
    """Reduce precision: new[i] = min(old[i] + (log2m - new_log2m), maxReg)
    over the first 2**new_log2m registers only (src/hll.js:363-398; upper
    half provably ignorable when registers are occupied — see the AK
    "choosing the right bits" analysis cited there).

    Zero-register contract: by default a zero register stays zero — no
    hash landed at that (low) index, so this matches direct-build
    semantics exactly (the stronger property; fold == build-at-target on
    dense inputs). The reference writes ``old + diff`` unconditionally
    (src/hll.js:394-396), which inflates small-range estimates on sparse
    register files but is what js-hll/java-hll emit —
    ``reference_compat=True`` reproduces that byte-for-byte for consumers
    comparing against reference-folded sketches."""
    if new_log2m == config.log2m:
        return regs.copy()
    if new_log2m < 4 or new_log2m > config.log2m:
        # js-hll allows folding to 1..3 whose alpha lookup then throws at
        # estimate time (explicit non-goal, SURVEY.md §7) — we reject early.
        raise ValueError(
            f"fold target must be in [4, {config.log2m}], got {new_log2m}"
        )
    diff = config.log2m - new_log2m
    folded_m = 1 << new_log2m
    out = regs[:folded_m].astype(np.int32) + diff
    if not reference_compat:
        out[regs[:folded_m] == 0] = 0
    return np.minimum(out, config.max_register_value).astype(np.uint8)


class HLL:
    """A mergeable HLL sketch with native EXPLICIT/SPARSE/FULL modes.

    ``explicit_threshold``: max exact values kept before promoting to
    SPARSE (or FULL if sparse is disabled); 0 disables EXPLICIT entirely.
    ``sparse_on``: whether the SPARSE tier is used.
    """

    __slots__ = ("config", "explicit_threshold", "sparse_on", "cutoff_byte",
                 "_explicit", "_sparse", "_regs")

    def __init__(
        self,
        config: HLLConfig | None = None,
        *,
        log2m: int | None = None,
        regwidth: int | None = None,
        explicit_threshold: int | str = "auto",
        sparse_on: bool = True,
        cutoff_byte: int | None = None,
    ) -> None:
        if config is None:
            config = HLLConfig(log2m or 13, regwidth or 5)
        self.config = config
        if explicit_threshold == "auto":
            self.explicit_threshold = config.explicit_threshold(63)
            auto = True
        else:
            self.explicit_threshold = int(explicit_threshold)
            auto = False
        self.sparse_on = sparse_on
        self.cutoff_byte = (
            cutoff_byte
            if cutoff_byte is not None
            else default_cutoff_byte(
                explicit_auto=auto,
                sparse_on=sparse_on,
                explicit_threshold=self.explicit_threshold,
            )
        )
        self._explicit: set[int] | None = (
            set() if self.explicit_threshold > 0 else None
        )
        self._sparse: dict[int, int] | None = None
        self._regs: np.ndarray | None = None
        if self._explicit is None:
            if self.sparse_on:
                self._sparse = {}
            else:
                self._regs = np.zeros(config.m, dtype=np.uint8)

    # ------------------------------------------------------------- mode --

    @property
    def algorithm(self) -> int:
        if self._regs is not None:
            return ALG_FULL
        if self._sparse is not None:
            return ALG_SPARSE if self._sparse else (
                ALG_EMPTY if self._explicit is None else ALG_SPARSE
            )
        return ALG_EXPLICIT if self._explicit else ALG_EMPTY

    @property
    def storage_algorithm(self) -> int:
        """Algorithm code used when serializing. Explicit/sparse modes
        with no content write the 3-byte EMPTY form; a full-mode register
        file serializes as FULL even when all zero — js-hll parity (its
        encoder writes schema-1 FULL unconditionally, src/hll.js:436)."""
        if self._regs is not None:
            return ALG_FULL
        if self._sparse:
            return ALG_SPARSE
        if self._explicit:
            return ALG_EXPLICIT
        return ALG_EMPTY

    def is_empty(self) -> bool:
        """True when no value has been added (content-free in ANY mode,
        including an all-zero full-mode register file)."""
        if self._explicit:
            return False
        if self._sparse:
            return False
        if self._regs is not None:
            return not self._regs.any()
        return True

    def registers(self) -> np.ndarray:
        """Materialize a FULL register view without changing the mode."""
        if self._regs is not None:
            return self._regs
        regs = np.zeros(self.config.m, dtype=np.uint8)
        if self._sparse:
            idx = np.fromiter(self._sparse.keys(), dtype=np.int64)
            val = np.fromiter(self._sparse.values(), dtype=np.uint8)
            regs[idx] = val
        elif self._explicit:
            update_registers(
                regs,
                np.fromiter(self._explicit, dtype=np.uint64),
                self.config,
            )
        return regs

    # ---------------------------------------------------------- updates --

    def add_raw(self, value: int) -> "HLL":
        """Add one already-hashed 64-bit value (signed or unsigned int)."""
        self.add_raw64(np.array([value & 0xFFFFFFFFFFFFFFFF], dtype=np.uint64))
        return self

    def add_raw64(self, hashes: np.ndarray) -> "HLL":
        """Vectorized addRaw over an array of uint64 hashed values."""
        if hashes.size == 0:
            return self
        h = hashes.astype(np.uint64, copy=False)
        if self._explicit is not None:
            # dedup the batch in numpy first: per-element Python int()
            # conversion dominated for explicit-heavy workloads (the
            # oracled intersection query lives at log2m=16 / threshold
            # 4096 and never promotes)
            self._explicit.update(np.unique(h).tolist())
            if len(self._explicit) > self.explicit_threshold:
                self._promote_explicit()
            return self
        if self._sparse is not None:
            self._sparse_update(h)
            return self
        update_registers(self._regs, h, self.config)
        return self

    def _sparse_update(self, h: np.ndarray) -> None:
        cfg = self.config
        idx = (h & np.uint64(cfg.register_index_mask)).astype(np.int64)
        val = rho64(h >> np.uint64(cfg.log2m), cfg.max_register_value)
        order = np.argsort(idx, kind="stable")
        idx, val = idx[order], val[order]
        uidx, starts = np.unique(idx, return_index=True)
        umax = np.maximum.reduceat(val, starts)
        sp = self._sparse
        for i, v in zip(uidx.tolist(), umax.tolist()):
            if v and v > sp.get(i, 0):
                sp[i] = v
        if len(sp) > cfg.sparse_threshold:
            self._promote_sparse()

    def _promote_explicit(self) -> None:
        values = np.fromiter(self._explicit, dtype=np.uint64)
        self._explicit = None
        if self.sparse_on:
            self._sparse = {}
            self._sparse_update(values)
        else:
            self._regs = registers_from_hashes(values, self.config)

    def _promote_sparse(self) -> None:
        regs = np.zeros(self.config.m, dtype=np.uint8)
        if self._sparse:
            idx = np.fromiter(self._sparse.keys(), dtype=np.int64)
            val = np.fromiter(self._sparse.values(), dtype=np.uint8)
            regs[idx] = val
        self._sparse = None
        self._regs = regs

    def clear(self) -> "HLL":
        """Reset to empty (src/hll.js:420-426)."""
        self._regs = None
        self._sparse = None
        self._explicit = None
        if self.explicit_threshold > 0:
            self._explicit = set()
        elif self.sparse_on:
            self._sparse = {}
        else:
            self._regs = np.zeros(self.config.m, dtype=np.uint8)
        return self

    def clone(self) -> "HLL":
        out = HLL(
            self.config,
            explicit_threshold=self.explicit_threshold,
            sparse_on=self.sparse_on,
            cutoff_byte=self.cutoff_byte,
        )
        out._explicit = set(self._explicit) if self._explicit is not None else None
        out._sparse = dict(self._sparse) if self._sparse is not None else None
        out._regs = self._regs.copy() if self._regs is not None else None
        return out

    # ------------------------------------------------------------ merge --

    def union(self, other: "HLL", *, strict: bool = False) -> "HLL":
        """In-place union (mutates self, like src/hll.js:328-349).

        Unlike the reference (which throws on any shape mismatch), by
        default we implement its commented-out TODO (src/hll.js:336-341):
        a log2m mismatch folds the wider sketch down, and a regwidth
        mismatch clamps registers to the narrower width (exactly what
        building at the narrower width would have produced, since stored
        values are min(rho, maxreg)). ``strict=True`` restores throwing.
        """
        if other.config != self.config and strict:
            # the reference throws on shape mismatch regardless of
            # content — keep that contract ahead of the identity check
            raise ValueError(
                f"union of mismatched configs {self.config} vs"
                f" {other.config} (strict)"
            )
        # union with an empty sketch is the identity in EVERY mode
        # (postgresql-hll lattice: EMPTY is the bottom element) — without
        # this, EXPLICIT union empty-probabilistic would demote self and
        # turn an exact count into an estimate
        if other.is_empty():
            return self
        if other.config != self.config:
            return self._union_mismatched(other)

        # EXPLICIT x EXPLICIT stays exact (postgresql-hll semantics).
        if self._explicit is not None and other._explicit is not None:
            self._explicit |= other._explicit
            if len(self._explicit) > self.explicit_threshold:
                self._promote_explicit()
            return self
        # One side explicit: replay its values into the probabilistic side.
        if other._explicit is not None:
            if other._explicit:
                values = np.fromiter(other._explicit, dtype=np.uint64)
                self.add_raw64(values)
            return self
        if self._explicit is not None:
            values = (
                np.fromiter(self._explicit, dtype=np.uint64)
                if self._explicit
                else None
            )
            self._explicit = None
            if other._sparse is not None:
                self._sparse = dict(other._sparse)
                self._regs = None
            else:
                self._regs = other._regs.copy()
                self._sparse = None
            if values is not None:
                self.add_raw64(values)
            return self
        # SPARSE x SPARSE
        if self._sparse is not None and other._sparse is not None:
            sp = self._sparse
            for i, v in other._sparse.items():
                if v > sp.get(i, 0):
                    sp[i] = v
            if len(sp) > self.config.sparse_threshold:
                self._promote_sparse()
            return self
        # At least one FULL -> element-wise max (src/hll.js:345-346).
        if self._regs is None:
            self._promote_sparse()
        np.maximum(self._regs, other.registers(), out=self._regs)
        return self

    def _union_mismatched(self, other: "HLL") -> "HLL":
        target = HLLConfig(
            min(self.config.log2m, other.config.log2m),
            min(self.config.regwidth, other.config.regwidth),
        )
        folded_self = self.fold_to(target)
        folded_other = other.fold_to(target)
        folded_self.union(folded_other)
        self.config = target  # type: ignore[misc]
        self._explicit = folded_self._explicit
        self._sparse = folded_self._sparse
        self._regs = folded_self._regs
        return self

    # ------------------------------------------------------------- fold --

    def fold(self, new_log2m: int, *, reference_compat: bool = False) -> "HLL":
        """New sketch at reduced precision (src/hll.js:363-398).
        ``reference_compat`` reproduces js-hll's unconditional old+diff
        write into zero registers (see fold_registers)."""
        return self.fold_to(
            HLLConfig(new_log2m, self.config.regwidth),
            reference_compat=reference_compat,
        )

    def fold_to(
        self, target: HLLConfig, *, reference_compat: bool = False
    ) -> "HLL":
        if target.log2m > self.config.log2m or target.regwidth > self.config.regwidth:
            raise ValueError("can only fold to smaller log2m / narrower regwidth")
        if self._explicit is not None:
            out = HLL(
                target,
                explicit_threshold=self.explicit_threshold,
                sparse_on=self.sparse_on,
            )
            out._explicit = set(self._explicit)
            if len(out._explicit) > out.explicit_threshold:
                out._promote_explicit()
            return out
        regs = self.registers()
        if target.log2m < self.config.log2m:
            regs = fold_registers(
                regs, self.config, target.log2m, reference_compat=reference_compat
            )
        else:
            regs = regs.copy()
        np.minimum(regs, target.max_register_value, out=regs)
        out = HLL(target, explicit_threshold=0, sparse_on=False)
        out._regs = regs
        return out

    # --------------------------------------------------------- estimate --

    def algorithm_cardinality(self) -> float:
        if self._explicit is not None:
            return float(len(self._explicit))
        if self._sparse is not None:
            cfg = self.config
            counts = np.bincount(
                np.fromiter(self._sparse.values(), dtype=np.int64),
                minlength=cfg.max_register_value + 1,
            )
            # SPARSE holds only the non-zero registers
            counts[0] = cfg.m - len(self._sparse)
            return estimate_from_counts(counts, cfg)
        return estimate_from_registers(self._regs, self.config)

    def cardinality(self) -> int | float:
        """ceil of the float estimate (src/hll.js:306-308). A saturated
        sketch's NaN/inf estimate propagates unchanged — JS Math.ceil
        passes NaN and Infinity through, where math.ceil would raise."""
        est = self.algorithm_cardinality()
        if math.isnan(est) or math.isinf(est):
            return est
        return math.ceil(est)

    def cardinality_error(self) -> float:
        return self.config.relative_error

    # ----------------------------------------------------------- codec ---

    def to_bytes(self) -> bytes:
        from .. import codec

        return codec.encode(self)

    def to_hex(self) -> str:
        from .. import codec

        return codec.to_hex(codec.encode(self))

    @classmethod
    def from_bytes(cls, data: bytes) -> "HLL":
        from .. import codec

        return codec.decode(data)

    @classmethod
    def from_hex(cls, s: str) -> "HLL":
        from .. import codec

        return codec.decode(codec.from_hex(s))


def intersection_cardinality(a: HLL, b: HLL) -> float:
    """|A ∩ B| by inclusion-exclusion — a user-level convenience, not a
    sketch operator; error is proportional to the UNION's cardinality
    (README.markdown:62-69, USAGE.markdown:104-124)."""
    u = a.clone().union(b)
    return (
        a.algorithm_cardinality()
        + b.algorithm_cardinality()
        - u.algorithm_cardinality()
    )


def intersection_error(a: HLL, b: HLL) -> float:
    """Absolute 1-sigma error of the inclusion-exclusion intersection
    estimate: the three estimates each carry sigma ~= 1.04/sqrt(m) x
    their own cardinality, and the sum's sigma adds in quadrature —
    which makes the reference's caveat ("error proportional to the
    union's cardinality", README.markdown:62-69) quantitative: a tiny
    intersection of two large sets is dominated by the union's absolute
    error. Exact (0.0) while both operands are still EXPLICIT."""
    if a._explicit is not None and b._explicit is not None:
        return 0.0
    rel = max(a.cardinality_error(), b.cardinality_error())
    na = a.algorithm_cardinality()
    nb = b.algorithm_cardinality()
    nu = a.clone().union(b).algorithm_cardinality()
    return rel * math.sqrt(na * na + nb * nb + nu * nu)
