"""Live interop against the reference implementation itself: Node executes
the unmodified /root/reference/src/{util,hll}.js on hex sketches produced by
js_hll_spark and reports decoded algorithm, registers, cardinality and a
re-encoded FULL hex (src/hll.js:537-577 decode, :436-469 encode). This
closes the loop the self-round-trip codec tests cannot: the bytes are read
by the reference's own bit reader, including the non-byte-aligned 18-bit
sparse words at log2m=13/rw=5 that no golden vector exercises."""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess

import numpy as np
import pytest

from js_hll_spark import HLL, HLLConfig

NODE = shutil.which("node")
pytestmark = pytest.mark.skipif(NODE is None, reason="node not available")

REF_SRC = "/root/reference/src"
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def rand_hashes(n, seed):
    return np.random.default_rng(seed).integers(
        0, 2**63, size=n, dtype=np.uint64
    )


def dense_twin(s: HLL) -> HLL:
    """The sketch's registers re-wrapped as a FULL-only HLL (what the
    reference materializes on decode)."""
    out = HLL(s.config, explicit_threshold=0, sparse_on=False)
    out._regs = s.registers()
    return out


def run_reference(cases):
    proc = subprocess.run(
        [NODE, "tools/js_interop.js"],
        input=json.dumps({"cases": cases}).encode(),
        capture_output=True,
        cwd=REPO_ROOT,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr.decode()[:2000]
    return {r["name"]: r for r in json.loads(proc.stdout)}


def lo_hi(values: np.ndarray):
    """uint64 -> [lower32, upper32] pairs (the reference's two-word longs)."""
    return [
        [int(v & 0xFFFFFFFF), int(v >> 32)] for v in values.tolist()
    ]


@pytest.mark.skipif(
    shutil.which("node") is None, reason="node not available"
)
def test_reference_decodes_our_sketches():
    cases = []
    expect = {}

    def add_case(name, s: HLL, values=None, mode=None):
        case = {
            "name": name,
            "hex": s.to_hex(),
            "registers": s.registers().tolist(),
        }
        if values is not None:
            case["values"] = lo_hi(values)
        cases.append(case)
        expect[name] = (s, mode)

    # EMPTY
    add_case("empty_11_5", HLL(HLLConfig(11, 5)), mode="Empty")

    # EXPLICIT: values stored verbatim as big-endian longs
    v5 = rand_hashes(5, 1)
    e = HLL(HLLConfig(11, 5))
    e.add_raw64(v5)
    add_case("explicit_11_5", e, values=v5, mode="Explicit")

    # SPARSE at byte-aligned words (16 bits: log2m=11 + rw=5)
    sp = HLL(HLLConfig(11, 5), explicit_threshold=0)
    sp.add_raw64(rand_hashes(300, 2))
    add_case("sparse_11_5", sp, mode="Sparse")

    # SPARSE at NON-byte-aligned words (18 bits: log2m=13 + rw=5) — the
    # padding direction no golden vector pins (ADVICE r1)
    sp18 = HLL(HLLConfig(13, 5), explicit_threshold=0)
    sp18.add_raw64(rand_hashes(600, 3))
    add_case("sparse_13_5", sp18, mode="Sparse")

    # SPARSE at 16-bit words, rw=4 (log2m=12 + rw=4)
    sp16 = HLL(HLLConfig(12, 4), explicit_threshold=0)
    sp16.add_raw64(rand_hashes(400, 4))
    add_case("sparse_12_4", sp16, mode="Sparse")

    # FULL at non-byte-aligned registers (5-bit words)
    f = HLL(HLLConfig(11, 5), explicit_threshold=0, sparse_on=False)
    f.add_raw64(rand_hashes(100_000, 5))
    add_case("full_11_5", f, mode="Full")

    f13 = HLL(HLLConfig(13, 5), explicit_threshold=0, sparse_on=False)
    f13.add_raw64(rand_hashes(250_000, 6))
    add_case("full_13_5", f13, mode="Full")

    got = run_reference(cases)
    for name, (s, mode) in expect.items():
        r = got[name]
        assert r["algorithm"] == mode, name
        assert r.get("reg_match", True), (name, r.get("first_diff"))
        if "values" in [k for c in cases if c["name"] == name for k in c]:
            # decode path == reference's own addRaw path (value fidelity)
            assert r["direct_match"], name
        # estimator parity on the materialized registers (identical
        # constants; float64 both sides)
        twin = dense_twin(s)
        assert math.isclose(
            r["algorithmCardinality"],
            twin.algorithm_cardinality(),
            rel_tol=1e-12,
        ), name
        assert r["cardinality"] == twin.cardinality(), name
        # the reference re-encodes FULL with a zero cutoff byte; our dense
        # twin writes the same layout (explicit disabled, sparse off)
        assert r["rehex"] == twin.to_hex(), name


def test_reference_roundtrips_our_full_reencode():
    """our hex -> reference decode -> reference re-encode -> our decode:
    registers and estimate survive the double crossing."""
    s = HLL(HLLConfig(12, 5), explicit_threshold=0, sparse_on=False)
    s.add_raw64(rand_hashes(50_000, 7))
    got = run_reference([{"name": "x", "hex": s.to_hex()}])
    back = HLL.from_hex(got["x"]["rehex"])
    np.testing.assert_array_equal(back.registers(), s.registers())
    assert math.isclose(
        back.algorithm_cardinality(), s.algorithm_cardinality(), rel_tol=1e-12
    )


def test_reference_decodes_random_config_sweep():
    """Randomized-config sweep against the live reference (r4): the fixed
    cases above pin one config per mode; this sweeps the (log2m, rw)
    lattice with seeded-random value counts so every storage layout —
    byte-aligned and not, every regwidth, explicit through saturated
    full — crosses the reference's bit reader in one Node batch.
    Deterministic (seeded numpy, not hypothesis): the same 24 cases
    every run, so a failure is replayable."""
    rng = np.random.default_rng(2024)
    cases, expect = [], {}
    for i in range(24):
        log2m = int(rng.integers(4, 18))
        # the reference's RUNTIME caps regwidth at 1..5 (hll.js:211) even
        # though the storage spec's field is 1..8 — our 6..8 support is
        # spec-true but has no live-reference twin to compare against
        rw = int(rng.integers(1, 6))
        kind = ("explicit", "sparse", "full")[i % 3]
        cfg = HLLConfig(log2m, rw)
        if kind == "explicit":
            s = HLL(cfg)
            n = int(rng.integers(1, max(2, s.explicit_threshold)))
            values = rand_hashes(n, 100 + i)
            s.add_raw64(values)
            if s._explicit is None:
                continue  # tiny auto threshold promoted it; covered below
            case_values = values
            mode = "Explicit"
        elif kind == "sparse":
            s = HLL(cfg, explicit_threshold=0)
            n = max(1, int(cfg.sparse_threshold * 0.6))
            s.add_raw64(rand_hashes(n, 100 + i))
            if s._sparse is None:
                continue  # promotion crossed the threshold
            case_values = None
            mode = "Sparse"
        else:
            s = HLL(cfg, explicit_threshold=0, sparse_on=False)
            n = int(cfg.m * 3)
            s.add_raw64(rand_hashes(n, 100 + i))
            case_values = None
            mode = "Full"
        name = f"sweep_{i}_{kind}_{log2m}_{rw}"
        case = {"name": name, "hex": s.to_hex(), "registers": s.registers().tolist()}
        if case_values is not None:
            case["values"] = lo_hi(case_values)
        cases.append(case)
        expect[name] = (s, mode, case_values is not None)
    assert len(cases) >= 18  # the sweep must not degenerate
    got = run_reference(cases)
    for name, (s, mode, has_values) in expect.items():
        r = got[name]
        assert r["algorithm"] == mode, name
        assert r.get("reg_match", True), (name, r.get("first_diff"))
        if has_values:
            assert r["direct_match"], name
        twin = dense_twin(s)
        ref_card = r["algorithmCardinality"]
        ours = twin.algorithm_cardinality()
        if math.isnan(ours):
            assert ref_card is None or math.isnan(ref_card), name
        else:
            assert math.isclose(ref_card, ours, rel_tol=1e-12), name
        assert r["rehex"] == twin.to_hex(), name
