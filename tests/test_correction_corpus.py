"""Replay of the regenerated cardinality-correction corpus — the regime of
the reference's lost cumulative_add_cardinality_correction.csv
(test/hll-test.js:396-403): cumulative addRaw at log2m=4/rw=5 FULL mode,
float cardinality pinned per insert across ALL estimator branches —
small-range, uncorrected, large-range, and the NaN case
(test/hll-test.js:458-480). The corpus is generated by
tools/gen_correction_corpus.py and cross-validated here against the live
reference implementation in Node."""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess

import numpy as np
import pytest

from js_hll_spark import HLL, HLLConfig
from js_hll_spark import codec

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(os.path.dirname(__file__), "data")
CORPUS = "cumulative_add_cardinality_correction_regen.csv"


def load_rows():
    with open(os.path.join(DATA, CORPUS)) as f:
        return [line.split(",") for line in f.read().splitlines()[1:] if line]


def branch(sketch: HLL) -> str:
    """Classify which estimator branch the current registers hit."""
    cfg = sketch.config
    regs = sketch.registers()
    sum_ = float(np.exp2(-regs.astype(np.float64)).sum())
    est = cfg.alpha_m_squared / sum_
    zeroes = int((regs == 0).sum())
    if zeroes != 0 and est < cfg.small_estimator_cutoff:
        return "small"
    if est <= cfg.large_estimator_cutoff:
        return "uncorrected"
    return "nan" if est / cfg.two_to_l >= 1.0 else "large"


def test_correction_corpus_replays_exactly():
    rows = load_rows()
    sketch = codec.decode(codec.from_hex(rows[0][2]))
    assert sketch.config == HLLConfig(4, 5)
    assert sketch.algorithm_cardinality() == 0.0
    seen = set()
    for card, raw, hexs in rows[1:]:
        sketch.add_raw64(np.array([int(raw)], dtype=np.uint64))
        got = sketch.algorithm_cardinality()
        if card == "NaN":
            assert math.isnan(got), raw
        else:
            assert got == float(card), (raw, card, got)
        assert codec.encode(sketch) == codec.from_hex(hexs), raw
        seen.add(branch(sketch))
    # the corpus must cross every correction branch incl. the NaN case
    assert seen == {"small", "uncorrected", "large", "nan"}


@pytest.mark.skipif(shutil.which("node") is None, reason="node not available")
def test_reference_agrees_with_correction_corpus():
    """The live reference replays the same corpus: its per-insert float
    cardinality matches ours within 1e-12 (libm last-ulp slack), and the
    NaN lines are NaN on both engines."""
    rows = load_rows()
    values = [
        [int(raw) & 0xFFFFFFFF, int(raw) >> 32] for _, raw, _ in rows[1:]
    ]
    proc = subprocess.run(
        [shutil.which("node"), "tools/js_interop.js"],
        input=json.dumps(
            {"cumulative": {"hex0": rows[0][2], "values": values}}
        ).encode(),
        capture_output=True,
        cwd=REPO_ROOT,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr.decode()[:2000]
    cards = json.loads(proc.stdout)["cards"]
    assert len(cards) == len(rows) - 1
    for (card, raw, _), ref in zip(rows[1:], cards):
        if card == "NaN":
            assert ref == "NaN", raw
        else:
            assert math.isclose(float(card), float(ref), rel_tol=1e-12), (
                raw,
                card,
                ref,
            )


PROMO = "cumulative_add_comprehensive_promotion_regen.csv"


def load_promo():
    with open(os.path.join(DATA, PROMO)) as f:
        return [line.split(",") for line in f.read().splitlines()[1:] if line]


def test_promotion_corpus_replays_exactly():
    """The comprehensive-promotion regime the reference left as a TODO
    (test/hll-test.js:406-407): cumulative addRaw with default cutoffs
    crosses EMPTY -> EXPLICIT -> SPARSE -> FULL; float cardinality and
    serialized bytes pinned per insert across both promotion
    boundaries."""
    from js_hll_spark.config import (
        ALG_EMPTY,
        ALG_EXPLICIT,
        ALG_FULL,
        ALG_SPARSE,
    )

    rows = load_promo()
    sketch = codec.decode(codec.from_hex(rows[0][2]))
    seq = [codec.from_hex(rows[0][2])[0] & 0x0F]
    for card, raw, hexs in rows[1:]:
        sketch.add_raw64(np.array([int(raw)], dtype=np.uint64))
        assert sketch.algorithm_cardinality() == float(card), raw
        assert codec.encode(sketch) == codec.from_hex(hexs), raw
        alg = codec.from_hex(hexs)[0] & 0x0F
        if alg != seq[-1]:
            seq.append(alg)
    assert seq == [ALG_EMPTY, ALG_EXPLICIT, ALG_SPARSE, ALG_FULL]


@pytest.mark.skipif(shutil.which("node") is None, reason="node not available")
def test_reference_parses_promotion_corpus():
    """assertCumulativeAddData's per-line schema checks, run by the live
    reference: every hex parses at schema v1 with the algorithm tag our
    encoder claims (the reference's own test for this corpus was never
    implemented — TODO at test/hll-test.js:406-407)."""
    from js_hll_spark.config import ALG_EMPTY, ALG_EXPLICIT, ALG_FULL, ALG_SPARSE

    names = {
        ALG_EMPTY: "Empty",
        ALG_EXPLICIT: "Explicit",
        ALG_SPARSE: "Sparse",
        ALG_FULL: "Full",
    }
    rows = load_promo()
    cases = [
        {"name": str(i), "hex": hexs} for i, (_, _, hexs) in enumerate(rows)
    ]
    proc = subprocess.run(
        [shutil.which("node"), "tools/js_interop.js"],
        input=json.dumps({"cases": cases}).encode(),
        capture_output=True,
        cwd=REPO_ROOT,
        timeout=240,
    )
    assert proc.returncode == 0, proc.stderr.decode()[:2000]
    got = {r["name"]: r["algorithm"] for r in json.loads(proc.stdout)}
    import js_hll_spark.codec as c

    for i, (_, _, hexs) in enumerate(rows):
        expected = names[c.from_hex(hexs)[0] & 0x0F]
        assert got[str(i)] == expected, (i, expected, got[str(i)])
