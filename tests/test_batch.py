"""Batch scorers must be bit-identical to the scalar kernels, on both the
C-accelerated and the pure-Python fallback paths."""

from __future__ import annotations

import random

import numpy as np
import pytest

from levsim import batch, cbuild, kernels as K

rng = random.Random(20260816)
ALPHA = "abcdefgh 日本語ü"


def _rs(maxlen=60):
    return "".join(rng.choice(ALPHA) for _ in range(rng.randint(0, maxlen)))


PAIRS = [(_rs(), _rs()) for _ in range(400)] + [
    ("", ""), ("", "abc"), ("abc", ""), ("abc", "abc"),
    ("lewenstein", "levenshtein"), ("a" * 200, "a" * 100 + "b" * 100),
]
A = [p[0] for p in PAIRS]
B = [p[1] for p in PAIRS]


def _long_pairs(n=80, seed=20261020):
    """Pairs of 1-140 characters, half of them near matches, so distances
    fall on both sides of the banded-DP/Myers switch (cutoff 64) and the
    strings on both sides of Myers' 64-character word boundary."""
    r = random.Random(seed)
    out = []
    for i in range(n):
        a = "".join(r.choice(ALPHA) for _ in range(r.randint(1, 140)))
        if i % 2:
            b = "".join(r.choice(ALPHA) for _ in range(r.randint(1, 140)))
        else:
            b = list(a)
            for _ in range(r.randint(0, 70)):
                b[r.randrange(len(b))] = r.choice("xyz")
            b = "".join(b)[:r.randint(1, len(b))] or "x"
        out.append((a, b))
    return out


LONG = _long_pairs()


def test_c_kernels_available():
    import os

    if os.environ.get("LEVSIM_NO_C") == "1":
        pytest.skip("C accelerator disabled via LEVSIM_NO_C")
    assert cbuild.load() is not None, "C accelerator failed to build (gcc present)"


@pytest.mark.parametrize("cutoff", [None, 0, 1, 5, 63, 64, 100, 200])
def test_batch_distance(cutoff):
    pairs = PAIRS + LONG
    got, nulls = batch.batch_distance([p[0] for p in pairs], [p[1] for p in pairs],
                                      score_cutoff=cutoff)
    assert not nulls.any()
    exp = [K.distance(a, b, score_cutoff=cutoff) for a, b in pairs]
    np.testing.assert_array_equal(got, exp)


@pytest.mark.parametrize("weights", [(1, 1, 2), (2, 3, 5), (1, 2, 1)])
def test_batch_distance_weighted(weights):
    got, _ = batch.batch_distance(A, B, weights=weights)
    exp = [K.distance(a, b, weights=weights) for a, b in PAIRS]
    np.testing.assert_array_equal(got, exp)


def test_batch_ratio():
    got, _ = batch.batch_ratio(A, B)
    exp = [K.ratio(a, b) for a, b in PAIRS]
    np.testing.assert_allclose(got, exp, rtol=0, atol=0)


def test_batch_ratio_cutoff():
    got, _ = batch.batch_ratio(A, B, score_cutoff=0.6)
    exp = [K.ratio(a, b, score_cutoff=0.6) for a, b in PAIRS]
    np.testing.assert_allclose(got, exp, rtol=0, atol=0)


def test_batch_jaro():
    got, _ = batch.batch_jaro(A, B)
    exp = [K.jaro(a, b) for a, b in PAIRS]
    np.testing.assert_allclose(got, exp, rtol=0, atol=0)


def test_batch_jaro_winkler():
    got, _ = batch.batch_jaro_winkler(A, B)
    exp = [K.jaro_winkler(a, b) for a, b in PAIRS]
    np.testing.assert_allclose(got, exp, rtol=0, atol=0)


def test_batch_hamming():
    got, _ = batch.batch_hamming(A, B)
    exp = [K.hamming(a, b) for a, b in PAIRS]
    np.testing.assert_array_equal(got, exp)


def test_nulls_masked():
    vals, nulls = batch.batch_ratio(["abc", None, "x"], ["abd", "y", None])
    assert list(nulls) == [False, True, True]


@pytest.mark.parametrize("c", [True, False], ids=["c", "fallback"])
def test_one_null_rule(monkeypatch, c):
    """None and NaN are NULL on both paths: same mask, and the same values
    wherever the mask is False."""
    import os

    if c and os.environ.get("LEVSIM_NO_C") == "1":
        pytest.skip("C accelerator disabled via LEVSIM_NO_C")
    a, b = ["ab", float("nan"), None], ["b", "c", "d"]
    want = {"indel": [1], "ratio": [K.ratio("ab", "b")]}
    if not c:
        monkeypatch.setattr(cbuild, "_lib", None)
        monkeypatch.setattr(cbuild, "_tried", True)
    for name, fn in (("indel", batch.batch_indel), ("ratio", batch.batch_ratio)):
        vals, nulls = fn(a, b)
        assert list(nulls) == [False, True, True], name
        assert list(vals[~nulls]) == want[name], name
    for fn in (batch.batch_jaro, batch.batch_partial_ratio, batch.batch_osa):
        assert list(fn(a, b)[1]) == [False, True, True], fn
    assert batch.batch_editops(a, b) == [K.editops("ab", "b"), None, None]


@pytest.mark.parametrize("c", [True, False], ids=["c", "fallback"])
def test_negative_costs_raise(monkeypatch, c):
    """Both paths reject what the scalar kernels reject."""
    if not c:
        monkeypatch.setattr(cbuild, "_lib", None)
        monkeypatch.setattr(cbuild, "_tried", True)
    with pytest.raises(ValueError):
        batch.batch_distance(["abc"], ["abd"], weights=(-1, 1, 1))
    with pytest.raises(ValueError):
        batch.batch_affine_gap(["abc"], ["abd"], sub_cost=-1)


def test_ffi_table_declares_every_export():
    """cbuild.SIGNATURES names exactly the non-static functions of
    _ckernels.c, so no export is called without declared types."""
    import re

    with open(cbuild._SRC) as f:
        exports = set(re.findall(r"^(?!static\b)[a-z]\w*[\s*]+(\w+)\s*\(", f.read(), re.M))
    assert exports == set(cbuild.SIGNATURES)


def test_python_fallback_identical(monkeypatch):
    monkeypatch.setattr(cbuild, "_lib", None)
    monkeypatch.setattr(cbuild, "_tried", True)  # force fallback
    sub = PAIRS[:50]
    a = [p[0] for p in sub]
    b = [p[1] for p in sub]
    got, _ = batch.batch_distance(a, b, score_cutoff=3)
    exp = [K.distance(x, y, score_cutoff=3) for x, y in sub]
    np.testing.assert_array_equal(got, exp)
    gr, _ = batch.batch_ratio(a, b)
    er = [K.ratio(x, y) for x, y in sub]
    np.testing.assert_allclose(gr, er, rtol=0, atol=0)


@pytest.mark.parametrize("cutoff", [None, 0, 3, 63, 64, 200, 500])
@pytest.mark.parametrize("hint", [0, 1, 2, 4, 8, 63, 64, 200, 1000])
def test_batch_distance_score_hint_identity(cutoff, hint):
    """score_hint is perf-only: band-doubling results must be IDENTICAL to
    the no-hint kernel for every (cutoff, hint) combination — including
    hints far below and far above the true distance."""
    a, b = A + [p[0] for p in LONG], B + [p[1] for p in LONG]
    got, nulls = batch.batch_distance(a, b, score_cutoff=cutoff, score_hint=hint)
    assert not nulls.any()
    exp, _ = batch.batch_distance(a, b, score_cutoff=cutoff)
    np.testing.assert_array_equal(got, exp)


def test_batch_distance_score_hint_long_near_matches():
    """Long near-match pairs (the case the hint exists for): identical
    results at L=2048 with a tight hint."""
    base = "".join(rng.choice("abcdefgh") for _ in range(2048))
    pairs = []
    for k in (0, 1, 3, 10, 40):
        mutated = list(base)
        for _ in range(k):
            mutated[rng.randrange(len(mutated))] = rng.choice("xyz")
        pairs.append((base, "".join(mutated)))
    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    got, _ = batch.batch_distance(a, b, score_hint=4)
    exp, _ = batch.batch_distance(a, b)
    np.testing.assert_array_equal(got, exp)


@pytest.mark.parametrize("cutoff", [None, 0, 4, 100])
def test_batch_osa(cutoff):
    """C three-row OSA == scalar kernel (incl. transposition cases and
    cutoff clamping) on the standard pair set plus seeded swaps."""
    pairs = PAIRS + [("ab", "ba"), ("ca", "abc"), ("abcdef", "abdcef"),
                     ("lewenstein" * 3, "levenshtein" * 3)]
    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    got, _ = batch.batch_osa(a, b, score_cutoff=cutoff)
    exp = [K.osa_distance(x, y, score_cutoff=cutoff) for x, y in pairs]
    np.testing.assert_array_equal(got, exp)


def test_batch_osa_fallback_identical(monkeypatch):
    monkeypatch.setattr(cbuild, "_lib", None)
    monkeypatch.setattr(cbuild, "_tried", True)
    sub = PAIRS[:50] + [("ab", "ba"), ("ca", "abc")]
    got, _ = batch.batch_osa([p[0] for p in sub], [p[1] for p in sub])
    exp = [K.osa_distance(x, y) for x, y in sub]
    np.testing.assert_array_equal(got, exp)


@pytest.mark.parametrize("cutoff", [None, 0, 4, 100])
def test_batch_damerau(cutoff):
    """C full-matrix Lowrance-Wagner == scalar kernel (incl. the
    unrestricted 'ca'->'abc'=2 case and cutoff clamping)."""
    pairs = PAIRS + [("ab", "ba"), ("ca", "abc"), ("abcdef", "abdcef"),
                     ("lewenstein" * 3, "levenshtein" * 3)]
    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    got, _ = batch.batch_damerau(a, b, score_cutoff=cutoff)
    exp = [K.damerau_distance(x, y, score_cutoff=cutoff) for x, y in pairs]
    np.testing.assert_array_equal(got, exp)


def test_batch_damerau_fallback_identical(monkeypatch):
    monkeypatch.setattr(cbuild, "_lib", None)
    monkeypatch.setattr(cbuild, "_tried", True)
    sub = PAIRS[:50] + [("ab", "ba"), ("ca", "abc")]
    got, _ = batch.batch_damerau([p[0] for p in sub], [p[1] for p in sub])
    exp = [K.damerau_distance(x, y) for x, y in sub]
    np.testing.assert_array_equal(got, exp)


def test_batch_affine_gap_matches_scalar():
    got, _ = batch.batch_affine_gap(A[:100], B[:100])
    exp = [K.affine_gap_distance(x, y) for x, y in PAIRS[:100]]
    np.testing.assert_array_equal(got, exp)


@pytest.mark.parametrize("costs", [(2, 1, 2), (0, 1, 1), (3, 0, 2)])
def test_batch_affine_c_equals_scalar(costs):
    o, e, s = costs
    got, _ = batch.batch_affine_gap(A, B, gap_open=o, gap_extend=e, sub_cost=s)
    exp = [K.affine_gap_distance(x, y, gap_open=o, gap_extend=e, sub_cost=s)
           for x, y in PAIRS]
    np.testing.assert_array_equal(got, exp)


def test_batch_affine_fallback_identical(monkeypatch):
    monkeypatch.setattr(cbuild, "_lib", None)
    monkeypatch.setattr(cbuild, "_tried", True)
    got, _ = batch.batch_affine_gap(A[:50], B[:50], score_cutoff=9)
    exp = [K.affine_gap_distance(x, y, score_cutoff=9) for x, y in PAIRS[:50]]
    np.testing.assert_array_equal(got, exp)


@pytest.mark.parametrize("cutoff", [None, 0.6])
def test_batch_partial_ratio_matches_scalar(cutoff):
    """Window-expanded C path == scalar kernel bit-for-bit (incl. swaps,
    empties and the below-cutoff -> 0.0 rule)."""
    pairs = PAIRS[:120] + [("abc", "xxabcxx"), ("xxabcxx", "abc"), ("", "xy")]
    got, nulls = batch.batch_partial_ratio(
        [p[0] for p in pairs], [p[1] for p in pairs], score_cutoff=cutoff)
    for i, (x, y) in enumerate(pairs):
        assert not nulls[i]
        assert got[i] == K.partial_ratio(x, y, score_cutoff=cutoff)


def test_batch_partial_ratio_fallback(monkeypatch):
    monkeypatch.setattr(cbuild, "_lib", None)
    monkeypatch.setattr(cbuild, "_tried", True)
    got, _ = batch.batch_partial_ratio(A[:40], B[:40])
    exp = [K.partial_ratio(x, y) for x, y in PAIRS[:40]]
    np.testing.assert_array_equal(got, exp)


def test_batch_editops_matches_scalar_exactly():
    """C batch editops must be LIST-identical to kernels.editops —
    including backtrace tie-breaking — across random, empty, equal,
    null and non-BMP inputs (and the pure-Python fallback trivially is)."""
    import random

    from levsim import batch, kernels

    rng = random.Random(99)
    alpha = "abcdz é中\U0001f600"
    pairs = [("", ""), ("abc", ""), ("", "xyz"), ("same", "same"),
             (None, "x"), ("y", None), ("kitten", "sitting")]
    for _ in range(250):
        s1 = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 40)))
        s2 = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 40)))
        pairs.append((s1, s2))
    got = batch.batch_editops([p[0] for p in pairs], [p[1] for p in pairs])
    for (x, y), g in zip(pairs, got):
        want = None if (x is None or y is None) else kernels.editops(x, y)
        assert g == want, (x, y)
    # scripts replay correctly (ties broken identically implies this, but
    # assert the user-visible contract too)
    for (x, y), g in zip(pairs, got):
        if g is not None:
            assert kernels.apply_edit(g, x, y) == y
