"""Monge-Elkan hybrid comparator (levsim/hybrid.py) vs a plain-Python
reference built on the same scalar jaro kernel."""

from __future__ import annotations

import pytest

from levsim.hybrid import monge_elkan_pairs
from levsim.kernels import jaro


def _py_me(a: str, b: str, max_tokens=64) -> float:
    ta = [t for t in a.split(" ") if t][:max_tokens]
    tb = [t for t in b.split(" ") if t][:max_tokens]
    if not ta or not tb:
        return 0.0
    return sum(max(jaro(s, t) for t in tb) for s in ta) / len(ta)


@pytest.fixture(scope="module")
def pairs(spark):
    rows = [
        (1, 2, "paul johnson", "johson paule"),
        (3, 4, "the cat sat", "a dog stood"),
        (5, 6, "acme corp ltd", "acme corporation limited"),
        (7, 8, "", "nonempty text"),
        (9, 10, "some words", ""),
        (11, 12, "dup dup dup rare", "dup rare"),
        (13, 14, "identical string here", "identical string here"),
    ]
    return spark.createDataFrame(
        rows, "id_a long, id_b long, text_a string, text_b string"
    )


def test_matches_python_reference(pairs):
    got = {
        (r["id_a"], r["id_b"]): r["me_sim"]
        for r in monge_elkan_pairs(pairs).collect()
    }
    expected = {
        (r["id_a"], r["id_b"]): _py_me(r["text_a"], r["text_b"])
        for r in pairs.collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert got[k] == pytest.approx(expected[k], abs=1e-12), k


def test_empty_sides_zero_and_identical_one(pairs):
    got = {
        (r["id_a"], r["id_b"]): r["me_sim"]
        for r in monge_elkan_pairs(pairs).collect()
    }
    assert got[(7, 8)] == 0.0
    assert got[(9, 10)] == 0.0
    assert got[(13, 14)] == 1.0


def test_asymmetric(pairs, spark):
    # ME(a,b) != ME(b,a) in general; swapping the text columns gives b -> a
    fwd = {
        (r["id_a"], r["id_b"]): r["me_sim"]
        for r in monge_elkan_pairs(pairs).collect()
    }
    rev_input = pairs.selectExpr(
        "id_a", "id_b", "text_b as text_a", "text_a as text_b"
    )
    rev = {
        (r["id_a"], r["id_b"]): r["me_sim"]
        for r in monge_elkan_pairs(rev_input).collect()
    }
    assert fwd[(5, 6)] != rev[(5, 6)]
    for r in pairs.collect():
        assert rev[(r.id_a, r.id_b)] == pytest.approx(_py_me(r.text_b, r.text_a), abs=1e-12)


def test_max_tokens_cap(spark):
    # with the cap at 2 only the first two a-tokens count
    df = spark.createDataFrame(
        [(1, 2, "aaa bbb zzz", "aaa bbb")],
        "id_a long, id_b long, text_a string, text_b string",
    )
    capped = monge_elkan_pairs(df, max_tokens=2).collect()[0]["me_sim"]
    assert capped == 1.0
    full = monge_elkan_pairs(df, max_tokens=None).collect()[0]["me_sim"]
    assert full == pytest.approx(_py_me("aaa bbb zzz", "aaa bbb", 99), abs=1e-12)


def test_quantized_ppm_matches_integer_reference(pairs):
    import math

    def py_me_ppm(a, b, max_tokens=64):
        ta = [t for t in a.split(" ") if t][:max_tokens]
        tb = [t for t in b.split(" ") if t][:max_tokens]
        if not ta or not tb:
            return 0
        from collections import Counter

        ca = Counter(ta)
        num = den = 0
        for s, c in ca.items():
            best = max(jaro(s, t) for t in set(tb))
            # Spark round() is HALF_UP on positives
            num += c * math.floor(best * 1_000_000 + 0.5)
            den += c
        return num // den

    got = {
        (r["id_a"], r["id_b"]): r["me_ppm"]
        for r in monge_elkan_pairs(pairs, quantize_ppm=True).collect()
    }
    for r in pairs.collect():
        k = (r["id_a"], r["id_b"])
        assert got[k] == py_me_ppm(r["text_a"], r["text_b"]), k


def test_duplicate_tokens_weighting(spark):
    # 'dup' appears 3x of 4 a-tokens: mean must weight it 3/4
    df = spark.createDataFrame(
        [(1, 2, "dup dup dup rare", "dup")],
        "id_a long, id_b long, text_a string, text_b string",
    )
    got = monge_elkan_pairs(df).collect()[0]["me_sim"]
    assert got == pytest.approx(
        (3 * 1.0 + jaro("rare", "dup")) / 4, abs=1e-12
    )
