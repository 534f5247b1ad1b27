"""Fellegi-Sunter probabilistic linkage (levsim/linkage.py).

Every Spark-side number is checked against an independent plain-Python
integer reference of the same ppm fixed point; EM is checked for the
textbook separation property (informative field -> m >> u) and for
exact equality with a hand-unrolled reference implementation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from levsim.linkage import (
    agreement_vectors,
    fs_em,
    fs_pattern_weights,
    fs_score_pairs,
    pattern_counts,
)

PPM = 1_000_000
GC = ["g_name", "g_city", "g_zip"]


def _fold(bits, params):
    x = PPM
    for g, p in zip(bits, params):
        x = max(1, (x * (p if g else PPM - p)) // PPM)
    return x


def _py_scores(bits, m, u, lam):
    pm, pu = _fold(bits, m), _fold(bits, u)
    lm, lu = (lam * pm) // PPM, ((PPM - lam) * pu) // PPM
    weight = (PPM * pm) // max(1, pu)
    post = (PPM * lm) // max(1, lm + lu)
    return pm, pu, weight, post


@pytest.fixture(scope="module")
def pairs(spark):
    # 6 true-match pairs (agree on everything), 14 non-matches with
    # mixed coincidental agreements, plus a NULL comparison row
    rows = [
        # id_a, id_b, name_a, name_b, city_a, city_b, zip_a, zip_b
        (1, 101, "smith", "smith", "york", "york", "100", "100"),
        (2, 102, "jones", "jones", "leeds", "leeds", "200", "200"),
        (3, 103, "brown", "brown", "bath", "bath", "300", "300"),
        (4, 104, "green", "green", "hull", "hull", "400", "400"),
        (5, 105, "white", "white", "kent", "kent", "500", "500"),
        (6, 106, "black", "black", "york", "york", "600", "600"),
        (7, 107, "smith", "jones", "york", "bath", "100", "999"),
        (8, 108, "brown", "white", "york", "york", "200", "999"),
        (9, 109, "green", "black", "hull", "kent", "999", "999"),
        (10, 110, "avery", "bligh", "york", "leeds", "300", "888"),
        (11, 111, "casey", "drake", "bath", "bath", "400", "777"),
        (12, 112, "ellis", "finch", "kent", "hull", "500", "666"),
        (13, 113, "gould", "hayes", "york", "york", "600", "555"),
        (14, 114, "irwin", "james", "leeds", "york", "700", "444"),
        (15, 115, "kelly", "lewis", "bath", "kent", "800", "333"),
        (16, 116, "moore", "nolan", "hull", "york", "900", "222"),
        (17, 117, "owens", "price", "kent", "leeds", "111", "900"),
        (18, 118, "quinn", "reese", "york", "bath", "222", "800"),
        (19, 119, "stone", "tracy", "leeds", "hull", "333", "700"),
        (20, 120, "unger", "vance", "bath", "york", "444", "600"),
        (21, 121, None, "walsh", "york", "york", "555", "554"),
    ]
    return spark.createDataFrame(
        rows,
        "id_a long, id_b long, name_a string, name_b string, "
        "city_a string, city_b string, zip_a string, zip_b string",
    )


@pytest.fixture(scope="module")
def gammas(pairs):
    return agreement_vectors(
        pairs,
        {
            "g_name": F.col("name_a") == F.col("name_b"),
            "g_city": F.col("city_a") == F.col("city_b"),
            "g_zip": F.col("zip_a") == F.col("zip_b"),
        },
    )


def test_agreement_vectors_null_is_disagreement(gammas):
    row = gammas.where(F.col("id_a") == 21).first()
    assert (row["g_name"], row["g_city"], row["g_zip"]) == (0, 1, 0)


def test_pattern_counts_bounded_and_exact(gammas):
    got = {
        (r["g_name"], r["g_city"], r["g_zip"]): r["cnt"]
        for r in pattern_counts(gammas, GC).collect()
    }
    assert got[(1, 1, 1)] == 6
    assert got[(0, 0, 0)] == 10
    assert sum(got.values()) == 21
    assert len(got) <= 8


def test_pattern_counts_k_guard(gammas):
    with pytest.raises(ValueError):
        pattern_counts(gammas, [])
    with pytest.raises(ValueError):
        pattern_counts(gammas, ["g"] * 21)


def test_fs_em_matches_hand_unrolled_reference():
    pats = [((1, 1, 1), 6), ((0, 0, 0), 9), ((1, 0, 0), 1), ((0, 1, 0), 3)]
    m = [900_000] * 3
    u = [100_000] * 3
    lam = 100_000
    clamp = lambda v: min(PPM - 1, max(1, v))  # noqa: E731
    for _ in range(2):
        resp = []
        for bits, cnt in pats:
            pm, pu = _fold(bits, m), _fold(bits, u)
            lm, lu = (lam * pm) // PPM, ((PPM - lam) * pu) // PPM
            resp.append((bits, cnt, (PPM * lm) // max(1, lm + lu)))
        s_m = sum(r * c for _, c, r in resp)
        s_u = sum((PPM - r) * c for _, c, r in resp)
        lam = clamp(s_m // max(1, sum(c for _, c, _ in resp)))
        m = [
            clamp((PPM * sum(r * c for b, c, r in resp if b[j])) // max(1, s_m))
            for j in range(3)
        ]
        u = [
            clamp((PPM * sum((PPM - r) * c for b, c, r in resp if b[j])) // max(1, s_u))
            for j in range(3)
        ]
    em = fs_em(pats, n_iters=2)
    assert em["m_ppm"] == m
    assert em["u_ppm"] == u
    assert em["lambda_ppm"] == lam
    assert len(em["history"]) == 2


def test_fs_em_separates_matches_from_nonmatches(gammas):
    pc = pattern_counts(gammas, GC)
    pats = [
        (tuple(int(r[c]) for c in GC), int(r["cnt"])) for r in pc.collect()
    ]
    em = fs_em(pats, n_iters=5)
    # every field is informative in the fixture: matches agree, most
    # non-matches don't -> m_k must end far above u_k on every field
    for mk, uk in zip(em["m_ppm"], em["u_ppm"]):
        assert mk > 2 * uk
    # lambda should land near the true match share 6/21 ~ 0.29
    assert 100_000 < em["lambda_ppm"] < 600_000


def test_fs_em_input_guard():
    with pytest.raises(ValueError):
        fs_em([])


def test_pattern_weights_match_python_reference(gammas):
    m, u, lam = [950_000, 800_000, 900_000], [5_000, 200_000, 20_000], 50_000
    pc = pattern_counts(gammas, GC)
    w = fs_pattern_weights(pc, GC, m, u, lam)
    for r in w.collect():
        bits = tuple(r[c] for c in GC)
        pm, pu, weight, post = _py_scores(bits, m, u, lam)
        assert (r["pm_ppm"], r["pu_ppm"]) == (pm, pu), bits
        assert (r["weight_ppm"], r["posterior_ppm"]) == (weight, post), bits


def test_score_pairs_matches_pattern_weights(gammas):
    # the inline per-pair fold must agree with the per-pattern table
    m, u, lam = [950_000, 800_000, 900_000], [5_000, 200_000, 20_000], 50_000
    s = fs_score_pairs(gammas, GC, m, u, lam)
    w = {
        tuple(r[c] for c in GC): (r["weight_ppm"], r["posterior_ppm"])
        for r in fs_pattern_weights(pattern_counts(gammas, GC), GC, m, u, lam).collect()
    }
    for r in s.collect():
        assert (r["weight_ppm"], r["posterior_ppm"]) == w[tuple(r[c] for c in GC)]


def test_score_pairs_threshold_selects_true_matches(gammas):
    m, u, lam = [950_000, 800_000, 900_000], [5_000, 200_000, 20_000], 50_000
    got = {
        (r["id_a"], r["id_b"])
        for r in fs_score_pairs(
            gammas, GC, m, u, lam, min_posterior_ppm=500_000
        ).collect()
    }
    assert got == {(i, 100 + i) for i in range(1, 7)}


def test_score_pairs_length_guard(gammas):
    with pytest.raises(ValueError):
        fs_score_pairs(gammas, GC, [1, 2], [1, 2, 3], 5)


def test_end_to_end_em_then_classify(gammas):
    # unsupervised: train EM on the pattern table, classify at 0.5 --
    # must recover exactly the 6 planted matches
    pc = pattern_counts(gammas, GC)
    pats = [
        (tuple(int(r[c]) for c in GC), int(r["cnt"])) for r in pc.collect()
    ]
    em = fs_em(pats, n_iters=5)
    got = {
        (r["id_a"], r["id_b"])
        for r in fs_score_pairs(
            gammas, GC, em["m_ppm"], em["u_ppm"], em["lambda_ppm"],
            min_posterior_ppm=500_000,
        ).collect()
    }
    assert got == {(i, 100 + i) for i in range(1, 7)}


# ---------------------------------------------------------------------------
# term-frequency adjustment (Winkler 1988 / splink tf_adjustments)
# ---------------------------------------------------------------------------


def test_tf_value_shares_exact(spark):
    recs = spark.createDataFrame(
        [("smith",)] * 6 + [("zzyzx",)] * 1 + [("jones",)] * 3, ["v"]
    )
    from levsim.linkage import tf_value_shares

    got = {r.value: (r.tf, r.p_ppm) for r in tf_value_shares(recs, "v").collect()}
    assert got == {
        "smith": (6, 600_000),
        "zzyzx": (1, 100_000),
        "jones": (3, 300_000),
    }


def test_tf_adjustment_direction_and_arithmetic(spark):
    from levsim.linkage import fs_score_pairs, fs_tf_adjust_pairs, tf_value_shares

    # field value distribution: 'smith' common (8/10), 'zzyzx' rare (1/10)
    recs = spark.createDataFrame([("smith",)] * 8 + [("zzyzx",)] * 1 + [("ab",)], ["v"])
    shares = tf_value_shares(recs, "v")
    rows = [
        (1, 2, "smith", "smith"),   # agree on common value
        (3, 4, "zzyzx", "zzyzx"),   # agree on rare value
        (5, 6, "smith", "jones"),   # disagree
        (7, 8, "nope", "nope"),     # agree on value absent from shares
    ]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long, va string, vb string")
    g = agreement_vectors(pairs, {"g_v": F.col("va") == F.col("vb")})
    m, u, lam = [900_000], [100_000], 500_000
    s = fs_score_pairs(g, ["g_v"], m, u, lam)
    out = {r.id_a: r for r in
           fs_tf_adjust_pairs(s, "va", "vb", shares, u[0]).collect()}

    base = {r.id_a: r.weight_ppm for r in s.collect()}
    # exact arithmetic: adj = (w * u) div p_ppm
    assert out[1].tf_p_ppm == 800_000
    assert out[1].tf_weight_ppm == (base[1] * 100_000) // 800_000
    assert out[3].tf_p_ppm == 100_000
    assert out[3].tf_weight_ppm == (base[3] * 100_000) // 100_000
    # direction: rare-value agreement strengthens, common weakens
    assert out[3].tf_weight_ppm > out[1].tf_weight_ppm
    assert out[1].tf_weight_ppm < base[1]
    # disagree and missing-value rows pass through unadjusted
    assert out[5].tf_p_ppm is None and out[5].tf_weight_ppm == base[5]
    assert out[7].tf_p_ppm is None and out[7].tf_weight_ppm == base[7]


def _sequential_greedy(rows):
    """Driver-side sequential greedy matching by the strict total edge
    order (score DESC, id_a ASC, id_b ASC) — the spec greedy_one_to_one
    must reproduce exactly."""
    used_a, used_b, out = set(), set(), {}
    for a, b, sc in sorted(rows, key=lambda r: (-r[2], r[0], r[1])):
        if a not in used_a and b not in used_b:
            used_a.add(a)
            used_b.add(b)
            out[(a, b)] = sc
    return out


def test_greedy_one_to_one_equals_sequential_greedy(spark):
    import random

    from levsim.linkage import greedy_one_to_one

    rng = random.Random(13)
    for trial in range(4):
        # heavy score ties (small range) force the id tie-breaks to matter
        rows = [(a, 100 + b, rng.randrange(5))
                for a in range(15) for b in range(12) if rng.random() < 0.4]
        if not rows:
            continue
        got = {(r.id_a, r.id_b): r.score_ppm
               for r in greedy_one_to_one(
                   spark.createDataFrame(
                       rows, "id_a long, id_b long, score_ppm long")).collect()}
        assert got == _sequential_greedy(rows), f"trial {trial}"


def test_greedy_one_to_one_rounds_and_chain(spark):
    from levsim.linkage import greedy_one_to_one

    # preference chain: only the top remaining edge is mutual each round
    rows = [(1, 101, 90), (2, 101, 80), (2, 102, 70), (3, 102, 60), (3, 103, 50)]
    s = spark.createDataFrame(rows, "id_a long, id_b long, score_ppm long")
    got = {(r.id_a, r.id_b): (r.score_ppm, r.round)
           for r in greedy_one_to_one(s).collect()}
    assert got == {(1, 101): (90, 1), (2, 102): (70, 2), (3, 103): (50, 3)}
    # exactly enough rounds finish; one fewer fails loudly, no prefix
    assert {(r.id_a, r.id_b) for r in greedy_one_to_one(s, max_rounds=3).collect()} == set(got)
    with pytest.raises(RuntimeError, match="max_rounds=2 rounds: 1 candidate edges left"):
        greedy_one_to_one(s, max_rounds=2)


def test_greedy_one_to_one_empty(spark):
    from levsim.linkage import greedy_one_to_one

    s = spark.createDataFrame([], "id_a long, id_b long, score_ppm long")
    out = greedy_one_to_one(s)
    assert out.count() == 0
    assert out.columns == ["id_a", "id_b", "score_ppm", "round"]


def test_mutual_best_match_reciprocity_and_ties(spark):
    from levsim.linkage import mutual_best_match

    # a1's best is b1 (90); b1's best is a1 (90)      -> mutual
    # a2's best is b1 (80) but b1 prefers a1          -> dropped
    # a3/b3: tie at 70 between b3 and b4; min-id tie-break picks b3,
    #        and b3's best is a3                      -> (a3, b3) mutual
    # a4's best is b4, but b4's best is a3 (70 > 60)  -> dropped: b4 goes
    #        unmatched even though (a4, b4) is free — the documented
    #        conservatism of mutual-best vs full assignment
    rows = [
        (1, 101, 90), (1, 102, 50),
        (2, 101, 80), (2, 102, 40),
        (3, 103, 70), (3, 104, 70),
        (4, 104, 60),
    ]
    s = spark.createDataFrame(rows, "id_a long, id_b long, score_ppm long")
    got = {(r.id_a, r.id_b): r.score_ppm
           for r in mutual_best_match(s).collect()}
    assert got == {(1, 101): 90, (3, 103): 70}


def test_mutual_best_match_min_score_prunes(spark):
    from levsim.linkage import mutual_best_match

    s = spark.createDataFrame(
        [(1, 101, 90), (2, 102, 10)], "id_a long, id_b long, score_ppm long"
    )
    got = mutual_best_match(s, min_score=50).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(1, 101)]


def test_mutual_best_match_is_one_to_one(spark):
    import random

    from levsim.linkage import mutual_best_match

    rng = random.Random(7)
    rows = [(a, 100 + b, rng.randrange(1_000_000))
            for a in range(20) for b in range(20) if rng.random() < 0.5]
    s = spark.createDataFrame(rows, "id_a long, id_b long, score_ppm long")
    out = mutual_best_match(s).collect()
    assert len({r.id_a for r in out}) == len(out)
    assert len({r.id_b for r in out}) == len(out)
    # every kept pair is its a-side argmax (score, then min id)
    best = {}
    for a, b, sc in rows:
        cur = best.get(a)
        if cur is None or (sc, -b) > (cur[1], -cur[0]):
            best[a] = (b, sc)
    for r in out:
        assert best[r.id_a] == (r.id_b, r.score_ppm)
