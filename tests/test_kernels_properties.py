"""Property-based kernel tests (hypothesis) — metric axioms and round-trips.

Complements the golden vectors in test_kernels_golden.py with the invariants
listed in SURVEY.md §5.2 / FIXTURES.md F6.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from levsim import kernels as K

ALPHABETS = ["abc", "abcdefghij ", "ÁÄüß日本語中文한국", ""]
texts = st.one_of(
    *[st.text(alphabet=a, min_size=0, max_size=40) for a in ALPHABETS if a]
)
short_texts = st.text(alphabet="abcd", min_size=0, max_size=12)


@settings(max_examples=300, deadline=None)
@given(texts, texts)
def test_distance_axioms(a, b):
    d = K.distance(a, b)
    assert d >= 0
    assert (d == 0) == (a == b)
    assert d == K.distance(b, a)
    assert abs(len(a) - len(b)) <= d <= max(len(a), len(b))


@settings(max_examples=150, deadline=None)
@given(texts, texts, texts)
def test_triangle_inequality(a, b, c):
    assert K.distance(a, c) <= K.distance(a, b) + K.distance(b, c)


@settings(max_examples=300, deadline=None)
@given(texts, texts)
def test_ratio_definition(a, b):
    r = K.ratio(a, b)
    assert 0.0 <= r <= 1.0
    lensum = len(a) + len(b)
    if lensum:
        assert abs(r - (1.0 - K.indel_distance(a, b) / lensum)) < 1e-12
    else:
        assert r == 1.0


def _brute_distance(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a):
        cur = [i + 1]
        for j, cb in enumerate(b):
            cur.append(min(prev[j + 1] + 1, cur[j] + 1, prev[j] + (ca != cb)))
        prev = cur
    return prev[len(b)]


@settings(max_examples=200, deadline=None)
@given(short_texts, short_texts)
def test_distance_vs_bruteforce(a, b):
    assert K.distance(a, b) == _brute_distance(a, b)


@settings(max_examples=200, deadline=None)
@given(texts, texts, st.integers(min_value=0, max_value=10))
def test_cutoff_consistency(a, b, cutoff):
    d = K.distance(a, b)
    dc = K.distance(a, b, score_cutoff=cutoff)
    assert dc == (d if d <= cutoff else cutoff + 1)


@settings(max_examples=300, deadline=None)
@given(texts, texts)
def test_editops_roundtrip(a, b):
    eo = K.editops(a, b)
    assert len(eo) == K.distance(a, b)  # minimal script
    assert K.apply_edit(eo, a, b) == b
    oc = K.opcodes(a, b)
    assert K.apply_edit(oc, a, b) == b
    # inverse twice == identity
    assert K.inverse(K.inverse(eo)) == eo
    # inverse transforms b -> a
    assert K.apply_edit(K.inverse(eo), b, a) == a
    # opcodes <-> editops conversion round-trip
    assert K.editops(K.opcodes(eo, len(a), len(b)), len(a), len(b)) == eo


@settings(max_examples=200, deadline=None)
@given(texts, texts)
def test_matching_blocks_consistent(a, b):
    mb = K.matching_blocks(K.editops(a, b), a, b)
    assert mb[-1] == (len(a), len(b), 0)
    s1 = "".join(a[x[0]: x[0] + x[2]] for x in mb)
    s2 = "".join(b[x[1]: x[1] + x[2]] for x in mb)
    assert s1 == s2


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(alphabet="abcd", min_size=1, max_size=12), min_size=1, max_size=6))
def test_median_zero_weight_invariance(strs):
    # appending a zero-weight string never changes the result
    # (generalizes tests/test_median.py:6-13).  Restricted to non-empty
    # ascii strings: the reference's symlist includes symbols of
    # zero-weight strings and its mediandist[0] = sum(len_i + w_i) quirk
    # (_levenshtein.hpp:177-178) makes all-empty corner cases diverge.
    w = [1.0] * len(strs)
    base = K.quickmedian(strs, w)
    assert K.quickmedian(strs + ["zzzz"], w + [0.0]) == base
    base_m = K.median(strs, w)
    assert K.median(strs + ["zzzz"], w + [0.0]) == base_m


@settings(max_examples=50, deadline=None)
@given(st.lists(short_texts, min_size=1, max_size=5), short_texts)
def test_median_improve_never_worse(strs, seed):
    def sod(m):
        return sum(K.distance(m, s) for s in strs)

    improved = K.median_improve(seed, strs)
    assert sod(improved) <= sod(seed)


@settings(max_examples=100, deadline=None)
@given(st.lists(short_texts, min_size=1, max_size=5))
def test_setmedian_is_member(strs):
    m = K.setmedian(strs)
    assert m in strs
    # bytes members elect the same winner, returned as str (pyx:173)
    mb = K.setmedian([x.encode("latin-1") for x in strs])
    assert mb == m and type(mb) is str


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40))
def test_from_codes_is_the_chr_join(s):
    codes = K._codes(s)
    assert K._from_codes(codes) == "".join(chr(int(c)) for c in codes) == s
    assert K._from_codes(codes.tolist()) == s


@settings(max_examples=100, deadline=None)
@given(st.lists(short_texts, min_size=0, max_size=4), st.lists(short_texts, min_size=0, max_size=4))
def test_set_seq_ratio_bounds(l1, l2):
    for fn in (K.setratio, K.seqratio):
        r = fn(l1, l2)
        assert 0.0 <= r <= 1.0
    assert K.seqratio(l1, l1) == 1.0
    assert K.setratio(l1, l1) == 1.0


# --- round-2 surfaces: score_hint, simhash batch identity, band keys, codecs


@settings(max_examples=150, deadline=None)
@given(texts, texts,
       st.integers(min_value=0, max_value=300),
       st.one_of(st.none(), st.integers(min_value=0, max_value=200)))
def test_score_hint_invisible(a, b, hint, cutoff):
    from levsim import batch

    got, _ = batch.batch_distance([a], [b], score_cutoff=cutoff, score_hint=hint)
    exp, _ = batch.batch_distance([a], [b], score_cutoff=cutoff)
    assert got[0] == exp[0]
    # scalar kernel now runs the same band-doubling (round-3: VERDICT #8) —
    # scalar == batch == unhinted for every (hint, cutoff)
    scalar = K.distance(a, b, score_cutoff=cutoff, score_hint=hint)
    assert scalar == exp[0]


@settings(max_examples=60, deadline=None)
@given(st.lists(st.text(alphabet="abcde fg\t", max_size=40), max_size=8))
def test_simhash_batch_scalar_identity(texts_list):
    from levsim.blocking import _tokenize
    from levsim.extras.dedup import batch_simhash, simhash64

    got = batch_simhash(texts_list)
    for t, s in zip(texts_list, got):
        assert int(s) == simhash64(_tokenize(t))


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**31 - 1),
                min_size=8, max_size=8),
       st.sampled_from([1, 2, 4]))
def test_band_keys_scalar_batch_identity(sig, rows_per_band):
    import numpy as np

    from levsim.blocking import band_keys, band_keys_batch

    arr = np.asarray(sig, dtype=np.uint64)
    scalar = band_keys(arr, rows_per_band)
    batch = band_keys_batch(arr[None, :], rows_per_band)[0].tolist()
    assert scalar == batch
    assert len(scalar) == 8 // rows_per_band


def _osa_quadratic(a: str, b: str) -> int:
    """Textbook O(mn) OSA reference for the vectorized kernel."""
    la, lb = len(a), len(b)
    d = [[0] * (lb + 1) for _ in range(la + 1)]
    for i in range(la + 1):
        d[i][0] = i
    for j in range(lb + 1):
        d[0][j] = j
    for i in range(1, la + 1):
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1, d[i - 1][j - 1] + cost)
            if i > 1 and j > 1 and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]:
                d[i][j] = min(d[i][j], d[i - 2][j - 2] + 1)
    return d[la][lb]


def _damerau_textbook(a: str, b: str) -> int:
    """Lowrance-Wagner pseudocode transcription (the classic d[-1] sentinel
    form) as the unrestricted-DL reference for the vectorized kernel."""
    da: dict = {}
    m, n = len(a), len(b)
    inf = m + n
    d = [[inf] * (n + 2) for _ in range(m + 2)]
    for i in range(m + 1):
        d[i + 1][1] = i
    for j in range(n + 1):
        d[1][j + 1] = j
    for i in range(1, m + 1):
        db = 0
        for j in range(1, n + 1):
            k = da.get(b[j - 1], 0)
            ell = db
            cost = 0 if a[i - 1] == b[j - 1] else 1
            if cost == 0:
                db = j
            d[i + 1][j + 1] = min(
                d[i][j] + cost, d[i + 1][j] + 1, d[i][j + 1] + 1,
                d[k][ell] + (i - k - 1) + 1 + (j - ell - 1),
            )
        da[a[i - 1]] = i
    return d[m + 1][n + 1]


def test_damerau_golden():
    # THE unrestricted case OSA forbids: transpose then edit the substring
    assert K.damerau_distance("ca", "abc") == 2
    assert K.osa_distance("ca", "abc") == 3
    assert K.damerau_distance("ab", "ba") == 1
    assert K.damerau_distance("", "abc") == 3
    assert K.damerau_distance("abc", "") == 3
    assert K.damerau_distance("abc", "abc") == 0
    assert K.damerau_distance("abcdef", "abdcef") == 1
    assert K.damerau_distance("ab", "ba", score_cutoff=0) == 1  # cutoff+1
    assert K.damerau_distance("abcd", "dcba", score_cutoff=1) == 2
    assert K.damerau_distance(b"ca", b"abc") == 2  # bytes mode
    with pytest.raises(TypeError):
        K.damerau_distance("ab", b"ba")


@settings(max_examples=400, deadline=None)
@given(short_texts, short_texts)
def test_damerau_matches_textbook(a, b):
    dl = K.damerau_distance(a, b)
    assert dl == _damerau_textbook(a, b)
    # sandwich: lev >= osa >= unrestricted DL
    assert K.distance(a, b) >= K.osa_distance(a, b) >= dl


def test_damerau_matches_duckdb_bytes():
    """DuckDB's damerau_levenshtein is an independent implementation but
    byte-based — so feed the kernel the UTF-8 BYTES and the engines must
    agree exactly, including non-ASCII (the driver oracle runs the same
    builtin on the all-ASCII corpus where bytes == codepoints)."""
    duckdb = pytest.importorskip("duckdb")
    import random

    con = duckdb.connect()
    rng = random.Random(99)
    for _ in range(300):
        x = "".join(rng.choice("abαβγ xy") for _ in range(rng.randrange(0, 40)))
        y = "".join(rng.choice("abαβγ xy") for _ in range(rng.randrange(0, 40)))
        want = con.sql(
            "select damerau_levenshtein(?, ?)", params=[x, y]
        ).fetchone()[0]
        assert K.damerau_distance(x.encode(), y.encode()) == want, (x, y)


def test_osa_golden():
    assert K.osa_distance("ca", "abc") == 3  # THE restricted-OSA case
    assert K.osa_distance("ab", "ba") == 1
    assert K.osa_distance("abcdef", "abdcef") == 1
    assert K.osa_distance("", "abc") == 3
    assert K.osa_distance("abc", "") == 3
    assert K.osa_distance("abc", "abc") == 0
    assert K.osa_distance("ab", "ba", score_cutoff=0) == 1  # cutoff+1 rule
    assert K.osa_distance("abcd", "dcba", score_cutoff=1) == 2


@settings(max_examples=400, deadline=None)
@given(short_texts, short_texts)
def test_osa_matches_quadratic(a, b):
    assert K.osa_distance(a, b) == _osa_quadratic(a, b)
    # OSA is bounded by Levenshtein and by indel/2 rules: lev >= osa
    assert K.osa_distance(a, b) <= K.distance(a, b)


@settings(max_examples=150, deadline=None)
@given(short_texts, short_texts, st.integers(min_value=0, max_value=6))
def test_osa_cutoff_codomain(a, b, c):
    d = K.osa_distance(a, b)
    assert K.osa_distance(a, b, score_cutoff=c) == (d if d <= c else c + 1)


def _affine_ref(a: str, b: str, o: int, e: int, s: int) -> int:
    """Textbook three-matrix Gotoh reference."""
    BIG = 10**9
    la, lb = len(a), len(b)
    M = [[BIG] * (lb + 1) for _ in range(la + 1)]
    D = [[BIG] * (lb + 1) for _ in range(la + 1)]
    ins = [[BIG] * (lb + 1) for _ in range(la + 1)]
    M[0][0] = 0
    for j in range(1, lb + 1):
        ins[0][j] = o + e * j
    for i in range(1, la + 1):
        D[i][0] = o + e * i
    for i in range(1, la + 1):
        for j in range(1, lb + 1):
            M[i][j] = min(M[i - 1][j - 1], D[i - 1][j - 1], ins[i - 1][j - 1]) + (
                0 if a[i - 1] == b[j - 1] else s
            )
            D[i][j] = min(D[i - 1][j] + e, min(M[i - 1][j], D[i - 1][j], ins[i - 1][j]) + o + e)
            ins[i][j] = min(
                ins[i][j - 1] + e, min(M[i][j - 1], D[i][j - 1], ins[i][j - 1]) + o + e
            )
    return min(M[la][lb], D[la][lb], ins[la][lb])


def test_affine_gap_golden():
    f = K.affine_gap_distance
    assert f("abc", "abc") == 0
    assert f("", "") == 0
    assert f("", "abc") == 2 + 3          # one opened 3-run gap
    assert f("abXYZcd", "abcd") == 2 + 3  # one 3-run deletion
    assert f("aXbYc", "abc") == 6         # two scattered 1-gaps: 2*(2+1)
    assert f("aXbYc", "abc", score_cutoff=5) == 6  # cutoff+1 rule
    import pytest as _p
    with _p.raises(ValueError):
        f("a", "b", gap_open=-1)


@settings(max_examples=300, deadline=None)
@given(short_texts, short_texts, st.integers(0, 3), st.integers(0, 2), st.integers(0, 3))
def test_affine_gap_matches_gotoh(a, b, o, e, s):
    assert K.affine_gap_distance(
        a, b, gap_open=o, gap_extend=e, sub_cost=s
    ) == _affine_ref(a, b, o, e, s)


def test_partial_ratio_golden():
    f = K.partial_ratio
    assert f("abc", "xxabcxx") == 1.0          # exact substring
    assert f("xxabcxx", "abc") == 1.0          # symmetric (shorter is needle)
    assert f("", "") == 1.0
    assert f("", "abc") == 1.0                 # empty needle spec
    assert f("abc", "abc") == 1.0
    assert f("abd", "xxabcxx") == 1.0 - 2 / 6  # best window 'abc': one sub = indel 2
    assert f("abc", "xyz") == 0.0
    assert f("abc", "xxabcxx", score_cutoff=0.9) == 1.0
    assert f("abd", "xxabcxx", score_cutoff=0.9) == 0.0  # below cutoff -> 0.0


@settings(max_examples=300, deadline=None)
@given(short_texts, short_texts)
def test_partial_ratio_is_window_max(a, b):
    """Spec: exhaustive max over |needle|-length windows of ratio()."""
    needle, hay = (a, b) if len(a) <= len(b) else (b, a)
    if len(needle) == 0:
        want = 1.0
    else:
        want = max(
            K.ratio(needle, hay[off:off + len(needle)])
            for off in range(len(hay) - len(needle) + 1)
        )
    assert K.partial_ratio(a, b) == want
    # partial_ratio dominates plain ratio on equal-length inputs
    if len(a) == len(b):
        assert K.partial_ratio(a, b) >= K.ratio(a, b)


# --- fuzz-family length bounds ------------------------------------------------
# Length-only upper bounds on the token scorers, fuzzed in Python against the
# true kernel scores: a bound that under-estimates even once would let a
# length prefilter prune a qualifying pair.

import re as _re


def _norm(s: str) -> str:
    return _re.sub(r"\s+", " ", s.lower()).strip()


def _token_set_parts(a: str, b: str):
    ta = sorted(set(t for t in _norm(a).split(" ") if t))
    tb = sorted(set(t for t in _norm(b).split(" ") if t))
    sect = " ".join(t for t in ta if t in tb)
    comb_a = (sect + " " + " ".join(t for t in ta if t not in tb)).strip()
    comb_b = (sect + " " + " ".join(t for t in tb if t not in ta)).strip()
    return sect, comb_a, comb_b


def _token_set_bound(ls: int, lca: int, lcb: int) -> float:
    v1 = 1.0 if ls + lca == 0 else 2.0 * ls / (ls + lca)
    v2 = 1.0 if ls + lcb == 0 else 2.0 * ls / (ls + lcb)
    v3 = 1.0 if lca + lcb == 0 else 2.0 * min(lca, lcb) / (lca + lcb)
    return max(v1, v2, v3)


word_texts = st.lists(
    st.text(alphabet="abcde", min_size=1, max_size=5), min_size=0, max_size=8
).map(" ".join)


@settings(max_examples=300, deadline=None)
@given(word_texts, word_texts)
def test_token_set_bound_is_exact_upper_bound(a, b):
    sect, ca, cb = _token_set_parts(a, b)
    true = max(K.ratio(sect, ca), K.ratio(sect, cb), K.ratio(ca, cb))
    ub = _token_set_bound(len(sect), len(ca), len(cb))
    assert ub >= true - 1e-12
    # the first two variants are closed forms, so whenever they dominate
    # the third's LENGTH BOUND the overall bound is exactly the true score
    v1 = 1.0 if len(sect) + len(ca) == 0 else 2.0 * len(sect) / (len(sect) + len(ca))
    v2 = 1.0 if len(sect) + len(cb) == 0 else 2.0 * len(sect) / (len(sect) + len(cb))
    v3 = (1.0 if len(ca) + len(cb) == 0
          else 2.0 * min(len(ca), len(cb)) / (len(ca) + len(cb)))
    if max(v1, v2) >= v3:
        assert abs(ub - true) < 1e-12


@settings(max_examples=300, deadline=None)
@given(word_texts, word_texts)
def test_token_sort_bound_is_exact_upper_bound(a, b):
    sa = " ".join(sorted(_norm(a).split(" "))) if _norm(a) else ""
    sb = " ".join(sorted(_norm(b).split(" "))) if _norm(b) else ""
    true = K.ratio(sa, sb)
    lensum = len(sa) + len(sb)
    ub = 1.0 if lensum == 0 else 2.0 * min(len(sa), len(sb)) / lensum
    assert ub >= true - 1e-12


@settings(max_examples=200, deadline=None)
@given(short_texts, st.text(alphabet="abcd", min_size=0, max_size=30))
def test_partial_ratio_has_no_length_bound(needle, pad):
    """partial_ratio has no length bound: embedding the needle verbatim in
    an arbitrarily longer haystack scores 1.0, so no predicate over
    (len_a, len_b) alone can ever prune."""
    hay = pad + needle + pad
    assert K.partial_ratio(needle, hay) == 1.0
