"""Catalyst-visible prefilters — the reference's score_cutoff early-exit
lifted into column predicates (SURVEY.md §4 row 1).

Two exact upper bounds on the indel ratio, both pure column algebra so
Catalyst evaluates them BEFORE the Arrow/pandas scoring UDF (and, where
lengths are scan columns, pushes them into the join/scan):

- length bound ("real_quick_ratio", reference StringMatcher.py:83-85):
    ratio(a, b) <= 2*min(l1,l2)/(l1+l2)
  so  2*least(l1,l2)/(l1+l2) < tau  ==>  pair cannot reach tau.
- equivalent distance form: indel_dist >= |l1-l2|, so
    |l1 - l2| > (1-tau)*(l1+l2)  ==>  prune.

For OSA (as for Levenshtein) with cutoff k: |l1 - l2| > k ==> prune
(distance lower bound, ``osa_length_bound``).  These are exact bounds — pruned pairs can never pass the final
threshold, so recall is unaffected.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ratio_length_bound(len_a: Column, len_b: Column, tau: float) -> Column:
    """TRUE iff the pair can still reach ratio >= tau (keep-predicate)."""
    lensum = len_a + len_b
    return (lensum == 0) | (
        (2.0 * F.least(len_a, len_b) / lensum) >= F.lit(tau)
    )


def jaro_winkler_length_bound(
    len_a: Column, len_b: Column, tau: float, prefix_weight: float = 0.1
) -> Column:
    """TRUE iff the pair can still reach jaro_winkler >= tau (keep-predicate).

    Exact bound: the Jaro match count m is at most min(l1, l2) and the
    transposition term (m - t)/m is at most 1, so
        jaro <= (min/l1 + min/l2 + 1) / 3.
    jw = jaro + p*w*(1 - jaro) with prefix length p <= 4 is monotone in
    jaro, so  jw <= jaro_ub + 4*w*(1 - jaro_ub)  is exact for ANY
    prefix_weight w the scorer is called with (the reference caps w at 0.25,
    ``Levenshtein.jaro_winkler`` raising above it).  Callers MUST pass the
    same prefix_weight here as to the scorer — a smaller w here than in the
    scorer would silently prune pairs that can still reach tau.  The
    O(l1*l2) jaro kernel is the costliest scorer on long texts (VERDICT
    round 1: 0.8k pairs/s/core at L=2048) — this column predicate prunes
    length-skewed pairs before the Arrow crossing; pass-through pairs are
    still scored exactly."""
    if not 0.0 <= prefix_weight <= 0.25:
        raise ValueError("prefix_weight must be in [0, 0.25]")
    minl = F.least(len_a, len_b)
    both_empty = (len_a == 0) & (len_b == 0)  # jaro('', '') == 1.0
    one_empty = (len_a == 0) | (len_b == 0)   # else empty side -> 0.0
    jaro_ub = (minl / len_a + minl / len_b + 1.0) / 3.0
    jw_ub = jaro_ub + 4.0 * prefix_weight * (1.0 - jaro_ub)
    return both_empty | (~one_empty & (jw_ub >= F.lit(tau)))


def token_set_length_bound(
    sect_len: Column, comb_a_len: Column, comb_b_len: Column, tau: float
) -> Column:
    """TRUE iff the pair can still reach token_set_ratio >= tau
    (keep-predicate), from the three variant string lengths of
    ``normalize.token_set_strings`` — pure column algebra.

    Derivation (exact): token_set_ratio = max of three indel ratios.
    ``sect`` is a PREFIX of both ``comb_a`` and ``comb_b`` by construction,
    so the first two are not merely bounded — they are CLOSED FORMS:
        ratio(sect, comb_a) = 2*ls / (ls + lca)   (indel dist = lca - ls)
    and symmetrically for comb_b.  The third variant gets the standard
    length bound  ratio(comb_a, comb_b) <= 2*min(lca, lcb)/(lca + lcb).
    The max of the three is therefore an exact upper bound on the score —
    a False here can never prune a pair that reaches tau.  Both-empty
    inputs score 1.0 (ratio('','') == 1.0).

    Measured on the sf0.01 blocked-pairs corpus (1,621 pairs; zero recall
    loss verified against the brute kernel at every setting): prunes 2.2%
    at tau=0.8, 13.6% at 0.9, 35.2% at 0.95 — this corpus's blocked pairs
    share vocabulary by construction, so the bound's leverage grows with
    tau and with corpus heterogeneity."""
    ls, lca, lcb = sect_len, comb_a_len, comb_b_len
    v1 = F.when(ls + lca == 0, F.lit(1.0)).otherwise(2.0 * ls / (ls + lca))
    v2 = F.when(ls + lcb == 0, F.lit(1.0)).otherwise(2.0 * ls / (ls + lcb))
    v3 = F.when(lca + lcb == 0, F.lit(1.0)).otherwise(
        2.0 * F.least(lca, lcb) / (lca + lcb)
    )
    return F.greatest(v1, v2, v3) >= F.lit(tau)


#: default histogram alphabet for partial_ratio_char_bound: each listed char
#: is its own (exact) bucket; everything else folds into one overflow bucket.
CHAR_BOUND_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "


def char_histogram(col, alphabet: str = CHAR_BOUND_ALPHABET) -> Column:
    """Per-char count vector (array<int>, len(alphabet)+1) — pure column
    algebra, computed DOC-SIDE before the pair join (rows are ~100x
    narrower than pair rows).  Count of char c = length(s) -
    length(translate(s, c, '')) — one codegen'd translate pass per bucket,
    O(|alphabet| * len) total, vs the O(l1*l2) window DP it guards.  The
    final bucket counts every char not in the alphabet."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.length(c)
    counts = [total - F.length(F.translate(c, ch, "")) for ch in alphabet]
    other = total - sum(counts[1:], counts[0])
    return F.array(*[x.cast("int") for x in counts], other.cast("int"))


def partial_ratio_char_bound(
    hist_a: Column, hist_b: Column, len_a: Column, len_b: Column, tau: float
) -> Column:
    """TRUE iff the pair can still reach partial_ratio >= tau
    (keep-predicate), from per-side char histograms (``char_histogram``).

    Why not a length bound: none exists.  partial_ratio compares the
    needle (shorter side, length m) against same-length windows of the
    haystack, so both DP operands have length m and the indel length bound
    degenerates to 2m/2m = 1 — any needle can sit verbatim inside any
    long-enough haystack.  The exact prunable quantity is character
    content, not length:

        window w ⊆ hay  =>  LCS(needle, w) <= |multiset ∩(needle, w)|
                         <= min(m, C),  C = |multiset ∩(needle, hay)|
        d = 2m - 2*LCS  =>  partial_ratio <= min(m, C) / m.

    Bucketing chars (histogram) only RAISES the intersection estimate
    (sum of per-bucket mins >= sum of per-char mins), so the bound stays
    an upper bound and the predicate stays exact — with the default
    alphabet it is char-exact for lowercase ASCII + digits + space (the
    ``norm_text`` codomain).  Empty needle scores 1.0 -> keep.

    Measured on the sf0.01 blocked-pairs corpus (1,621 pairs; zero recall
    loss verified against the brute kernel): prunes 0.9% at tau=0.8, 12.2%
    at 0.9, 34.3% at 0.95.  Same-block web pages share char distributions
    by construction, so at ER thresholds the bound mostly certifies rather
    than prunes — its leverage is high-tau dedup and heterogeneous pair
    sources; the pruned set's true max score measured 0.52 at tau=0.8
    (comfortable slack, i.e. the bound is sound, not tight-but-lucky)."""
    m = F.least(len_a, len_b)
    cbk = F.aggregate(
        F.zip_with(hist_a, hist_b, lambda x, y: F.least(x, y)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (m == 0) | (F.least(m, cbk) >= F.lit(tau) * m)


def osa_length_bound(len_a: Column, len_b: Column, cutoff: int) -> Column:
    """TRUE iff the pair can still have OSA distance <= cutoff.  Exact:
    substitutions and transpositions preserve the length difference, so
    osa >= |l1 - l2| — the same bound as plain Levenshtein."""
    return F.abs(len_a - len_b) <= F.lit(cutoff)


def affine_gap_length_bound(
    len_a: Column, len_b: Column, cutoff: int,
    gap_open: int = 2, gap_extend: int = 1,
) -> Column:
    """TRUE iff the pair can still have affine-gap cost <= cutoff.  Exact:
    a length difference of d > 0 requires at least d net indels, cheapest
    as ONE run costing gap_open + gap_extend*d; equal lengths can cost 0."""
    diff = F.abs(len_a - len_b)
    lb = F.when(diff == 0, F.lit(0)).otherwise(gap_open + gap_extend * diff)
    return lb <= F.lit(cutoff)
