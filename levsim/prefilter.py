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
