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

These are exact bounds — pruned pairs can never pass the final
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
